package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer. `parent` is the enclosing span on the same
  * thread (0 at top level); `counters` holds what the span counted itself
  * and in its children.
  */
final case class Span(id: Long, parent: Long, thread: String, layer: String,
                      name: String, start: Long, end: Long,
                      counters: Map[String, Double]) {
  def durS: Double = (end - start) / 1e9
}

/** Spark work attributed to one span: every job the span's thread starts
  * carries the span's id as its job group.
  */
final class SparkCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // wall ns
  val jobMsBySite = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Wall ms of root SQL executions by the git fact table they touch. */
  val execMsByTable = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  /** Counter group of the jobs the HTTP app's handler starts. */
  val AppGroup = "app-http"
  /** Job group of work run inside [[Tracer.untraced]]: never counted. */
  val MutedGroup = "untraced"
  /** A git fact table named in a plan: its TSV or its warehouse directory. */
  private val TablePath = "/(commits|file_changes|line_changes)[./]".r
}

/** In-memory span recorder plus the Spark counters the traced run
  * attributes to spans. With `enabled = false` every call is a plain
  * pass-through and no listener is registered.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val muted = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  private val byGroup = new ConcurrentHashMap[String, SparkCounters]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  // root execution id -> (fact table its plan touches, start ms)
  private val execTable = new ConcurrentHashMap[Long, (String, Long)]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long, String)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  /** Jobs no span or known thread started, by call site. */
  val unattributed = new ConcurrentHashMap[String, Int]()

  private def counters(group: String): SparkCounters =
    byGroup.computeIfAbsent(group, _ => new SparkCounters)

  /** This thread's read and write syscall counts, from the kernel.
    * Hadoop's statistics do not count operations on the local file system.
    */
  private def threadIo(): (Long, Long) = {
    var r, w = 0L
    Files.readAllLines(Paths.get("/proc/thread-self/io")).forEach { l =>
      if (l.startsWith("syscr:")) r = l.substring(6).trim.toLong
      else if (l.startsWith("syscw:")) w = l.substring(6).trim.toLong
    }
    (r, w)
  }
  // syscalls one threadIo() call itself adds between two readings
  private val ioProbeCost: (Long, Long) = {
    val a = threadIo(); val b = threadIo()
    (b._1 - a._1, b._2 - a._2)
  }

  /** Run `f` as a span of `layer`. */
  def span[T](layer: String, name: String)(f: => T): T = {
    if (!enabled || muted.get) return f
    val id = ids.incrementAndGet()
    val parent: Long = current.get()
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty(GroupKey)
    current.set(id)
    sc.setLocalProperty(GroupKey, s"span-$id")
    val (r0, w0) = threadIo()
    val start = System.nanoTime()
    try f
    finally {
      val end = System.nanoTime()
      val (r1, w1) = threadIo()
      current.set(parent)
      sc.setLocalProperty(GroupKey, prevGroup)
      spans.add(Span(id, parent, Thread.currentThread().getName, layer, name, start, end,
        Map("read_ops" -> (r1 - r0 - ioProbeCost._1).toDouble,
          "write_ops" -> (w1 - w0 - ioProbeCost._2).toDouble)))
    }
  }

  /** Run `f` on this thread with no spans and no Spark counters, so that
    * a traced run can time the same work untraced (`trace.overhead_frac`).
    */
  def untraced[T](f: => T): T = {
    if (!enabled) return f
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty(GroupKey)
    muted.set(true)
    sc.setLocalProperty(GroupKey, MutedGroup)
    try f
    finally {
      muted.set(false)
      sc.setLocalProperty(GroupKey, prevGroup)
    }
  }

  def sparkFor(spanId: Long): Option[SparkCounters] =
    Option(byGroup.get(s"span-$spanId"))

  /** Jobs the HTTP app's handler started (its duplicate-repo probe). */
  def appJobs: Long = Option(byGroup.get(AppGroup)).map(_.jobs).getOrElse(0L)

  // `qe` is package-private in Scala but a public method in bytecode
  private val qeMethod = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")
  private def queryExecution(e: SparkListenerSQLExecutionEnd) =
    Option(qeMethod.invoke(e).asInstanceOf[org.apache.spark.sql.execution.QueryExecution])

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the result stage is named after the call site of the action
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val props = Option(e.properties)
      val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      // Broadcast jobs run on a pool thread without the job group, but
      // under the SQL execution that started them; the HTTP app's handler
      // thread has no job group either, and its jobs are known by call site.
      val g = props.flatMap(p => Option(p.getProperty(GroupKey)))
        .orElse(execId.flatMap(x => Option(execGroup.get(x))))
        .orElse(if (site.contains("HttpApp.scala")) Some(AppGroup) else None)
        .orNull
      if (g == null) unattributed.merge(site, 1, (a, b) => a + b)
      else if (g != MutedGroup) {
        execId.foreach(x => execGroup.putIfAbsent(x, g))
        jobStart.put(e.jobId, (g, System.nanoTime(), site))
        e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
        val c = counters(g)
        c.synchronized {
          c.jobs += 1
          c.stages += e.stageInfos.size
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (g, t0, site) =>
        val t1 = System.nanoTime()
        val c = counters(g)
        c.synchronized {
          c.jobIntervals += (t0 -> t1)
          val file = site.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
          c.jobMsBySite(file) += (t1 - t0) / 1000000
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val m = e.taskMetrics
        val c = counters(g)
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    // Plan phases come from the QueryExecution the execution-end event
    // carries. A QueryExecutionListener sees the same object, but there its
    // id is not the execution id the jobs carry, so it cannot be attributed.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.putIfAbsent(s.executionId, g))
        if (s.rootExecutionId.forall(_ == s.executionId))
          TablePath.findFirstMatchIn(s.physicalPlanDescription)
            .foreach(m => execTable.put(s.executionId, (m.group(1), s.time)))
      case end: SparkListenerSQLExecutionEnd =>
        val table = Option(execTable.remove(end.executionId))
        for (g <- Option(execGroup.remove(end.executionId)) if g != MutedGroup) {
          val phases = queryExecution(end).map(_.tracker.phases)
          def ms(k: String) = phases.flatMap(_.get(k)).map(_.durationMs).getOrElse(0L)
          val c = counters(g)
          c.synchronized {
            c.analysisMs += ms("analysis")
            c.optimizationMs += ms("optimization")
            c.planningMs += ms("planning")
            table.foreach { case (t, t0) => c.execMsByTable(t) += end.time - t0 }
          }
        }
      case _ => ()
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Forget every span and counter so far: the measured window starts. */
  def reset(): Unit = {
    drain()
    spans.clear()
    unattributed.clear()
    byGroup.keySet.asScala.filterNot(_ == AppGroup).foreach(byGroup.remove)
  }

  /** Wait until the listener bus has delivered the events of every job
    * started so far, so counters are complete before they are read.
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (!jobStart.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(500)
  }

  /** Self time of every span: its duration minus the time its children cover. */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val childSum = all.groupBy(_.parent).view.mapValues(_.map(_.durS).sum).toMap
    all.map(s => s.id -> (s.durS - childSum.getOrElse(s.id, 0.0))).toMap
  }
}
