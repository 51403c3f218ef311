package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.app.{ClickhubCli, HttpApp}
import graft.sources.{GitCliFetcher, GitRemoteProbe}
import graft.sql.GraftSql

/** One finished operation: a query, a read, a repo import or an arrival's import. */
final case class Op(name: String, ok: Boolean, ms: Double, detail: Map[String, Any] = Map.empty)

/** Runs one workload of the benchmark in this JVM and writes `result.json`.
  *
  * Arguments: `--plan <plan.json> --out <result.json>`. The plan, written by
  * `run.py`, holds the seeded inputs (query order, repo names, arrival
  * schedule) and the run settings (`seconds`, `trace`).
  */
object Main {
  val mapper = new ObjectMapper()
  val Workers = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val plan = mapper.readValue(Paths.get(a("plan")).toFile, classOf[java.util.Map[String, Object]])
      .asScala.toMap
    val work = plan("work").toString
    val ctx = new Ctx(plan, work)
    val out = ctx.run()
    Files.writeString(Paths.get(a("out")), mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(Json.toJava(out)))
  }
}

/** Conversion of nested Scala values to the Java shapes Jackson writes. */
object Json {
  def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }
  def strings(v: Object): Seq[String] = v.asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSeq
  def maps(v: Object): Seq[Map[String, Object]] =
    v.asInstanceOf[java.util.List[java.util.Map[String, Object]]].asScala.map(_.asScala.toMap).toSeq
}

object Stats {
  /** Linear-interpolated percentile, as numpy's default. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

final class Ctx(plan: Map[String, Object], work: String) {
  private def p(k: String): String = plan(k).toString
  val workload: String = p("workload")
  val seconds: Double = p("seconds").toDouble
  val traceOn: Boolean = p("trace") == "1"
  val seed: Long = p("seed").toLong
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val master = "local[4]"
  val SetupRounds = 3
  private var round = 0

  private def newSession(): SparkSession =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()

  /** One program set-up: a fresh session and the workload's environment in
    * fresh directories. Returns the session, the env and the seconds taken.
    */
  private def setUpOnce(): (SparkSession, Env, Double) = {
    round += 1
    val t0 = System.nanoTime()
    val spark = newSession()
    spark.sparkContext.setLogLevel("ERROR")
    val env = new Env(spark, s"$work/r$round")
    workload match {
      case "query_suite" => GraftSql.registerViews(spark, p("sf_dir"))
      case _ =>
        env.cli
        env.app
    }
    (spark, env, (System.nanoTime() - t0) / 1e9)
  }

  /** Cost of tracing within this run: the reads a traced run left
    * untraced against the traced ones, as the sum over read names of each
    * name's median latency, minus one.
    */
  private def traceOverhead(reads: Seq[Op]): Double = {
    val byName = reads.filter(_.ok).groupBy(_.name).values
      .map(_.partition(_.detail.get("traced").contains(true)))
      .filter { case (on, off) => on.nonEmpty && off.nonEmpty }
    def total(side: ((Seq[Op], Seq[Op])) => Seq[Op]) = byName.map(p => Stats.median(side(p).map(_.ms))).sum
    total(_._1) / total(_._2) - 1.0
  }

  final class Env(val spark: SparkSession, dir: String) {
    lazy val cli: ClickhubCli.Env = ClickhubCli.env(s"$dir/warehouse", s"$dir/queue/work_queue")
    lazy val fetcher = new GitCliFetcher(s"$dir/cache", r => s"${p("upstream")}/$r")
    /** The HTTP app on an ephemeral port, probing the local remotes. */
    lazy val app: HttpApp = {
      val a = new HttpApp(cli, 0, GitRemoteProbe.lsRemote(r => s"${p("upstream")}/$r"))
      a.start()
      a
    }
    def warehouse: String = s"$dir/warehouse"
  }

  def run(): Map[String, Any] = {
    // Set up several times and keep the last: set-up time is the median.
    val rounds = (1 to SetupRounds).map { i =>
      val r = setUpOnce()
      if (i < SetupRounds) {
        if (workload == "repo_refresh") r._2.app.stop()
        r._1.stop()
      }
      r
    }
    val setupS = Stats.median(rounds.map(_._3))
    val (spark, env, _) = rounds.last
    val tracer = new Tracer(spark, traceOn)
    val jvm = new JvmProbe
    val res = workload match {
      case "query_suite" =>
        new QuerySuite(this, spark, tracer, jvm, p("sf_dir"), Json.strings(plan("queries")), p("verify")).run()
      case "repo_refresh" => new RepoWork(this, env, tracer, jvm, plan).runRefresh()
      case other => sys.error(s"unknown workload $other")
    }
    tracer.drain()
    val ops = res.ops
    val readsOk = res.reads.filter(_.ok)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_ms" -> res.opMs,
      "op_p75_ms" -> Stats.pct(res.latencies, 75),
      "reads_per_s" -> readsOk.size / (readsOk.map(_.ms).sum / 1000))
    val layers =
      if (traceOn) Layers.compute(tracer, res, jvm) + ("trace.overhead_frac" -> traceOverhead(res.reads))
      else Map.empty[String, Double]
    if (workload == "repo_refresh") env.app.stop()
    val conf = spark.conf.getAll
    spark.stop()
    Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traceOn,
      "nproc" -> cores, "master" -> master,
      "spark_conf" -> conf,
      "setup_rounds_s" -> rounds.map(_._3),
      "window_s" -> res.windowS,
      "peak_rss_mb" -> JvmProbe.peakRssMb(),
      "e2e" -> e2e,
      "extra" -> res.extra,
      "layers" -> layers,
      "ops" -> ops.map(o => Map("name" -> o.name, "ok" -> o.ok, "ms" -> o.ms) ++ o.detail),
      "imports" -> res.imports.map(o => Map("repo" -> o.name, "ms" -> o.ms) ++ o.detail),
      "failed" -> ops.filterNot(_.ok).map(_.name).distinct,
      "checks" -> res.checks,
      "spans" -> (if (traceOn) Layers.spanTable(tracer) else Seq.empty),
      "unattributed_jobs" -> tracer.unattributed.asScala.toMap)
  }
}

/** What a workload hands back: its ops, the measured window, its typical
  * op latency (`op_ms`), the latencies `op_p75_ms` is taken over, the
  * reads `reads_per_s` counts, the output checks, each worker thread's
  * busy time and the repos imported in the window.
  */
final case class WorkResult(ops: Seq[Op], windowS: Double, opMs: Double, latencies: Seq[Double],
                            reads: Seq[Op], extra: Map[String, Any], checks: Map[String, Any],
                            busyS: Map[String, Double] = Map.empty, imports: Seq[Op] = Nil)

/** Heap and GC figures over the measured window, and the JVM's peak RSS. */
final class JvmProbe {
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L
  reset()
  /** Start the window over: GC time and heap peak count from here. */
  def reset(): Unit = {
    gc0 = gcs.map(_.getCollectionTime).sum
    pools.foreach(_.resetPeakUsage())
  }
  def gcS: Double = (gcs.map(_.getCollectionTime).sum - gc0) / 1000.0
  def heapPeakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
object JvmProbe {
  /** VmHWM of this process: the most resident memory it ever held. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
