package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.operators._

/** `query_suite`: a closed loop with one client over the query mix.
  *
  * A warm-up pass runs every query once; its answers are the ones checked
  * against the oracle. Further warm-up passes run for a quarter of the
  * run's seconds, as a long-lived driver would have run them: the JIT is
  * still compiling after one pass, and pass times fall for tens of seconds. The
  * measured window then runs passes, each every query of the mix once in a seeded
  * order, until the run's seconds are spent (at least one whole pass). A
  * query's result is collected to the driver in full, so every output
  * column and every row is computed, as a user reading the answer needs;
  * each answer must equal the warm-up answer row for row. A traced run
  * leaves every second pass untraced, to time the tracer's cost.
  */
final class QuerySuite(ctx: Ctx, spark: SparkSession, tracer: Tracer, jvm: JvmProbe, sfDir: String,
                       mix: Seq[String], verifyDir: String) {

  /** The 12 query families of `SparkEntry`, by the name the metrics use. */
  val modules: Seq[(String, QueryModule)] = Seq(
    "RefOps" -> RefOps, "Analytics" -> Analytics, "ChAggs" -> ChAggs,
    "TemporalJoins" -> TemporalJoins, "Dedup" -> Dedup, "TextAnalysis" -> TextAnalysis,
    "Similarity" -> Similarity, "Multimodal" -> Multimodal, "GhEventsOps" -> GhEventsOps,
    "CatalogOps" -> CatalogOps, "Dictionaries" -> Dictionaries, "FuncDepth" -> FuncDepth)
  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, q) => q.queries.keys.map(_ -> m) }.toMap
  private val queries = SparkEntry.queries

  /** Run one query to a fully collected answer; the time includes building it. */
  private def runQuery(name: String): (Double, Either[Throwable, (StructType, Array[Row])]) = {
    val q0 = System.nanoTime()
    val got =
      try Right(tracer.span("operators", name) {
        val df = queries(name)(spark, sfDir)
        (df.schema, tracer.span("exec", "collect")(df.collect()))
      })
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - q0) / 1e6
    // same inter-query hygiene as graft.Bench: nothing a query pinned may
    // donate warm blocks or memory pressure to the next one
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    (ms, got)
  }

  private def errorOf(e: Throwable) =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  def run(): WorkResult = {
    val unknown = mix.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries in the mix: $unknown")
    val w0 = System.nanoTime()
    val answers = mix.map(n => n -> runQuery(n)._2).toMap
    val warmEnd = System.nanoTime() + (ctx.seconds / 4 * 1e9).toLong
    while (System.nanoTime() < warmEnd) mix.foreach(runQuery)
    val warmupS = (System.nanoTime() - w0) / 1e9
    tracer.reset()
    jvm.reset()

    val ops = mutable.ArrayBuffer.empty[Op]
    val passS = mutable.ArrayBuffer.empty[Double]
    val rng = new scala.util.Random(ctx.seed)
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var pass = 0
    def timeLeft = pass == 0 || System.nanoTime() < deadline
    while (timeLeft) {
      val p0 = System.nanoTime()
      val traced = tracer.enabled && pass % 2 == 0
      rng.shuffle(mix).iterator.takeWhile(_ => timeLeft).foreach { name =>
        val (ms, got) = if (traced || !tracer.enabled) runQuery(name) else tracer.untraced(runQuery(name))
        val base = Map("module" -> moduleOf(name), "pass" -> pass, "traced" -> traced)
        ops += ((got, answers(name)) match {
          case (Right((_, rows)), Right((_, first))) if rows.sameElements(first) =>
            Op(name, ok = true, ms, base ++ Map("rows" -> rows.length))
          case (Right(_), _) => Op(name, ok = false, ms, base ++ Map("error" -> "answer differs from the warm-up answer"))
          case (Left(e), _) => Op(name, ok = false, ms, base ++ Map("error" -> errorOf(e)))
        })
      }
      passS += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    // warm-up answers go to Parquet for the oracle check, outside the window
    answers.foreach {
      case (name, Right((schema, rows))) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$verifyDir/$name")
      case _ => ()
    }
    val okMs = ops.filter(_.ok).map(_.ms).toSeq
    val medianMs = ops.filter(_.ok).groupBy(_.name).map { case (n, os) => n -> Stats.median(os.map(_.ms).toSeq) }
    val perQuery = ops.groupBy(_.name).map { case (n, os) =>
      n -> Map("module" -> moduleOf(n), "samples" -> os.size, "failed" -> os.count(!_.ok),
        "median_ms" -> medianMs.get(n))
    }
    val warmFailed = answers.collect { case (n, Left(e)) => Op(n, ok = false, 0.0, Map("error" -> errorOf(e))) }
    // op_ms: one pass of the mix at each query's median, over the queries
    // in it; every query weighs in, not just the one or two in the middle
    WorkResult(ops.toSeq ++ warmFailed, windowS,
      opMs = medianMs.values.sum / math.max(medianMs.size, 1), latencies = okMs, reads = ops.toSeq,
      extra = Map(
        "warmup_s" -> warmupS,
        "passes" -> passS.size,
        "pass_s" -> passS.toSeq,
        "suite_s" -> medianMs.values.sum / 1000.0,
        "query_p95_ms" -> Stats.pct(okMs, 95),
        "samples" -> ops.size,
        "per_query" -> perQuery),
      checks = Map(
        "verified_queries" -> answers.collect { case (n, Right(_)) => n }.toSeq,
        "oracle_sql" -> mix.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap),
      busyS = Map(Thread.currentThread().getName ->
        ops.filter(_.detail.get("traced").contains(true)).map(_.ms).sum / 1000))
  }
}
