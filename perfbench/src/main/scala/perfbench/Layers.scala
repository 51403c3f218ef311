package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics from the traced run's spans and counters. Every name
  * is printed for every workload; a layer the workload does not drive
  * reads 0.
  */
object Layers {
  val Modules: Seq[String] = Seq("RefOps", "Analytics", "ChAggs", "TemporalJoins", "Dedup",
    "TextAnalysis", "Similarity", "Multimodal", "GhEventsOps", "CatalogOps", "Dictionaries", "FuncDepth")

  /** Union length of possibly overlapping intervals, in ns. */
  private def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  def compute(tr: Tracer, res: WorkResult, jvm: JvmProbe): Map[String, Double] = {
    val spans = tr.spans.asScala.toSeq
    val self = tr.selfTimes(spans)
    val children = spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Span] = children.getOrElse(id, Nil).flatMap(c => c +: subtree(c.id))
    def spark(ss: Seq[Span]): Seq[SparkCounters] = ss.flatMap(s => tr.sparkFor(s.id))
    def sumC(ss: Seq[Span])(f: SparkCounters => Long): Double = spark(ss).map(f).sum.toDouble
    def named(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name)
    def ms(ss: Seq[Span]) = ss.map(_.durS * 1000)
    def p50(ss: Seq[Span]) = zero(Stats.pct(ms(ss), 50))
    def p90(ss: Seq[Span]) = zero(Stats.pct(ms(ss), 90))
    def zero(d: Double) = if (d.isNaN) 0.0 else d
    // a span's own count of `k`: its reading minus its children's
    def selfCnt(s: Span, k: String) =
      s.counters.getOrElse(k, 0.0) - children.getOrElse(s.id, Nil).map(_.counters.getOrElse(k, 0.0)).sum
    def cnt(layers: Set[String], k: String) = spans.filter(s => layers(s.layer)).map(selfCnt(_, k)).sum
    // layers whose driver-thread file I/O is catalog metadata: manifests,
    // footers, listings, sidecars
    val catalogIo = Set("ingest", "catalog", "sql", "operators", "exec")
    def withSub(ss: Seq[Span]) = ss.flatMap(s => s +: subtree(s.id))

    val claims = named("queue", "claim")
    val fetches = named("fetch", "fetch")
    val imports = named("ingest", "importRepo")
    val importTree = withSub(imports)
    val addNew = named("app", "add_new_repo")
    val catalogReads = named("catalog", "read")
    val chSql = named("sql", "chSql")
    val queryTops = spans.filter(s => s.layer == "operators" && s.parent == 0)
    def importSum(key: String, pick: Map[String, Long] => Long) =
      res.imports.map(o => pick(o.detail(key).asInstanceOf[Map[String, Long]])).sum.toDouble
    val tsvRows = importSum("tsv_rows", _.values.sum)
    val landed = importSum("rows", _.values.sum)
    val nRepos = imports.size.max(1).toDouble
    val extra = res.extra
    def ex(k: String): Double = extra.get(k).map(_.toString.toDouble).getOrElse(0.0)
    val storage = extra.get("storage").map(_.asInstanceOf[Map[String, Any]])
    val filesLive = storage.map(_("data_files_by_table").asInstanceOf[Map[String, Int]]).getOrElse(Map.empty)
    val hwmMs = spark(importTree).map(_.jobMsBySite("TsvIngest.scala")).sum.toDouble

    // driver-only time of each top-level query or read: wall minus the
    // union of the job intervals its subtree ran
    val driverOnly = (queryTops ++ named("bench", "read")).map { s =>
      val iv = spark(withSub(Seq(s))).flatMap(_.jobIntervals)
      (s.end - s.start - unionNs(iv)) / 1e9
    }.sum

    // span self times per thread against that thread's busy wall time
    val gap = res.busyS.map { case (th, busy) =>
      val sum = spans.filter(_.thread == th).map(s => self(s.id)).sum
      math.abs(sum - busy) / math.max(busy, 1e-9)
    }

    val layerSelf = spans.groupBy(_.layer).map { case (l, ss) => s"self_s.$l" -> ss.map(s => self(s.id)).sum }

    Map(
      "app.add_new_repo_p50_ms" -> p50(addNew),
      "app.add_new_repo_p90_ms" -> p90(addNew),
      "app.dup_probe_jobs" -> tr.appJobs.toDouble,
      "queue.schedule_p50_ms" -> p50(named("queue", "schedule")),
      "queue.schedule_p90_ms" -> p90(named("queue", "schedule")),
      "queue.claim_p50_ms" -> p50(claims),
      "queue.claim_p90_ms" -> p90(claims),
      "queue.complete_p50_ms" -> p50(named("queue", "complete")),
      "queue.complete_p90_ms" -> p90(named("queue", "complete")),
      "queue.claim_win_ratio" -> ex("claim_wins") / math.max(ex("claim_tries"), 1.0),
      "queue.backlog_max" -> ex("backlog_max"),
      "fetch.p50_ms" -> p50(fetches),
      "fetch.p90_ms" -> p90(fetches),
      "fetch.busy_s" -> fetches.map(_.durS).sum,
      "fetch.tsv_bytes" -> ex("tsv_bytes"),
      "fetch.commits_replayed" -> importSum("tsv_rows", _.getOrElse("commits", 0L)),
      "ingest.hwm_ms" -> hwmMs / nRepos,
      "ingest.busy_s" -> imports.map(_.durS).sum,
      "ingest.rows_parsed" -> tsvRows,
      "ingest.rows_landed" -> landed,
      "ingest.landed_per_parsed" -> (if (tsvRows > 0) landed / tsvRows else 0.0),
      "ingest.jobs_per_repo" -> (if (imports.isEmpty) 0.0 else sumC(importTree)(_.jobs) / nRepos),
      "ingest.tasks_per_repo" -> (if (imports.isEmpty) 0.0 else sumC(importTree)(_.tasks) / nRepos),
      "catalog.bytes_written" -> storage.map(_("bytes").toString.toDouble).getOrElse(0.0),
      "catalog.files_written" -> storage.map(_("files").toString.toDouble).getOrElse(0.0),
      "catalog.fs_read_ops" -> cnt(catalogIo, "read_ops"),
      "catalog.fs_write_ops" -> cnt(catalogIo, "write_ops"),
      "queue.fs_ops" -> (cnt(Set("queue"), "read_ops") + cnt(Set("queue"), "write_ops")),
      "catalog.read_p50_ms" -> p50(catalogReads),
      "sql.rewrite_p50_ms" -> zero(Stats.pct(chSql.map(s => s.durS * 1000 -
        tr.sparkFor(s.id).map(_.analysisMs.toDouble).getOrElse(0.0)), 50)),
      "plan.analysis_s" -> sumC(spans)(_.analysisMs) / 1000,
      "plan.optimization_s" -> sumC(spans)(_.optimizationMs) / 1000,
      "plan.planning_s" -> sumC(spans)(_.planningMs) / 1000,
      "exec.jobs" -> sumC(spans)(_.jobs),
      "exec.stages" -> sumC(spans)(_.stages),
      "exec.tasks" -> sumC(spans)(_.tasks),
      "exec.driver_only_s" -> driverOnly,
      "exec.executor_run_s" -> sumC(spans)(_.runMs) / 1000,
      "exec.executor_cpu_s" -> sumC(spans)(_.cpuNs) / 1e9,
      "exec.shuffle_read_bytes" -> sumC(spans)(_.shuffleRead),
      "exec.shuffle_write_bytes" -> sumC(spans)(_.shuffleWrite),
      "exec.spill_bytes" -> sumC(spans)(_.spill),
      "jvm.gc_s" -> jvm.gcS,
      "jvm.heap_peak_mb" -> jvm.heapPeakMb,
      "jvm.peak_rss_mb" -> JvmProbe.peakRssMb(),
      "trace.span_count" -> spans.size.toDouble,
      "trace.unattributed_jobs" -> tr.unattributed.values.asScala.map(_.toDouble).sum,
      "trace.self_vs_busy_gap_max" -> (if (gap.isEmpty) 0.0 else gap.max)
    ) ++ Seq("commits", "file_changes", "line_changes").map { t =>
      // per import, the wall time of the SQL executions whose plan reads
      // or writes table t: its watermark scan, TSV read and append
      val perImport = imports.map(s => sumC(s +: subtree(s.id))(_.execMsByTable(t)))
      s"ingest.table_p50_ms.$t" -> zero(Stats.pct(perImport, 50))
    } ++
      Seq("commits", "file_changes", "line_changes").map(t =>
        s"catalog.files_live.$t" -> filesLive.getOrElse(t, 0).toDouble) ++
      Modules.flatMap { m =>
        val qs = queryTops.filter(s => res.ops.exists(o => o.name == s.name && o.detail.get("module").contains(m)))
        Seq(s"operators.${m}_s" -> qs.map(_.durS).sum, s"operators.${m}_jobs" -> sumC(withSub(qs))(_.jobs))
      } ++ Seq("bench", "app", "queue", "fetch", "ingest", "catalog", "sql", "operators", "exec")
        .map(l => s"self_s.$l" -> layerSelf.getOrElse(s"self_s.$l", 0.0))
  }

  /** Per-span-name table for the result file: count, total and self seconds. */
  def spanTable(tr: Tracer): Seq[Map[String, Any]] = {
    val spans = tr.spans.asScala.toSeq
    val self = tr.selfTimes(spans)
    spans.groupBy(s => (s.layer, s.name)).toSeq.sortBy(_._1).map { case ((l, n), ss) =>
      Map("layer" -> l, "name" -> n, "count" -> ss.size, "total_s" -> ss.map(_.durS).sum,
        "self_s" -> ss.map(s => self(s.id)).sum,
        "jobs" -> ss.flatMap(s => tr.sparkFor(s.id)).map(_.jobs).sum)
    }
  }
}
