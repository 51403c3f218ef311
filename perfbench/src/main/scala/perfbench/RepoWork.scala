package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.app.ClickhubCli
import graft.sql.GraftSql

/** The ingest workload, `repo_refresh`. Its workers run the product path
  * the reference's workers run: claim → `GitCliFetcher.fetch` (clone or
  * pull, then the `git log -p` replay that writes three TSVs) →
  * `GitImporter.importRepo` → complete. Remotes are local directories made
  * by `gen.py`.
  */
final class RepoWork(ctx: Ctx, env: Ctx#Env, tracer: Tracer, jvm: JvmProbe, plan: Map[String, Object]) {
  private val spark = env.spark
  private val cli: ClickhubCli.Env = env.cli
  private val upstream = plan("upstream").toString
  private val tables = Seq("commits", "file_changes", "line_changes")

  /** One imported repo. `startNs` is before the claim, `committedNs` after
    * `importRepo` returns, `endNs` after the queue entry is completed.
    */
  final case class Done(repo: String, worker: String, startNs: Long, claimNs: Long,
                        committedNs: Long, endNs: Long, rows: Map[String, Long],
                        tsvBytes: Long, tsvRows: Map[String, Long])

  private val done = new ConcurrentLinkedQueue[Done]()
  private val claimTries = new AtomicInteger(0)
  private val claimWins = new AtomicInteger(0)
  private val errors = new ConcurrentLinkedQueue[String]()
  private val busyNs = new ConcurrentHashMap[String, java.lang.Long]()
  // TSV bytes of every import in the run, set-up imports included
  private val allTsvBytes = new java.util.concurrent.atomic.AtomicLong(0)

  private def lineCount(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L else {
      val s = Files.lines(p)
      try s.count() finally s.close()
    }

  /** Claim → fetch → import → complete for one repo, the steps of
    * `GitImporter.workOnce`, each its own span. Returns false when the
    * queue had nothing to claim.
    */
  private def workOnce(worker: String, onDone: Done => Unit): Boolean = {
    val t0 = System.nanoTime()
    val claimed = tracer.span("bench", "worker.op") {
      claimTries.incrementAndGet()
      val job = tracer.span("queue", "claim")(cli.queue.claim(worker))
      job.foreach { j =>
        claimWins.incrementAndGet()
        val repo = j.repoName
        val claimNs = System.nanoTime()
        try {
          val dir = tracer.span("fetch", "fetch")(env.fetcher.fetch(repo))
          val tsv = tables.map(t => Paths.get(dir, s"$t.tsv"))
          val tsvBytes = tsv.filter(Files.exists(_)).map(Files.size(_)).sum
          allTsvBytes.addAndGet(tsvBytes)
          // parsed-row counts read the TSVs once more; only the traced run pays for it
          val tsvRows =
            if (tracer.enabled) tables.zip(tsv.map(lineCount)).toMap else Map.empty[String, Long]
          val rows = tracer.span("ingest", "importRepo")(cli.importer.importRepo(repo, dir))
          val committed = System.nanoTime()
          tracer.span("queue", "complete")(cli.queue.complete(repo))
          val d = Done(repo, worker, t0, claimNs, committed, System.nanoTime(), rows, tsvBytes, tsvRows)
          done.add(d)
          onDone(d)
        } catch {
          case e: Throwable =>
            errors.add(s"$repo: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
            cli.queue.complete(repo)
        }
      }
      job.isDefined
    }
    busyNs.merge(worker, System.nanoTime() - t0, (x, y) => x + y)
    claimed
  }

  /** Start the worker threads; each polls until `keepGoing` turns false,
    * finishing the repo it holds. Each imported repo goes to `onDone`.
    */
  private def workers(keepGoing: () => Boolean, onDone: Done => Unit): Seq[Thread] =
    (0 until Main.Workers).map { i =>
      val id = s"worker-$i"
      val t = new Thread(() =>
        while (keepGoing()) if (!workOnce(id, onDone)) Thread.sleep(5), id)
      t.start()
      t
    }

  /** Rows per repo and table as a reader of the catalog sees them. */
  private def landedCounts(): Map[String, Map[String, Long]] =
    tables.map { t =>
      t -> (if (cli.importer.catalog.exists(t))
        cli.importer.catalog.read(t).groupBy(col("repo_name")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      else Map.empty[String, Long])
    }.toMap

  private def storage(): Map[String, Any] = {
    val root = Paths.get(env.warehouse)
    val files = if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    } else Seq.empty
    Map(
      "bytes" -> files.map(Files.size(_)).sum,
      "files" -> files.size,
      "data_files_by_table" -> tables.map { t =>
        t -> files.count(f => f.startsWith(root.resolve(t)) && f.toString.endsWith(".parquet"))
      }.toMap)
  }

  private def doneOps(ds: Seq[Done]): Seq[Op] = ds.map { d =>
    Op(d.repo, ok = true, (d.endNs - d.startNs) / 1e6,
      Map("worker" -> d.worker, "rows" -> d.rows, "tsv_bytes" -> d.tsvBytes, "tsv_rows" -> d.tsvRows))
  }

  /** Import `repos` to completion, outside any measured window; returns
    * the seconds taken and the errors seen, and forgets both.
    */
  private def drain(repos: Seq[String]): (Double, Seq[String]) = {
    val t0 = System.nanoTime()
    ClickhubCli.bulkSchedule(cli, repos)
    workers(() => done.size + errors.size < repos.size, _ => ()).foreach(_.join())
    val errs = errors.asScala.toSeq
    done.clear(); errors.clear(); busyNs.clear()
    claimTries.set(0); claimWins.set(0)
    tracer.reset()
    jvm.reset()
    ((System.nanoTime() - t0) / 1e9, errs)
  }

  /** One due arrival: a new repo sent to `/add_new_repo`, or an upstream
    * advance of a repo already imported.
    */
  final case class Arrival(dueS: Double, kind: String, repo: String, sha: String)

  /** `repo_refresh`: after a base import, an open-loop generator sends
    * arrivals at their due times while two workers import and one analyst
    * runs a fixed ClickHouse-SQL mix over the live fact tables.
    */
  def runRefresh(): WorkResult = {
    val app = env.app
    val base = Json.strings(plan("base"))
    // base import, set-up of the workload; not in the measured window.
    // A second import of the unchanged base set is the warm-up: import
    // times keep falling over a worker's first few imports.
    val (baseImportS, baseErrors) = drain(base)
    val (warmS, warmErrors) = drain(base)

    val arrivals = Json.maps(plan("arrivals")).map(m =>
      Arrival(m("due_s").toString.toDouble, m("kind").toString, m("repo").toString,
        Option(m.getOrElse("sha", null)).map(_.toString).orNull))
    val analystSql = Json.strings(plan("analyst_sql"))
    val sfDir = plan("sf_dir").toString
    val lagBoundMs = plan("lag_bound_ms").toString.toDouble
    def read(k: Int): Unit = tracer.span("bench", "read") {
      tracer.span("catalog", "read") {
        tables.foreach(t => cli.importer.catalog.read(t).createOrReplaceTempView(t))
      }
      val df = tracer.span("sql", "chSql")(GraftSql.chSql(spark, sfDir, analystSql(k % analystSql.size)))
      tracer.span("exec", "collect")(df.collect())
    }
    // warm-up: every analyst query once, as a long-lived analyst has run them
    analystSql.indices.foreach(k => tracer.untraced(read(k)))
    jvm.reset()

    // arrival index -> (due ns, done ns); outstanding arrivals per repo
    val t0 = System.nanoTime()
    val dueNs = arrivals.map(a => t0 + (a.dueS * 1e9).toLong)
    val outstanding = new ConcurrentHashMap[String, java.util.List[Integer]]()
    val satisfied = new ConcurrentHashMap[Integer, java.lang.Long]()
    val genLagMs = mutable.ArrayBuffer.empty[Double]
    val sendMs = mutable.ArrayBuffer.empty[Double]
    val responses = mutable.ArrayBuffer.empty[String]
    val backlog = new AtomicInteger(0)
    var backlogMax = 0
    val genDone = new AtomicBoolean(false)

    val onDone: Done => Unit = d => {
      val waiting = outstanding.get(d.repo)
      if (waiting != null) waiting.synchronized {
        val it = waiting.iterator()
        while (it.hasNext) {
          val i = it.next()
          if (dueNs(i) <= d.claimNs) { satisfied.put(i, d.committedNs); backlog.decrementAndGet(); it.remove() }
        }
      }
    }
    val drainDeadline = t0 + ((ctx.seconds + plan("drain_s").toString.toDouble) * 1e9).toLong
    def importing = !(genDone.get() && backlog.get() == 0) && System.nanoTime() < drainDeadline
    val ws = workers(() => importing, onDone)

    // analyst: closed loop of reads over the live fact tables, for the
    // window and as long as imports run, so every import meets the same
    // reads. A traced run leaves every second read untraced, to time the
    // tracer's cost.
    val reads = new ConcurrentLinkedQueue[Op]()
    val readDeadline = t0 + (ctx.seconds * 1e9).toLong
    val analyst = new Thread(() => {
      var k = 0
      while (System.nanoTime() < readDeadline || importing) {
        val name = s"read${k % analystSql.size}"
        val traced = tracer.enabled && k % 2 == 0
        val r0 = System.nanoTime()
        val ok =
          try { if (traced || !tracer.enabled) read(k) else tracer.untraced(read(k)); true }
          catch { case e: Throwable => errors.add(s"$name: $e"); false }
        reads.add(Op(name, ok, (System.nanoTime() - r0) / 1e6, Map("traced" -> traced)))
        k += 1
      }
    }, "analyst")
    analyst.start()

    // generator: open loop, each arrival sent at its due time. The queue
    // refuses to schedule a repo it holds; an advance refused while its
    // repo's import was already running is scheduled again, as the next
    // update_all_repos pass would, every 50 ms until its import commits.
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val refused = mutable.ArrayBuffer.empty[Int]
    var reschedules = 0
    def retryRefused(): Unit = refused.filterInPlace { i =>
      !satisfied.containsKey(i) &&
        tracer.span("queue", "schedule")(cli.queue.schedule(arrivals(i).repo)).fold(_ => true,
          _ => { reschedules += 1; false })
    }
    def waitUntil(ns: Long): Unit = {
      var wait = ns - System.nanoTime()
      while (wait > 0) {
        retryRefused()
        val step = math.min(wait, 50000000L)
        Thread.sleep(step / 1000000, (step % 1000000).toInt)
        wait = ns - System.nanoTime()
      }
    }
    arrivals.zipWithIndex.foreach { case (a, i) =>
      waitUntil(dueNs(i))
      val s0 = System.nanoTime()
      genLagMs += (s0 - dueNs(i)) / 1e6
      outstanding.computeIfAbsent(a.repo, _ => new java.util.ArrayList[Integer]()).synchronized {
        outstanding.get(a.repo).add(i)
      }
      backlog.incrementAndGet()
      val resp = a.kind match {
        case "new" =>
          tracer.span("app", "add_new_repo") {
            val req = HttpRequest.newBuilder(URI.create(
              s"http://127.0.0.1:${app.boundPort}/add_new_repo?repo=${a.repo}")).GET().build()
            val r = http.send(req, HttpResponse.BodyHandlers.ofString())
            s"${r.statusCode()} ${r.body()}"
          }
        case "advance" =>
          // the upstream moves (outside the program), then the repo is
          // scheduled the way update_all_repos schedules a stale repo
          val pb = new ProcessBuilder("git", "update-ref", "refs/heads/main", a.sha)
            .directory(new java.io.File(s"$upstream/${a.repo}"))
          require(pb.start().waitFor() == 0, s"update-ref failed for ${a.repo}")
          tracer.span("queue", "schedule")(cli.queue.schedule(a.repo)).fold(
            why => { refused += i; why }, _ => "SCHEDULED")
      }
      sendMs += (System.nanoTime() - s0) / 1e6
      responses += resp
      backlogMax = math.max(backlogMax, cli.queue.length)
    }
    while (refused.nonEmpty && System.nanoTime() < drainDeadline) waitUntil(System.nanoTime() + 50000000L)
    genDone.set(true)
    analyst.join()
    ws.foreach(_.join())
    val windowS = (System.nanoTime() - t0) / 1e9
    val ds = done.asScala.toSeq
    val fresh = arrivals.indices.map(i => Option(satisfied.get(i)).map(d => (d - dueNs(i)) / 1e6))
    val freshOps = arrivals.zip(fresh).map { case (a, f) =>
      Op(s"${a.kind}:${a.repo}", f.isDefined, f.getOrElse(0.0), Map("due_s" -> a.dueS))
    }
    val readOps = reads.asScala.toSeq
    val readMs = readOps.filter(_.ok).map(_.ms)
    val lagP90 = Stats.pct(genLagMs.toSeq, 90)
    val st = storage()
    WorkResult(freshOps ++ readOps, windowS, opMs = Stats.median(fresh.flatten), latencies = fresh.flatten,
      reads = readOps, imports = doneOps(ds),
      extra = Map(
        "rows_landed" -> ds.map(_.rows.values.sum).sum,
        "tsv_bytes" -> ds.map(_.tsvBytes).sum,
        "storage" -> st,
        // the warehouse holds every import of the run, set-up ones included
        "storage_bytes_per_input_byte" -> st("bytes").asInstanceOf[Long].toDouble / math.max(allTsvBytes.get, 1L),
        "claim_tries" -> claimTries.get(), "claim_wins" -> claimWins.get(),
        "errors" -> errors.asScala.toSeq,
        "base_import_s" -> baseImportS,
        "warmup_import_s" -> warmS,
        "arrivals" -> arrivals.size,
        "freshness_p50_s" -> Stats.pct(fresh.flatten, 50) / 1000.0,
        "freshness_p75_s" -> Stats.pct(fresh.flatten, 75) / 1000.0,
        "reads" -> readOps.size,
        "read_p50_ms" -> Stats.pct(readMs, 50),
        "read_p90_ms" -> Stats.pct(readMs, 90),
        "gen_lag_p90_ms" -> lagP90,
        "gen_lag_max_ms" -> (if (genLagMs.isEmpty) 0.0 else genLagMs.max),
        "gen_send_p50_ms" -> Stats.pct(sendMs.toSeq, 50),
        "backlog_max" -> backlogMax,
        "backlog_end" -> backlog.get(),
        "reschedules" -> reschedules,
        "responses" -> responses.groupBy(identity).view.mapValues(_.size).toMap),
      checks = Map(
        "landed" -> landedCounts(),
        "base_errors" -> (baseErrors ++ warmErrors),
        "gen_lag_p90_ms" -> lagP90,
        "lag_bound_ms" -> lagBoundMs,
        "unsatisfied" -> arrivals.indices.filterNot(satisfied.containsKey(_)).map(i => arrivals(i).repo),
        "imports_per_repo" -> ds.groupBy(_.repo).view.mapValues(_.size).toMap),
      busyS = busyNs.asScala.map { case (k, v) => k -> v / 1e9 }.toMap)
  }
}
