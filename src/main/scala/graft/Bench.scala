package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are forced through the `noop` sink so the
  * full plan executes (a bare `count()` would let Catalyst prune the
  * projections that are the whole point of the text/pipeline operators).
  * Each row also leaves its runs' execution counters and its last run's
  * jobs (`target/bench_raw_runs.json`) and executed plan
  * (`target/bench_plans/<row>.txt`). A row with a throwing run is listed
  * under `failed`, never timed. */
object Bench {
  type Row = (SparkSession, String) => DataFrame

  /** One timed run: its window on the driver clock Spark stamps job starts
    * and planning phases with, its seconds, and what it threw. */
  final case class Run(startMs: Long, endMs: Long, sec: Double, error: Option[String])

  /** The execution counters summed over a run's jobs, in this order. */
  private val ExecKeys: Seq[String] = Seq("jobs", "stages", "tasks", "task_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
  private def sum(xs: Iterable[Seq[Long]]): Seq[Long] =
    xs.foldLeft(Seq.fill(ExecKeys.size)(0L))(_.lazyZip(_).map(_ + _))

  /** A job as the bus reported it. `executionId` is the SQL execution it
    * ran for and `scope` the outermost operator scope of its last stage's
    * final RDD (`Exchange`, `BroadcastExchange`, …): AQE query-stage jobs
    * all share one call site, and these two name them. `tasks` ended in
    * its stages, the first launched at `firstLaunchMs` and the last done
    * at `lastFinishMs`. */
  private final case class Job(startMs: Long, endMs: Long, callSite: String, stages: Int,
                               executionId: Option[Long], scope: Option[String],
                               tasks: Int = 0, firstLaunchMs: Long = Long.MaxValue,
                               lastFinishMs: Long = 0L)

  /** The listener bus's reports, placed in runs by time: a job in the run
    * whose window holds its start, a stage with the first job listing it,
    * a plan by when its write was planned. Not by job group: a long-lived
    * pool (Dedup's edge pool) inherits whichever group was set when its
    * threads were made. Read only after `spark.stop()` drained the bus. */
  final class ExecLog extends SparkListener with QueryExecutionListener {
    private val jobs = new ConcurrentHashMap[Int, Job]
    private val stageJob = new ConcurrentHashMap[Int, Int]
    private val stageExec = new ConcurrentHashMap[Int, Seq[Long]]
    private val plans = new ConcurrentLinkedQueue[(Long, String)]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the result stage, created last, is named after the action's call site
      val last = e.stageInfos.sortBy(_.stageId).lastOption
      val executionId = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val scope = last.flatMap(_.rddInfos.maxByOption(_.id)).flatMap(_.scope).map { s =>
        var outer = s
        while (outer.parent.isDefined) outer = outer.parent.get
        outer.name
      }
      jobs.put(e.jobId, Job(e.time, e.time, last.fold("?")(_.name), e.stageIds.size,
        executionId, scope))
      e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.asScala.get(e.stageId).foreach(jobs.computeIfPresent(_, (_, j) => j.copy(
        tasks = j.tasks + 1, firstLaunchMs = j.firstLaunchMs min e.taskInfo.launchTime,
        lastFinishMs = j.lastFinishMs max e.taskInfo.finishTime)))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val metrics = Option(i.taskMetrics).fold(Seq.fill(5)(0L))(m => Seq(
        m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
      stageExec.merge(i.stageId, Seq(0L, 1L, i.numTasks.toLong) ++ metrics,
        (a, b) => sum(Seq(a, b)))
    }

    // a noop write is the bench's own; its plan is rendered as executed
    // (an adaptive plan at its final shape), so no row is planned twice
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.logical match {
        case w: V2WriteCommand if w.table.name == "noop-table" =>
          qe.tracker.phases.values.map(_.endTimeMs).maxOption
            .foreach(t => plans.add(t -> qe.explainString(FormattedMode)))
        case _ => ()
      }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    private def within(r: Run, ms: Long) = ms >= r.startMs && ms <= r.endMs

    private def jobsOf(r: Run): Seq[(Int, Job)] =
      jobs.asScala.toSeq.filter { case (_, j) => within(r, j.startMs) }.sortBy(_._1)

    /** `r`'s counters, in [[ExecKeys]] order. */
    def exec(r: Run): Seq[Long] = {
      val ids = jobsOf(r).map(_._1).toSet
      sum(stageJob.asScala.collect {
        case (s, j) if ids(j) && stageExec.containsKey(s) => stageExec.get(s)
      }).updated(0, ids.size.toLong)
    }

    /** Every job `r` started, in id order. */
    private[Bench] def jobList(r: Run): Seq[Job] = jobsOf(r).map(_._2)

    /** The executed plan of the noop write that ended `r`. */
    def plan(r: Run): Option[String] =
      plans.asScala.filter(p => within(r, p._1)).maxByOption(_._1).map(_._2)
  }

  /** `nRuns` timed noop-sink runs of every row, in order. */
  def timeRows(spark: SparkSession, sfDir: String, rows: Seq[(String, Row)],
               nRuns: Int): Seq[(String, Seq[Run])] = {
    var lastEndMs = 0L
    rows.map { case (name, fn) =>
      val runs = (1 to nRuns).map { _ =>
        // run windows never share a millisecond: a job belongs to one run
        while (System.currentTimeMillis() <= lastEndMs) {}
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val error =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            Some(e.toString)
          }
        val t = (System.nanoTime() - t0) / 1e9
        lastEndMs = System.currentTimeMillis()
        // outside the timer: drop blocks the finished run left behind
        // (result-lifecycle localCheckpoints are freed only by GC-driven
        // ContextCleaner otherwise, and its periodic GC is 30 min — longer
        // than the whole bench; round 4's path_closure 4.4× regression was
        // ~150 prior runs' leaked blocks evicting the live frontier). The
        // engine keeps no intentional cross-query persisted RDDs: catalogs
        // memoize driver-side objects, table reads are lazy.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        // heavy runs also get the cleaner's GC trigger BETWEEN runs (still
        // outside the timer): a multi-stage composition leaves dozens of
        // shuffles + broadcasts whose cleanup is reference-triggered, and
        // with gc only per query GROUP, run 2 and 3 of the same heavy
        // query pay rising eviction/GC tax — round-8's full bench
        // measured doc_prepare_corpus growing monotonically [2.9 → 6.7 →
        // 13.5 s] across its three runs. Sub-second queries skip it (a
        // full GC costs more than they do).
        if (t > 2.0) System.gc()
        Run(startMs, lastEndMs, t, error)
      }
      // also outside the timer: give ContextCleaner its GC trigger. Shuffle
      // files and broadcast state are reclaimed only when their driver-side
      // objects are collected; the cleaner's own periodic GC is 30 min —
      // longer than the bench — so without this, 100+ queries × 3 runs of
      // shuffle state pile onto disk and heap and later queries pay rising
      // GC/eviction tax (run times DECLINING within a query is the tell).
      System.gc()
      name -> runs
    }
  }

  private val json = new ObjectMapper()
  /** A JSON string literal. */
  private def js(s: String): String = json.writeValueAsString(s)

  /** The full summary line (every median) and the compact final line.
    * Rows with a failed run are listed under `failed`, never timed. */
  def summaryLines(timed: Seq[(String, Seq[Run])], nRuns: Int, calib: Double,
                   sfDir: String): (String, String) = {
    val (failedRows, okRows) = timed.partition(_._2.exists(_.error.nonEmpty))
    val results = okRows.map { case (k, runs) => (k, runs.map(_.sec).sorted.apply(nRuns / 2)) }
    val failed = failedRows.map(r => js(r._1)).mkString("[", ",", "]")
    val qs = results.map { case (k, v) => js(k) + f":$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val head = f""""metric":"total","value":$total%.3f,"unit":"sec","runs":$nRuns,"n_queries":${results.size},"calib_sec":$calib%.3f"""
    // a reader that keeps only the last ~2000 chars of output clips the
    // FRONT of a long line (round 6 lost "total" that way), and
    // the full 214-row map is ~6 KB: the complete summary goes to
    // bench_summary.json, and the line printed LAST carries the scalars
    // plus the most expensive rows up to a byte budget — the rows a
    // per-query comparison is about. Existing fields stay (additions only).
    val byCost = results.sortBy(-_._2).map { case (k, v) => js(k) + f":$v%.3f" }
    // chars for the inline map; with `failed`, the line stays < 1700
    val budget = math.max(0, 1400 - failedRows.map(r => js(r._1).length + 1).sum)
    val inline = byCost.foldLeft((List.empty[String], 0)) {
      case ((acc, used), e) =>
        if (used + e.length + 1 <= budget) (e :: acc, used + e.length + 1)
        else (acc, budget + 1) // budget exhausted: keep the top prefix only
    }._1.reverse
    val full = s"""{$head,"queries":$qs,"sf":${js(sfDir)},"failed":$failed}"""
    val last = s"""{$head,"sf":${js(sfDir)},"queries":${inline.mkString("{", ",", "}")},"n_queries_inline":${inline.size},"queries_file":"target/bench_summary.json","failed":$failed}"""
    (full, last)
  }

  /** Per-run seconds, per-run counters, the last run's jobs, and what
    * every failed run threw. */
  private def rawJson(timed: Seq[(String, Seq[Run])], log: ExecLog, nRuns: Int,
                      sfDir: String): String = {
    val raw = timed.map { case (k, runs) =>
      js(k) + ":" + runs.map(r => f"${r.sec}%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val exec = timed.map { case (k, runs) =>
      val perRun = runs.map(log.exec)
      val counters = ExecKeys.zipWithIndex.map { case (key, i) =>
        js(key) + ":" + perRun.map(_(i)).mkString("[", ",", "]")
      }
      val jobs = log.jobList(runs.last).map { j =>
        s"""{"call_site":${js(j.callSite)},"start_ms":${j.startMs - runs.last.startMs},""" +
          s""""wall_ms":${j.endMs - j.startMs},""" +
          s""""stages":${j.stages},"execution_id":${j.executionId.fold("null")(_.toString)},""" +
          s""""scope":${j.scope.fold("null")(js)},"tasks":${j.tasks},""" +
          (if (j.tasks == 0) s""""queue_ms":null,"run_ms":null}"""
           else s""""queue_ms":${j.firstLaunchMs - j.startMs},"run_ms":${j.lastFinishMs - j.firstLaunchMs}}""")
      }.mkString("[", ",", "]")
      js(k) + ":" + (counters :+ s""""last_run_jobs":$jobs""").mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val failed = timed.flatMap { case (k, runs) =>
      runs.flatMap(_.error).headOption.map(e => js(k) + ":" + js(e))
    }.mkString("{", ",", "}")
    s"""{"runs":$nRuns,"sf":${js(sfDir)},"raw":$raw,"exec":$exec,"failed":$failed}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (codegen, shuffle machinery, parquet reader) so the
    // first measured query doesn't absorb JVM/session init
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()
    // …and the heavy pipeline code paths (MinHash/SimHash native exprs,
    // similarity loops) on 64-row samples: JIT + codegen warmup, not result
    // warmup — the measured queries still scan the full tables cold
    try {
      val docSample = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
      // the full dedup composition (exact groupBy + LSH + containment
      // index + components + union-find) — its first cold run otherwise
      // pays ~10 s of JIT/codegen that lands in whichever measured query
      // hits the path first
      graft.pipeline.Dedup.dedupCorpusWithContainment(docSample)
        .write.format("noop").mode("overwrite").save()
      graft.pipeline.Dedup.simhashNearDups(docSample)
        .write.format("noop").mode("overwrite").save()
      // the funnel→dedup→split composition adds its own code paths
      // (filter funnel, split assign) on top of the dedup family
      graft.pipeline.Prepare.prepareCorpus(docSample)
        .write.format("noop").mode("overwrite").save()
      val embSample = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
      graft.pipeline.Similarity.bruteForceTopK(embSample, k = 2, numQueries = 1)
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup skipped: ${e.getMessage}")
    }
    // median-of-3 per query: run-to-run noise on a shared box swings single
    // runs 2-3× (round-2's driver bench read ~2× high under machine load);
    // the median of three passes is robust to one loaded run. Raw per-run
    // numbers are emitted alongside for forensics.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // fixed machine-calibration workload, measured like a query (median of
    // nRuns): a deterministic CPU-bound aggregation whose cost depends on
    // the BOX, not the engine or the data. Cross-round totals divide by
    // this to separate engine regressions from host drift — round 8 found
    // the same commit measuring 2× slower than round 6 on every query
    // after a VM reboot (isolated q1_agg 1.0 s vs 0.49 s, uniformly),
    // which only a same-run calibration constant can prove.
    val calib = (1 to nRuns).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 2000000000L, 1, numPartitions = cpus.toInt)
        .selectExpr("sum(id * 3 + (id & 7))").head()
      (System.nanoTime() - t0) / 1e9
    }.sorted.apply(nRuns / 2)
    // optional comma-separated subset for targeted regression hunts
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // an explicit SPARK_GRAFT_BENCH_ONLY naming an excluded query wins —
    // the exclusion protects the default suite totals, not targeted hunts
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.exists(_.contains(name)) || !SparkEntry.benchExcluded.contains(name) }
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val log = new ExecLog
    spark.sparkContext.addSparkListener(log)
    spark.listenerManager.register(log)
    val timed = timeRows(spark, sfDir, selected, nRuns)
    // stopping drains the listener bus: every event of every run is in `log`
    spark.stop()

    // raw per-run forensics go to a file — inlining them made the summary
    // line so long the driver's tail window clipped it (round-3 BENCH JSON
    // arrived unparseable)
    val target = Files.createDirectories(Paths.get("target"))
    Files.write(target.resolve("bench_raw_runs.json"),
      rawJson(timed, log, nRuns, sfDir).getBytes(UTF_8))
    val planDir = Files.createDirectories(target.resolve("bench_plans"))
    scala.util.Using.resource(Files.list(planDir))(_.iterator.asScala.toList.foreach(Files.delete))
    timed.foreach { case (k, runs) =>
      log.plan(runs.last).foreach(p => Files.write(planDir.resolve(s"$k.txt"), p.getBytes(UTF_8)))
    }
    val (full, last) = summaryLines(timed, nRuns, calib, sfDir)
    Files.write(target.resolve("bench_summary.json"), full.getBytes(UTF_8))
    // full line first (human-readable / greppable), compact line last
    println(full)
    println(last)
  }
}
