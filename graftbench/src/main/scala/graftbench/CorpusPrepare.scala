package graftbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Prepare, TextAnalysis}

import Gen.DocClass

/** `corpus_prepare`: one driver runs `Prepare.prepareCorpus` passes back
  * to back into the `noop` sink over a seeded corpus with planted exact
  * duplicates, near-duplicates and funnel-failing junk. The pipeline and
  * native-function layers do all the work; no SPARQL layer runs. */
final class CorpusPrepare(spark: SparkSession, o: Opts) extends Workload {
  import CorpusPrepare._

  private val path = o.workDir.resolve("corpus/documents.parquet").toString
  private val docs = Gen.corpus(o.seed, Corpus)
  private val planted: Map[String, Int] = docs.groupBy(_.cls).map { case (c, ds) => c -> ds.size }
  private var setupFailures = 0L
  private var recall = Double.NaN

  def setup(): Unit = {
    val ph = new Phases
    ph.time("corpus")(Gen.corpusFrame(spark, docs, o.seed).coalesce(1).write.parquet(path))
    val warm = ph.time("warm-up")((1 to WarmupPasses).map(_ => pass()))
    setupFailures = warm.count(_.isEmpty).toLong
    Log.err(s"set-up phases: ${ph.describe}")
  }

  /** One checked pass; Some(wall ms) when the prepared corpus holds every
    * base document, no exact copy and no junk, and the share of planted
    * near-duplicates removed is at least [[RecallFloor]]. */
  private def pass(): Option[Double] = {
    val obs = Observation("prepared")
    def n(cls: String) = sum(when(col("source") === cls, 1L).otherwise(0L)).as(cls)
    val t0 = System.nanoTime()
    val out = Prepare.prepareCorpus(spark.read.parquet(path))
      .observe(obs, count(lit(1)).as("all"), n(DocClass.Base), n(DocClass.Exact),
        n(DocClass.Near), n(DocClass.Junk))
    out.write.format("noop").mode("overwrite").save()
    val ms = Stats.ms(System.nanoTime() - t0)
    val got = obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
    recall = 1.0 - got(DocClass.Near).toDouble / planted(DocClass.Near)
    val ok = got(DocClass.Base) == planted(DocClass.Base) && got(DocClass.Exact) == 0 &&
      got(DocClass.Junk) == 0 && recall >= RecallFloor
    if (!ok) Log.err(s"wrong prepared corpus: $got for planted $planted")
    Option.when(ok)(ms)
  }

  def run(): Result = if (o.trace) traced() else {
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    var failed = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + o.seconds * 1000000000L
    while (System.nanoTime() < deadline) pass() match {
      case Some(ms) => lat += ms
      case None     => failed += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val (h1, h2) = Stats.halves(lat.toSeq)
    Log.err(f"timed: ${lat.size + failed} passes in $elapsed%.2f s, p50 halves $h1%.1f / $h2%.1f ms, " +
      f"dup recall $recall%.4f; passes ${lat.map(x => f"$x%.0f").mkString(",")}")
    val failures = failed + setupFailures
    Result(lat.size + failed + WarmupPasses, failures, failures == 0,
      Map("latency_p50_ms" -> Metric(Stats.median(lat.toSeq), "ms"),
        "throughput_per_s" -> Metric(lat.size * docs.size / elapsed, "1/s")))
  }

  /** Passes with one job group each, split into the `prepareCorpus` call
    * (which already runs the dedup stages' eager jobs) and the sink write,
    * each followed by a checked untraced pass for the overhead ratio; then
    * the dedup layer's own counts on the same corpus. */
  private def traced(): Result = {
    val tr = new Tracer
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)
    val totals = new LayerTotals(spark, listener)
    val tracedMs, plainMs = scala.collection.mutable.ArrayBuffer[Double]()
    var attempted, failed = 0L
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline) {
      val group = s"pass-$i"
      val t0 = System.nanoTime()
      attempted += 2
      tr.request(group) {
        spark.sparkContext.setJobGroup(group, "graftbench traced pass")
        try {
          val obs = Observation("rows")
          val out = tr.span("prepare")(Prepare.prepareCorpus(spark.read.parquet(path)))
            .observe(obs, count(lit(1)).as("n"))
          tr.span("plan")(out.queryExecution.executedPlan)
          tr.span("write")(out.write.format("noop").mode("overwrite").save())
          val phases = out.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
          totals.add(group, QueryRecord(obs.get("n").asInstanceOf[Long],
            PlanFacts.of(out.queryExecution.executedPlan), phases, 0, 0))
        } catch { case e: Throwable => Log.err(s"traced pass $i failed: $e"); failed += 1 }
        finally spark.sparkContext.clearJobGroup()
      }
      tracedMs += Stats.ms(System.nanoTime() - t0)
      pass() match {
        case Some(ms) => plainMs += ms
        case None     => failed += 1
      }
      i += 1
    }
    val (cand, verified) = dedupCounts(spark.read.parquet(path))
    val (h1, h2) = Stats.halves(plainMs.toSeq)
    Trace.write(o, tr)
    val failures = failed + setupFailures
    Result(attempted + WarmupPasses, failures, failures == 0,
      totals.metrics(tr) ++ Trace.requestTimes(tr).filter(_._1 == "trace.spans") ++ Map(
        "exec.tn_ms" -> Metric(Stats.median(tracedMs.toSeq), "ms"),
        "dedup.candidate_pairs" -> Metric(cand.toDouble, "count"),
        "dedup.verified_ratio" -> Metric(if (cand == 0) 0.0 else verified.toDouble / cand, "ratio"),
        "dedup.dup_recall" -> Metric(recall, "ratio"),
        "trace.overhead_ratio" -> Metric(
          Stats.median(tracedMs.toSeq) / Stats.median(plainMs.toSeq), "ratio"),
        "window.p50_first_half_ms" -> Metric(h1, "ms"),
        "window.p50_second_half_ms" -> Metric(h2, "ms")))
  }
}

object CorpusPrepare {
  /** Large enough that over half of a pass (about 3.2 s) is work on the
    * data. At a tenth of the size a pass is nearly all per-job driver work,
    * which keeps speeding up with the JIT for dozens of passes, so a run's
    * median would depend on how warm its JVM happened to be. */
  val Corpus = Gen.DefaultCorpus.copy(docs = 10000)
  /** Pass times flatten from about the 7th pass of a fresh JVM. */
  val WarmupPasses = 7
  /** The least share of planted near-duplicates a correct pass removes. */
  val RecallFloor = 0.9

  /** LSH candidate pairs and Jaccard-verified near-duplicate pairs among
    * the funnel-passing, exact-distinct documents: the inputs the
    * near-duplicate stage of `prepareCorpus` sees. */
  def dedupCounts(docs: DataFrame): (Long, Long) = {
    val kept = docs.join(TextAnalysis.filterFunnel(docs).filter(col("keep")).select("doc_id"), "doc_id")
    val distinct = kept.join(
      Dedup.exactGroups(kept).select(col("keep_id").as("doc_id")), "doc_id")
    val shingled = Dedup.withShingles(distinct).select("doc_id", "shingles")
    val cand = Dedup.candidatePairsWithStats(Dedup.lshBuckets(shingled)).pairs.count()
    (cand, Dedup.verifiedNearDups(distinct).count())
  }
}
