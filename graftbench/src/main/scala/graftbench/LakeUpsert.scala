package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{Graft, GraftServer, TpchCatalog}
import graft.pipeline.Lakehouse
import graft.sources.SnapshotSource

import Gen.{OrderRow, Request}

/** A snapshot lake of `orders`, partitioned by key range, beside plain
  * parquet `customer` and `nation`, with the benchmark's own model of all
  * three. Each round merges one seeded upsert batch; every
  * [[LakeUpsert.CycleRounds]] rounds compaction and snapshot GC close a
  * maintenance cycle. The model answers every read independently of graft. */
final class OrdersLake(spark: SparkSession, seed: Long, dir: String) {
  import LakeUpsert._

  val root: String = s"$dir/orders_lake"
  private val model = mutable.HashMap[Long, OrderRow]()
  private val byCust = mutable.HashMap[Long, mutable.Set[Long]]()
  private var customers = Map.empty[Long, (String, Double, Int)]
  private var nations = Map.empty[Int, String]
  private var nextKey = Gen.Orders
  private var userBytes = 0L
  private var writtenBytes = 0L
  /** Per complete cycle: (bytes written / user bytes, lake bytes / live bytes). */
  val cycles = mutable.ArrayBuffer[(Double, Double)]()

  def build(): Unit = {
    Gen.writeTables(spark, seed, dir, Seq("nation", "customer"))
    val base = Gen.orders(spark, seed)
      .withColumn("o_part", (col("o_orderkey") / PartRows).cast("int"))
    val parts = (0 until (Gen.Orders / PartRows).toInt).map(p =>
      s"o_part=$p" -> base.filter(col("o_part") === p).coalesce(1))
    Lakehouse.commitSnapshot(spark, root, parts, statsCols = Seq("o_orderkey"))
    base.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority").collect().foreach { r =>
      put(OrderRow(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getTimestamp(4).getTime / 1000, r.getString(5)))
    }
    customers = Gen.customer(spark, seed).collect().map(r =>
      r.getLong(0) -> ((r.getString(1), r.getDouble(3), r.getInt(2)))).toMap
    nations = Gen.nation(spark, seed).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
  }

  private def put(o: OrderRow): Unit = {
    model(o.key) = o
    byCust.getOrElseUpdate(o.cust, mutable.Set[Long]()) += o.key
  }

  /** The expected rows of a point request, from the model: raw values in
    * the template's projection order. */
  def expected(r: Request): Vector[Seq[Any]] = {
    def iri(kind: String, k: Any) = PointTemplates.iri(kind, k)
    def ts(o: OrderRow) = new java.sql.Timestamp(o.dateSec * 1000)
    def ordersOf(c: Long) = byCust.getOrElse(c, Nil).toVector.map(model)
    val k = r.key
    r.template match {
      case 0 => customers.get(k).toVector.flatMap { case (name, bal, _) =>
        ordersOf(k).map(o => Seq(name, bal, iri("order", o.key), o.price)) }
      case 1 => model.get(k).toVector.map(o =>
        Seq(iri("cust", o.cust), o.price, o.status, ts(o)))
      case 2 => customers.get(k).toVector.flatMap { case (_, _, n) =>
        ordersOf(k).map(o => Seq(iri("cust", k), nations(n), iri("order", o.key), o.price)) }
      case 3 => ordersOf(k).filter(_.priority == "1-URGENT").map(o =>
        Seq(iri("order", o.key), o.price, ts(o)))
    }
  }

  /** Merges round `round`'s batch; returns it. */
  def merge(round: Int): Vector[OrderRow] = {
    val batch = Gen.upsertBatch(seed, round, BatchRows, InsertFrac, nextKey, model.get)
    val before = files()
    Lakehouse.mergeSnapshot(spark, root, frame(batch), Seq("o_orderkey"), "o_part")
    writtenBytes += newBytes(before)
    batch.foreach { o =>
      put(o)
      nextKey = math.max(nextKey, o.key + 1)
      userBytes += 8 * 5 + 4 + o.status.length + o.priority.length
    }
    batch
  }

  /** Compaction; returns the bytes it wrote. */
  def compact(): Long = {
    val before = files()
    Lakehouse.compactDrifted(spark, root)
    val rewritten = newBytes(before)
    writtenBytes += rewritten
    rewritten
  }

  /** Snapshot GC; closes a cycle. */
  def gc(): Unit = {
    Lakehouse.snapshotGc(spark, root, keepSnapshots = 2)
    cycles += ((writtenBytes.toDouble / userBytes, lakeBytes.toDouble / liveBytes))
    writtenBytes = 0L
    userBytes = 0L
  }

  /** A fresh engine over the lake's current snapshot, as a deployment
    * re-resolves the lake after a commit. */
  def graft(): Graft = new Graft(TpchCatalog.catalog, t =>
    if (t == "orders") SnapshotSource(root).load(spark)
    else spark.read.parquet(s"$dir/$t.parquet"))(spark)

  /** Whether the lake's current snapshot holds exactly the model's rows. */
  def matchesModel(): Boolean = {
    val lake = Lakehouse.readSnapshot(spark, root)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice").collect()
    lake.length == model.size && lake.forall { r =>
      model.get(r.getLong(0)).exists(o =>
        o.cust == r.getLong(1) && o.status == r.getString(2) && o.price == r.getDouble(3))
    }
  }

  def liveFiles: Seq[String] = Lakehouse.readSnapshot(spark, root).inputFiles.toSeq
  def liveBytes: Long = liveFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
  def lakeBytes: Long = files().values.sum
  def manifestBytes: Long = files().collect {
    case (p, n) if p.contains("/_graft_lake/") => n
  }.sum

  private def files(): Map[String, Long] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }
  private def newBytes(before: Map[String, Long]): Long =
    files().collect { case (p, n) if !before.contains(p) => n }.sum

  private def frame(rows: Vector[OrderRow]): DataFrame =
    spark.createDataFrame(rows.map(o => Row(o.key, o.cust, o.status, o.price,
      new java.sql.Timestamp(o.dateSec * 1000), o.priority, o.part)).asJava, Schema)
}

/** `lake_upsert`: one closed-loop writer alternates an upsert commit to the
  * `orders` lake with a burst of SPARQL point queries from two HTTP clients
  * to a `GraftServer` over a fresh `Graft` whose `orders` come from
  * `SnapshotSource`; every third round compacts and collects the lake.
  * The reads carry the whole serving path (HTTP, parser, decomposer,
  * compiler, Catalyst, execution, sources) and the writes the lakehouse
  * layer, so a change that speeds reads but grows files or manifests shows
  * as slower reads or slower commits. */
final class LakeUpsert(spark: SparkSession, o: Opts) extends Workload {
  import LakeUpsert._

  private val lake = new OrdersLake(spark, o.seed, o.workDir.resolve("lake").toString)
  private val client = new SparqlClient
  private var round = 0
  private var setupFailures = 0L
  /** Operations attempted so far: reads, merges, compactions, GCs, checks. */
  private var ops = 0L

  def setup(): Unit = {
    val ph = new Phases
    ph.time("lake")(lake.build())
    // the serving path warms from concurrent reads of the built lake, then
    // one whole cycle warms the write path
    val reqs = Gen.lakeReads(o.seed, -1, WarmupReads, Vector.empty)
    val w = ph.time("reads")(serve(lake.graft(), reqs, WarmupClients))
    setupFailures += w.failed
    ops += w.attempted
    (1 to WarmupRounds).foreach { _ =>
      val r = ph.time("round")(oneRound(None))
      setupFailures += r.failed
    }
    Log.err(s"set-up phases: ${ph.describe}; warm-up reads p50 per block of 50: " +
      w.ordered.map(_._2).grouped(50).map(b => f"${Stats.median(b)}%.0f").mkString(" ") + " ms")
  }

  /** Serves `reqs` over HTTP from `clients` closed-loop clients; every
    * answer is checked against the model. */
  private def serve(g: Graft, reqs: Vector[Request], clients: Int): ClosedLoop.Window = {
    val server = new GraftServer(g)
    val port = server.start()
    try ClosedLoop.run(clients, seconds = 600, reqs.size) { i =>
      val a = client.query(port, PointTemplates.text(reqs(i)), srj = true)
      val ok = a.canonical == Lex.rows(lake.expected(reqs(i)), Lex.srj)
      if (!ok) Log.err(s"wrong answer for ${reqs(i)} in round $round")
      Option.when(ok)(a.totalMs)
    } finally server.stop()
  }

  /** Reads of one traced round: each request over HTTP in the server's own
    * JSON (for its `execTime`), untraced through `Graft.sparql`, and traced
    * layer by layer under its own job group. */
  private def tracedReads(g: Graft, reqs: Vector[Request], tr: Tracer, t: TracedTotals): Long = {
    val server = new GraftServer(g)
    val port = server.start()
    var failed = 0L
    try reqs.zipWithIndex.foreach { case (r, i) =>
      val q = PointTemplates.text(r)
      val exp = lake.expected(r)
      try {
        val a = client.query(port, q, srj = false)
        if (a.canonical != Lex.rows(exp, Lex.graft)) failed += 1
        else { t.server += a.serverMs; t.overhead += a.totalMs - a.serverMs; t.bytes += a.bytes }
        val t0 = System.nanoTime()
        val plain = TracedSparql.untraced(g, q)
        t.untraced += Stats.ms(System.nanoTime() - t0)
        if (Lex.rows(plain.map(_.toSeq), Lex.srj) != Lex.rows(exp, Lex.srj)) failed += 1
        val group = s"round-$round-read-$i"
        val t1 = System.nanoTime()
        val (rows, rec) = tr.request(group) {
          spark.sparkContext.setJobGroup(group, "graftbench traced read")
          try TracedSparql.run(g, TpchCatalog.catalog, q, tr)
          finally spark.sparkContext.clearJobGroup()
        }
        t.traced += Stats.ms(System.nanoTime() - t1)
        t.layers.add(group, rec)
        if (Lex.rows(rows.map(_.toSeq), Lex.srj) != Lex.rows(exp, Lex.srj)) failed += 1
      } catch { case e: Throwable => Log.err(s"traced read failed: $e"); failed += 1 }
    } finally server.stop()
    failed
  }

  /** One round: merge, then the reads, then maintenance at a cycle's end. */
  private def oneRound(traced: Option[(Tracer, TracedTotals)]): RoundOut = {
    val r = round
    round += 1
    val closesCycle = r % CycleRounds == CycleRounds - 1
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = f; (v, Stats.ms(System.nanoTime() - t0))
    }
    def spanned[T](name: String)(f: => T): T =
      traced.fold(f) { case (tr, _) => tr.request(s"round-$r", name)(f) }
    val (batch, mergeMs) = timed(spanned("merge")(lake.merge(r)))
    val reqs = Gen.lakeReads(o.seed, r, ReadsPerRound, batch)
    ops += 1 + reqs.size * (if (traced.isEmpty) 1 else 3) + (if (closesCycle) 2 else 0)
    val (reads, failed) = traced match {
      case None =>
        val w = serve(lake.graft(), reqs, Clients)
        (w.ordered.map { case (i, ms) => (reqs(i).template, ms) }, w.failed)
      case Some((tr, t)) => (Seq.empty[(Int, Double)], tracedReads(lake.graft(), reqs, tr, t))
    }
    val maint = Option.when(closesCycle) {
      val (rewritten, compactMs) = timed(spanned("compact")(lake.compact()))
      val (_, gcMs) = timed(spanned("gc")(lake.gc()))
      (compactMs, gcMs, rewritten)
    }
    Log.err(f"round $r: merge $mergeMs%.0f ms, read p50 ${Stats.median(reads.map(_._2))}%.0f ms" +
      maint.fold("") { case (c, g, _) => f", compact $c%.0f ms, gc $g%.0f ms" })
    RoundOut(reads, failed, mergeMs, maint)
  }

  def run(): Result = {
    val tracing = Option.when(o.trace) {
      val listener = new ExecListener
      spark.sparkContext.addSparkListener(listener)
      (new Tracer, new TracedTotals(new LayerTotals(spark, listener)))
    }
    val firstCycle = lake.cycles.size
    val outs = mutable.ArrayBuffer[RoundOut]()
    val t0 = System.nanoTime()
    val deadline = t0 + o.seconds * 1000000000L
    // whole cycles only: every window sees the same mix of fresh and
    // compacted layouts, and ends on a compacted, collected lake. A cycle
    // outlasts a 10 s window, so such a window is exactly one cycle.
    while (System.nanoTime() < deadline || round % CycleRounds != 0)
      outs += oneRound(tracing)
    val elapsed = (System.nanoTime() - t0) / 1e9
    val reads = outs.flatMap(_.reads).toSeq
    val consistent = lake.matchesModel()
    if (!consistent) Log.err("lake content differs from the model")
    val failed = outs.map(_.failed).sum + setupFailures + (if (consistent) 0 else 1)
    val cyc = lake.cycles.drop(firstCycle).toSeq
    val (h1, h2) = Stats.stratifiedHalves(reads)
    Log.err(f"timed: ${outs.size} rounds, ${reads.size} reads in $elapsed%.2f s, " +
      f"read p50 halves $h1%.1f / $h2%.1f ms; " +
      reads.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, xs) =>
        f"template $t: n=${xs.size} p50=${Stats.median(xs.map(_._2))}%.0f ms" }.mkString(", ") +
      s"; cycles (write amp, lake/live): ${cyc.map { case (a, b) => f"($a%.1f, $b%.2f)" }.mkString(" ")}")
    val metrics = tracing match {
      case None => Map(
        "latency_p50_ms" -> Metric(Stats.stratifiedMedian(reads), "ms"),
        "throughput_per_s" -> Metric(outs.size * BatchRows / elapsed, "1/s"))
      case Some((tr, t)) =>
        Trace.write(o, tr)
        def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
        val maint = outs.flatMap(_.maint).toSeq
        val (u1, u2) = Stats.halves(t.untraced.toSeq)
        t.layers.metrics(tr) ++ Trace.requestTimes(tr) ++ Map(
          "api.server_ms" -> Metric(med(t.server.toSeq), "ms"),
          "api.overhead_ms" -> Metric(med(t.overhead.toSeq), "ms"),
          "api.response_bytes" -> Metric(med(t.bytes.toSeq), "bytes"),
          "lakehouse.merge_ms" -> Metric(med(outs.map(_.mergeMs).toSeq), "ms"),
          "lakehouse.compact_ms" -> Metric(med(maint.map(_._1)), "ms"),
          "lakehouse.gc_ms" -> Metric(med(maint.map(_._2)), "ms"),
          "lakehouse.bytes_rewritten" -> Metric(med(maint.map(_._3.toDouble)), "bytes"),
          "lakehouse.files_live" -> Metric(lake.liveFiles.size.toDouble, "count"),
          "lakehouse.manifest_bytes" -> Metric(lake.manifestBytes.toDouble, "bytes"),
          "lakehouse.write_bytes_per_user_byte" -> Metric(med(cyc.map(_._1)), "ratio"),
          "lakehouse.lake_bytes_per_live_byte" -> Metric(med(cyc.map(_._2)), "ratio"),
          "trace.overhead_ratio" -> Metric(med(t.traced.toSeq) / med(t.untraced.toSeq), "ratio"),
          "window.p50_first_half_ms" -> Metric(u1, "ms"),
          "window.p50_second_half_ms" -> Metric(u2, "ms"))
    }
    Result(ops + 1, failed, failed == 0, metrics)
  }
}

object LakeUpsert {
  /** Orders keys per lake partition (4 partitions at sf0.1, then one
    * more as inserts arrive). */
  val PartRows = 37500L
  val BatchRows = 50
  val InsertFrac = 0.1
  val Clients = 2
  val ReadsPerRound = 24
  val CycleRounds = 3
  val WarmupReads = 100
  val WarmupClients = 4
  val WarmupRounds = CycleRounds

  /** One round's record: (template, read latency ms) of its checked reads
    * (none in the traced run), and the timings of its lake calls. */
  private final case class RoundOut(reads: Seq[(Int, Double)], failed: Long, mergeMs: Double,
                                    maint: Option[(Double, Double, Long)])

  /** What the traced run's reads collect. */
  private final class TracedTotals(val layers: LayerTotals) {
    val server, overhead, bytes, untraced, traced = mutable.ArrayBuffer[Double]()
  }

  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType),
    StructField("o_part", IntegerType)))
}
