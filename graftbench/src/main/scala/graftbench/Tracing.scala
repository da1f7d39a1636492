package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.algebra._
import graft.api.Graft
import graft.decomposer.Decomposer
import graft.mapping.Catalog
import graft.parser.SparqlParser

/** One timed span at a layer boundary. Spans of one request share `req`;
  * `parent` is the enclosing span's id (-1 at the root). */
final case class Span(id: Int, req: String, name: String, parent: Int,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  def json: String =
    s"""{"id": $id, "req": ${Json.str(req)}, "name": ${Json.str(name)}, """ +
      s""""parent": $parent, "start_ns": $startNs, "end_ns": $endNs}"""
}

/** In-memory span recorder for the traced run (one driver thread). */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var req = ""

  /** A top-level span of request `id`: the spans it encloses share the id. */
  def request[T](id: String, name: String = "request")(f: => T): T = { req = id; span(name)(f) }

  def span[T](name: String)(f: => T): T = {
    val id = spans.length
    spans += Span(id, req, name, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
    stack = id :: stack
    try f finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** Per span name: the median self time in ms (the span's duration minus
    * the part its children cover) and the number of spans. */
  def selfTimes: Map[String, (Double, Int)] = {
    val childNs = Array.fill(spans.length)(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (Stats.median(ss.map(s => (s.durNs - childNs(s.id)) / 1e6).toSeq), ss.length)
    }
  }

  def medianMs(name: String): Double = {
    val xs = spans.filter(_.name == name).map(_.durNs / 1e6).toSeq
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
}

/** Execution counters scoped by Spark job group: every request in the
  * traced run runs under its own group, and the listener sums task
  * metrics per group. It also keeps the physical plan of every SQL
  * execution a group ran, including the eager jobs inside a call (a
  * `localCheckpoint`), which the caller's final plan no longer shows. */
final class ExecListener extends SparkListener {
  final class Counters {
    val jobs, stages, tasks, taskMs, gcMs, shuffleBytes, spillBytes,
      inputBytes, inputRecords = new AtomicLong
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val planOf = new ConcurrentHashMap[Long, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()

  def of(group: String): Counters = byGroup.computeIfAbsent(group, _ => new Counters)

  /** Physical plan texts of the SQL executions run under `group`. */
  def plans(group: String): Seq[String] =
    execGroup.asScala.toSeq.collect { case (id, g) if g == group => Option(planOf.get(id)) }
      .flatten

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      planOf.put(s.executionId, s.physicalPlanDescription)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        of(g).jobs.incrementAndGet()
        e.stageIds.foreach(stageGroup.put(_, g))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(id => execGroup.put(id.toLong, g))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(of(_).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val c = of(g)
      c.tasks.incrementAndGet()
      c.taskMs.addAndGet(m.executorRunTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
}

/** Facts read off the final physical plan of a request. */
final case class PlanFacts(pushedFilters: Int, filesRead: Long)

object PlanFacts {
  /** Every node of the plan as executed: adaptive plans are read at their
    * current (after execution: final) shape, query stages through to the
    * plans they wrap, subqueries included. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => q +: nodes(q.plan)
    case r: ReusedExchangeExec    => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(plan: SparkPlan): PlanFacts = {
    val ns = nodes(plan)
    val scans = ns.collect { case s: FileSourceScanExec => s }
    PlanFacts(
      pushedFilters = scans.map(_.dataFilters.size).sum,
      filesRead = scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum)
  }

  private val ShuffleExchange = """(?m)^\W*Exchange """.r
  private val BroadcastExchange = """(?m)^\W*BroadcastExchange """.r
  private val Lambda = """lambdafunction\(""".r

  /** (shuffle exchanges, broadcast exchanges, interpreted higher-order
    * function lambdas) in the physical plan texts of one request. */
  def shape(plans: Seq[String]): (Int, Int, Int) = (
    plans.map(ShuffleExchange.findAllMatchIn(_).size).sum,
    plans.map(BroadcastExchange.findAllMatchIn(_).size).sum,
    plans.map(p => Lambda.findAllMatchIn(p).size).sum)
}

/** Per-request layer record of one traced SPARQL execution. */
final case class QueryRecord(rowsOut: Long, facts: PlanFacts,
                             phasesMs: Map[String, Double],
                             candidates: Int, kept: Int)

object TracedSparql {
  /** The BGPs of a query, walked the way `Graft.explain` walks them. */
  def bgps(p: Pattern): List[List[TriplePattern]] = p match {
    case Pattern.Bgp(ts) if ts.nonEmpty => List(ts)
    case Pattern.Bgp(_)             => Nil
    case Pattern.Join(l, r)         => bgps(l) ++ bgps(r)
    case Pattern.Union(l, r)        => bgps(l) ++ bgps(r)
    case Pattern.LeftJoin(l, r, _)  => bgps(l) ++ bgps(r)
    case Pattern.Filter(_, p2)      => bgps(p2)
    case Pattern.Minus(l, r)        => bgps(l) ++ bgps(r)
    case Pattern.Exists(l, r, _)    => bgps(l) ++ bgps(r)
    case Pattern.Extend(p2, _, _)   => bgps(p2)
    case Pattern.Service(_, p2, _)  => bgps(p2)
    case Pattern.SubSelect(sq)      => bgps(sq.pattern)
    case _: Pattern.Values          => Nil
    case _: Pattern.Path            => Nil
  }

  /** Runs `query` through the public calls one layer at a time, with a
    * span around each: parse, decompose, compile, plan, first row, drain.
    * The caller has opened the request span and set the job group. */
  def run(g: Graft, catalog: Catalog, query: String, tr: Tracer): (Vector[Row], QueryRecord) = {
    val q = tr.span("parse")(SparqlParser.parseUnsafe(query))
    val stars = tr.span("decompose")(bgps(q.pattern).flatMap(Decomposer.decompose(_, catalog)))
    // a star decomposed on its own is not pruned by its neighbours' links
    val candidates = stars.map(s => Decomposer.decompose(s.triples, catalog).head.sources.size).sum
    val kept = stars.map(_.sources.size).sum
    val df = tr.span("compile")(g.compile(q))
    tr.span("plan")(df.queryExecution.executedPlan)
    val it = df.toLocalIterator()
    val rows = Vector.newBuilder[Row]
    tr.span("first_row")(if (it.hasNext) rows += it.next())
    tr.span("drain")(while (it.hasNext) rows += it.next())
    val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    val out = rows.result()
    (out, QueryRecord(out.size.toLong, PlanFacts.of(df.queryExecution.executedPlan), phases,
      candidates, kept))
  }

  /** The same query through `Graft.sparql`, untraced, drained the same way. */
  def untraced(g: Graft, query: String): Vector[Row] = {
    val it = g.sparql(query).toLocalIterator()
    val rows = Vector.newBuilder[Row]
    while (it.hasNext) rows += it.next()
    rows.result()
  }
}

/** Sums the per-request records of a traced run into per-layer metrics. */
final class LayerTotals(spark: SparkSession, listener: ExecListener) {
  private val records = ArrayBuffer[(String, QueryRecord)]()
  def add(group: String, r: QueryRecord): Unit = records += group -> r

  def metrics(tr: Tracer): Map[String, Metric] = {
    org.apache.spark.GraftbenchBus.drain(spark.sparkContext)
    val n = math.max(1, records.size).toDouble
    def perReq(f: ExecListener#Counters => Long): Double =
      records.map { case (g, _) => f(listener.of(g)).toDouble }.sum / n
    def phase(k: String): Double =
      if (records.isEmpty) 0.0 else Stats.median(records.map(_._2.phasesMs.getOrElse(k, 0.0)).toSeq)
    def fact(f: PlanFacts => Long): Double = records.map(r => f(r._2.facts).toDouble).sum / n
    val shapes = records.map { case (g, _) => PlanFacts.shape(listener.plans(g)) }
    def shape(f: ((Int, Int, Int)) => Int): Double = shapes.map(f(_).toDouble).sum / n
    val rowsOut = records.map(_._2.rowsOut).sum
    val cand = records.map(_._2.candidates).sum
    Map(
      "parser.parse_ms" -> Metric(tr.medianMs("parse"), "ms"),
      "decomposer.decompose_ms" -> Metric(tr.medianMs("decompose"), "ms"),
      "decomposer.molecules_kept_ratio" -> Metric(
        if (cand == 0) 0.0 else records.map(_._2.kept).sum.toDouble / cand, "ratio"),
      "compiler.compile_ms" -> Metric(tr.medianMs("compile"), "ms"),
      "catalyst.analysis_ms" -> Metric(phase("analysis"), "ms"),
      "catalyst.optimization_ms" -> Metric(phase("optimization"), "ms"),
      "catalyst.planning_ms" -> Metric(phase("planning"), "ms"),
      "catalyst.exchanges" -> Metric(shape(_._1), "count"),
      "catalyst.broadcasts" -> Metric(shape(_._2), "count"),
      "catalyst.pushed_filters" -> Metric(fact(_.pushedFilters), "count"),
      "catalyst.hof_fallbacks" -> Metric(shape(_._3), "count"),
      "exec.jobs" -> Metric(perReq(_.jobs.get), "count"),
      "exec.stages" -> Metric(perReq(_.stages.get), "count"),
      "exec.tasks" -> Metric(perReq(_.tasks.get), "count"),
      "exec.task_ms" -> Metric(perReq(_.taskMs.get), "ms"),
      "exec.shuffle_bytes" -> Metric(perReq(_.shuffleBytes.get), "bytes"),
      "exec.spill_bytes" -> Metric(perReq(_.spillBytes.get), "bytes"),
      "exec.gc_ms" -> Metric(perReq(_.gcMs.get), "ms"),
      "sources.bytes_read" -> Metric(perReq(_.inputBytes.get), "bytes"),
      "sources.records_read_per_row_out" -> Metric(
        records.map { case (g, _) => listener.of(g).inputRecords.get }.sum.toDouble /
          math.max(1L, rowsOut), "ratio"),
      "sources.files_read" -> Metric(fact(_.filesRead), "count"))
  }
}

object Trace {
  /** Writes the spans, then their per-name self-time summary, as JSON
    * lines next to the run's work directory. */
  def write(o: Opts, tr: Tracer): Unit = {
    val self = tr.selfTimes.toSeq.sortBy(_._1).map { case (n, (ms, c)) =>
      s"""{"self": ${Json.str(n)}, "median_ms": ${Json.num(ms)}, "count": $c}"""
    }
    val p = o.workDir.getParent.resolve("traces").resolve(s"${o.workload}-seed${o.seed}.jsonl")
    Json.writeLines(p, tr.spans.map(_.json) ++ self)
    Log.err(s"trace: ${tr.spans.size} spans -> $p; self ms: " +
      tr.selfTimes.toSeq.sortBy(_._1).map { case (n, (ms, c)) => f"$n=$ms%.2f($c)" }.mkString(" "))
  }

  /** Median time to the first row (t1) and to the last row (tn) of the
    * traced requests, from their spans. */
  def requestTimes(tr: Tracer): Map[String, Metric] = {
    val reqs = tr.spans.filter(_.name == "request")
    val firstEnd = tr.spans.filter(_.name == "first_row").map(s => s.parent -> s.endNs).toMap
    val t1 = reqs.flatMap(r => firstEnd.get(r.id).map(e => (e - r.startNs) / 1e6)).toSeq
    val tn = reqs.map(_.durNs / 1e6).toSeq
    Map("exec.t1_ms" -> Metric(if (t1.isEmpty) 0.0 else Stats.median(t1), "ms"),
      "exec.tn_ms" -> Metric(if (tn.isEmpty) 0.0 else Stats.median(tn), "ms"),
      "trace.spans" -> Metric(tr.spans.size.toDouble, "count"))
  }
}
