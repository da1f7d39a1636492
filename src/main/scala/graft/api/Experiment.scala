package graft.api

import org.apache.spark.sql.{DataFrame, GraftBridge}

import graft.parser.SparqlParser

/** The reference's experiment-metrics protocol
  * (`/root/reference/scripts/runExperiment.py:44-63, 85, 103+` and
  * `scripts/run_dief_experiment.py:46-56`, per BASELINE.md):
  *
  *  - `dt` decomposition time (here: parsing),
  *  - `pt` planning time (here: decompose/source-select and compile, which
  *    includes the bounded scan of a selective star the compiler inlines
  *    as a build side, then Catalyst planning of the compiled frame),
  *  - `t1` time to first answer (the first row of the first wave),
  *    `tn` total execution time,
  *  - `c1`/`cn` first/total answer counts,
  *  - an answer `(time, count)` trace for dief@t curves.
  *
  * Results stream through [[org.apache.spark.sql.GraftBridge.waveRows]],
  * the drain the server's `/nextresult` endpoint uses (the reference's
  * incremental consumption path, `app/query.py:49-82`): one job per wave
  * of `defaultParallelism` partitions, so `t1` is the time to the first
  * row of the first wave, not to the whole result.
  */
object Experiment {

  final case class RunMetrics(dt: Double, pt: Double, t1: Double, tn: Double,
                              c1: Long, cn: Long, trace: List[(Double, Long)])

  /** Run `query` through `g`, sampling the answer trace every
    * `traceEvery` rows. Times are seconds from query submission. */
  def run(g: Graft, query: String, traceEvery: Long = 1000L): RunMetrics = {
    val t0 = System.nanoTime()
    def secs(): Double = (System.nanoTime() - t0) / 1e9

    val parsed = SparqlParser.parseUnsafe(query)
    val dt = secs()

    val df: DataFrame = g.compile(parsed)
    df.queryExecution.executedPlan // force analysis + physical planning
    val pt = secs()

    val it = GraftBridge.waveRows(df)
    var n = 0L
    var t1 = 0.0
    val trace = List.newBuilder[(Double, Long)]
    while (it.hasNext) {
      it.next()
      n += 1
      if (n == 1) { t1 = secs(); trace += ((t1, 1L)) }
      else if (n % traceEvery == 0) trace += ((secs(), n))
    }
    val tn = secs()
    if (n > 0 && n % traceEvery != 0 && n != 1) trace += ((tn, n))
    RunMetrics(dt, pt, t1, tn, c1 = math.min(n, 1L), cn = n, trace.result())
  }
}
