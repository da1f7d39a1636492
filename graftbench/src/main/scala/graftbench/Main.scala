package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Benchmark driver: one workload, one run, one JSON result line on
  * stdout (everything else goes to stderr).
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *        --trace <0|1> --work-dir <dir>
  */
object Main {
  /** (name, unit) of the declared metrics of one kind (`end_to_end` or
    * `per_layer`), from the checkout's `BENCHMARK.json`. Every workload
    * reports all end-to-end metrics, so each must mean something on every
    * workload (see README.md). */
  def declared(kind: String): Seq[(String, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("BENCHMARK.json"))
    root.get(kind).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  private def sinceStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val expected = declared(if (o.trace) "per_layer" else "end_to_end")
    val spark = Session.start(o.workDir)
    Log.err(f"session up at $sinceStart%.2f s")
    val w: Workload = o.workload match {
      case "lake_upsert"    => new LakeUpsert(spark, o)
      case "corpus_prepare" => new CorpusPrepare(spark, o)
    }
    w.setup()
    // start the timed window from a collected heap, not from whatever
    // garbage the warm-up left behind
    System.gc()
    // set-up runs from JVM start: session, inputs, engine, warm-up
    val setupS = sinceStart
    Log.err(f"set-up done in $setupS%.2f s")
    val r = w.run()
    Log.err(f"run done at $sinceStart%.2f s")
    spark.stop()
    val got = if (o.trace) r.metrics else r.metrics + ("setup_s" -> Metric(setupS, "s"))
    val unknown = got.keySet -- expected.map(_._1)
    require(unknown.isEmpty, s"metrics outside the declared set: $unknown")
    // a layer the workload never enters reads 0; an end-to-end metric
    // must always be measured
    val metrics = expected.map { case (n, u) =>
      val m = got.getOrElse(n,
        if (o.trace) Metric(0.0, u) else sys.error(s"workload did not measure $n"))
      require(m.unit == u, s"$n measured in ${m.unit}, declared in $u")
      n -> m
    }.toMap
    println(Json.result(r.copy(metrics = metrics)))
  }
}
