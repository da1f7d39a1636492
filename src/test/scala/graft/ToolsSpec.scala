package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.col

/** The measurement mains: `Bench`'s row loop and summary lines, and the
  * `ScaleGen` key-stride guard. */
class ToolsSpec extends SparkTestBase {

  test("a bench row whose run throws is listed under failed, never timed") {
    val rows: Seq[(String, Bench.Row)] = Seq(
      "ok_row" -> ((s, _) => s.range(10).toDF()),
      "boom_row" -> ((_, _) => sys.error("boom")))
    val timed = Bench.timeRows(spark, sfDir, rows, nRuns = 3)
    assert(timed.map(_._1) == Seq("ok_row", "boom_row"))
    val runs = timed.flatMap(_._2)
    runs.sliding(2).foreach { case Seq(a, b) =>
      assert(a.startMs <= a.endMs && a.endMs < b.startMs, "run windows overlap")
    }
    val (full, last) = Bench.summaryLines(timed, nRuns = 3, calib = 0.1, sfDir)
    val m = new ObjectMapper()
    for (line <- Seq(full, last)) {
      val j = m.readTree(line)
      assert(j.path("failed").size == 1 && j.path("failed").get(0).asText == "boom_row", line)
      assert(j.path("queries").has("ok_row") && !j.path("queries").has("boom_row"), line)
      assert(j.path("n_queries").asInt == 1, line)
      val okMedian = timed.head._2.map(_.sec).sorted.apply(1)
      assert(math.abs(j.path("value").asDouble - okMedian) < 0.001, line)
    }
    val l = m.readTree(last)
    assert(l.path("n_queries_inline").asInt == 1)
    assert(l.path("queries_file").asText == "target/bench_summary.json")
  }

  test("bench summary lines JSON-escape row names") {
    val name = "q\"uote\\d"
    val run = Bench.Run(0L, 1L, 0.5, None)
    val (full, last) = Bench.summaryLines(Seq(name -> Seq(run)), 1, 0.1, sfDir)
    val m = new ObjectMapper()
    assert(m.readTree(full).path("queries").has(name))
    assert(m.readTree(last).path("queries").has(name))
    assert(m.readTree(last).path("n_queries_inline").asInt == 1)
  }

  test("ScaleGen refuses a key column that reaches the copy stride") {
    val s = spark
    import s.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-scalegen").toString
    val dst = s"$src/out"
    def table(name: String, keys: String*): Unit =
      keys.foldLeft(spark.range(3).toDF("k"))((d, k) => d.withColumn(k, col("k")))
        .drop("k").write.parquet(s"$src/$name.parquet")
    Seq(10000000L).toDF("c_custkey").write.parquet(s"$src/customer.parquet")
    table("supplier", "s_suppkey")
    table("part", "p_partkey")
    table("orders", "o_orderkey", "o_custkey")
    table("lineitem", "l_orderkey", "l_partkey", "l_suppkey")
    table("events", "event_id", "user_id")
    table("embeddings", "vec_id")
    table("documents", "doc_id")
    val e = intercept[IllegalArgumentException] {
      graft.tools.ScaleGen.main(Array(src, dst, "2"))
    }
    assert(e.getMessage.contains("customer.c_custkey"), e.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst)),
      "nothing may be written before the check")
  }
}
