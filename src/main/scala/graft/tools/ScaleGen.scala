package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of an sf test-data directory for the r21 scale
  * probe (SCALE.md): N key-shifted copies of every fact table, shared
  * dimensions verbatim. Entity keys shift by `copy * 10_000_000` so the
  * copies are disjoint (referentially consistent within a copy, FKs to
  * nation/region untouched); document text is token-salted per copy so
  * the gram/shingle spaces of different copies are DISJOINT — each copy
  * behaves as an independent shard of the same workload, which is the
  * shape a 10× corpus actually has (near-dup structure per shard, not
  * 10 global clones of every document, which would quadratically inflate
  * pair generation instead of scaling it).
  *
  * Measurement-only tool: not on the bench or query path; the driver's
  * sf dirs are read-only and stay untouched.
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <dstDir> <copies>
  */
object ScaleGen {
  private val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcSfDir> <dstDir> <copies>")
    val (src, dst, copies) = (args(0), args(1), args(2).toInt)
    require(copies >= 1 && copies <= 1000, s"bad copies=$copies")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    // (table, replicated key columns, per-copy transform)
    val facts: Seq[(String, Seq[String], (DataFrame, Int) => DataFrame)] = Seq(
      // names must stay copy-unique for the ER/golden-record families
      ("customer", Seq("c_custkey"),
        (d, i) => d.withColumn("c_name", concat(col("c_name"), lit(s"#c$i")))),
      ("supplier", Seq("s_suppkey"),
        (d, i) => d.withColumn("s_name", concat(col("s_name"), lit(s"#c$i")))),
      ("part", Seq("p_partkey"),
        (d, i) => d.withColumn("p_name", concat(col("p_name"), lit(s"#c$i")))),
      ("orders", Seq("o_orderkey", "o_custkey"), (d, _) => d),
      ("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), (d, _) => d),
      ("events", Seq("event_id", "user_id"), (d, _) => d),
      ("embeddings", Seq("vec_id"), (d, _) => d),
      ("documents", Seq("doc_id"), (d, i) =>
        // token-salt: every whitespace token gets a per-copy suffix, so
        // k-grams/shingles of different copies never collide; n_chars
        // re-derived to stay consistent with the salted text
        d.withColumn("text",
            array_join(transform(split(col("text"), " "),
              x => concat(x, lit(s"_c$i"))), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))))

    // a key at or past the stride would collide with the next copy's
    // shifted keys and silently corrupt the copies' references, so every
    // key column's maximum is checked before anything is written
    val maxima = facts.map { case (name, keys, _) =>
      t(name).select(keys.map(k => max(col(k)).cast("long").as(s"$name.$k")): _*)
    }.reduce(_.crossJoin(_)).head()
    maxima.schema.fieldNames.zipWithIndex
      .find { case (_, i) => !maxima.isNullAt(i) && maxima.getLong(i) >= Stride }
      .foreach { case (k, i) => throw new IllegalArgumentException(
        s"$k reaches ${maxima.getLong(i)}, past the copy stride $Stride: copies would collide") }

    /** N copies of `df`, each with every column in `keys` shifted by
      * copy*Stride and the per-copy transform applied. */
    def replicate(df: DataFrame, keys: Seq[String],
                  extra: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map { i =>
        val shifted = keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i * Stride)))
        extra(shifted, i)
      }.reduce(_.unionByName(_))

    val out: Seq[(String, DataFrame)] =
      Seq("region" -> t("region"), "nation" -> t("nation")) ++
        facts.map { case (name, keys, extra) => name -> replicate(t(name), keys, extra) }

    out.foreach { case (name, df) =>
      // enough files that the c8-vs-c32 probe is never capped by split
      // count (small parquet files are one split each); dims stay single
      val nFiles = if (df.columns.contains("r_regionkey") ||
        df.columns.contains("n_nationkey")) 1 else 64
      df.repartition(nFiles)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] wrote $name")
    }
    spark.stop()
  }
}
