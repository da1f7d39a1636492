package graft

import org.apache.spark.sql.functions._
import graft.operators.BandJoin
import graft.pipeline.{Dedup, Similarity, TextAnalysis}

/** Round-12 session-2 operators: exact n-gram Jaccard pairs, first-class
  * k-means clustering + cluster-balanced sampling, batch band join. */
class Round9Spec extends SparkTestBase {

  lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  // ---- exactJaccardPairs ----------------------------------------------------

  test("exactJaccardPairs equals brute-force n-gram Jaccard when the df cap is slack") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "a completely different sentence with no overlap at all here"),
      (4L, "the quick brown fox jumps over the lazy dog today")
    ).toDF("doc_id", "text")
    val k = 4
    // brute-force reference: distinct k-gram string sets, pairwise Jaccard
    val sets = d.collect().map { r =>
      val w = r.getString(1).toLowerCase.split("\\s+")
      r.getLong(0) -> w.sliding(k).map(_.mkString(" ")).toSet
    }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      if j >= 0.5
    } yield (a, b, j)).toSet
    val got = Dedup.exactJaccardPairs(d, threshold = 0.5, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"got $got want $want")
    // identical docs land at exactly 1.0; the disjoint doc pairs with no one
    assert(got.exists { case (a, b, j) => a == 1L && b == 4L && j == 1.0 })
    assert(!got.exists { case (a, b, _) => a == 3L || b == 3L })
  }

  test("exactJaccardPairs df cap only loses pairs, never fabricates") {
    // with maxDf = 2 on a 4-doc corpus where a gram appears in 3 docs, the
    // capped run must be a subset of the uncapped run
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "alpha beta gamma delta epsilon theta"),
      (4L, "unrelated words entirely absent from others list")
    ).toDF("doc_id", "text")
    val capped = Dedup.exactJaccardPairs(d, threshold = 0.3, k = 3, maxDf = 2)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.exactJaccardPairs(d, threshold = 0.3, k = 3, maxDf = 1000)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(full), s"capped $capped must be ⊆ uncapped $full")
  }

  // ---- sourceOverlapMatrix / modelQuality -----------------------------------

  test("sourceOverlapMatrix totals the pair list and canonicalizes pair order") {
    val pairs = Dedup.exactJaccardPairs(docs, threshold = 0.5, k = 4)
    val m = Dedup.sourceOverlapMatrix(docs, threshold = 0.5, k = 4).collect()
    assert(m.map(_.getLong(2)).sum == pairs.count(),
      "matrix cells must partition the pair list")
    assert(m.forall(r => r.getString(0) <= r.getString(1)),
      "src_a <= src_b canonical order")
  }

  test("native hashed_quality is bit-identical to the interpreted HOF chain") {
    import spark.implicits._
    val buckets = 1024
    // tokens that Spark's (ICU) `lower` rewrites and the JVM's case tables
    // do not: U+A7C0, U+1C89 and U+10570 each lower only under ICU
    val edge = spark.sparkContext.parallelize(Seq(
      -1L -> "\ua7c0q \ua7c1q \ua7c0r \ua7c0s \u1c89a \ud801\udd70b",
      -2L -> "\ua7c0Q  \ua7c1q x \ua7c0\ua7c0"), 2).toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text").unionByName(edge)
    val weightOf = // the SQL-oracle arithmetic, evaluated interpreted
      s"(CAST(conv(substring(md5(concat('qw', CAST(" +
        s"CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % $buckets" +
        s" AS STRING))), 1, 4), 16, 10) AS BIGINT) % 17) - 8"
    val hof = corpus
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)").as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        expr(s"aggregate(transform(w, t -> $weightOf), 0L, (acc, x) -> acc + x)")
          .as("w_sum"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val native = TextAnalysis.modelQuality(corpus, buckets)
      .select("doc_id", "n_tokens", "w_sum")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(native.toSeq == hof.toSeq,
      "primitive-loop scorer must reproduce the HOF/oracle arithmetic exactly")
  }

  test("modelQuality is partition-invariant (integer feature sums) and keep-consistent") {
    val a = TextAnalysis.modelQuality(docs).orderBy("doc_id").collect()
    val b = TextAnalysis.modelQuality(docs.repartition(13)).orderBy("doc_id").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "hashed integer sums must not depend on partitioning")
    assert(a.forall(r => r.getBoolean(4) == (2 * r.getLong(2) >= r.getLong(1))),
      "keep must be the exact integer form of score >= 0.5")
    assert(a.map(_.getLong(2)).distinct.length > 1, "weights must discriminate")
  }

  // ---- kmeansClusters / clusterBalancedSample -------------------------------

  test("kmeansClusters assigns every vector once with an exact census") {
    val out = Similarity.kmeansClusters(emb, cells = 16).collect()
    assert(out.length == emb.count())
    assert(out.map(_.getLong(0)).distinct.length == out.length, "one row per vec_id")
    assert(out.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 16))
    val census = out.groupBy(_.getInt(1)).view.mapValues(_.length.toLong).toMap
    assert(out.forall(r => r.getLong(2) == census(r.getInt(1))),
      "cluster_size must equal the actual member count")
    // deterministic: a second run reproduces the assignment bit-for-bit
    val again = Similarity.kmeansClusters(emb, cells = 16).collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1))).toSet ==
      again.map(r => (r.getLong(0), r.getInt(1))).toSet)
  }

  test("clusterBalancedSample takes the lowest per-cluster ids, heap path == window path") {
    val perCluster = 3
    val got = Similarity.clusterBalancedSample(emb, perCluster = perCluster, cells = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // independent reference: full assignment + row_number window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy("vec_id")
    val want = Similarity.kmeansClusters(emb, cells = 16)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perCluster)
      .select("vec_id", "cluster")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == want, s"heap-based sample must equal the window reference")
    // quota: never more than perCluster per cluster
    assert(got.groupBy(_._2).values.forall(_.size <= perCluster))
  }

  // ---- BandJoin -------------------------------------------------------------

  test("BandJoin.trailing equals the naive theta join, including boundaries and pre-epoch") {
    import spark.implicits._
    val w = 100L
    val left = Seq((1L, 1L, 250L), (2L, 1L, 100L), (3L, 2L, 0L), (4L, 3L, -50L))
      .toDF("l_id", "k", "lts")
    val right = Seq(
      (10L, 1L, 150L), // exactly lts-100 for l=250 → included (>= lower bound)
      (11L, 1L, 249L), // just inside for l=250
      (12L, 1L, 250L), // equal to lts → excluded (strictly before)
      (13L, 1L, 149L), // just below the bound for l=250 → excluded
      (14L, 2L, -80L), // pre-epoch right serving l=0
      (15L, 3L, -149L), // pre-epoch band floor: serves l=-50
      (16L, 3L, -151L) // outside the window for l=-50
    ).toDF("r_id", "k", "rts")
    val got = BandJoin.trailing(left, right, Seq("k"), "lts", "rts", w)
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = left.crossJoin(right.withColumnRenamed("k", "k2"))
      .filter(col("k") === col("k2") &&
        col("rts") < col("lts") && col("rts") >= col("lts") - w)
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"got $got want $want")
    assert(want.contains((1L, 10L)) && !want.contains((1L, 12L)) &&
      !want.contains((1L, 13L)) && want.contains((4L, 15L)) && !want.contains((4L, 16L)))
  }

  test("BandJoin.trailing equals the theta join on randomized data and windows") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (window <- Seq(7L, 100L, 3600L)) {
      // timestamps clustered near band multiples so boundary cases occur,
      // keys from a small set so matches are dense, negatives included
      def ts() = (rnd.nextInt(40) - 10) * window / 4 + rnd.nextInt(9) - 4
      val left = Seq.tabulate(60)(i => (i.toLong, rnd.nextInt(4).toLong, ts()))
        .toDF("l_id", "k", "lts")
      val right = Seq.tabulate(60)(i => (i.toLong, rnd.nextInt(4).toLong, ts()))
        .toDF("r_id", "k", "rts")
      val got = BandJoin.trailing(left, right, Seq("k"), "lts", "rts", window)
        .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = left.crossJoin(right.withColumnRenamed("k", "k2"))
        .filter(col("k") === col("k2") &&
          col("rts") < col("lts") && col("rts") >= col("lts") - window)
        .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"window=$window: got ${got.size} want ${want.size} pairs")
      assert(want.nonEmpty, s"window=$window: degenerate draw, no matches to check")
    }
  }

  test("corpusReport is exact-integer consistent with its inputs") {
    val rep = TextAnalysis.corpusReport(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rep("n_docs") == docs.count().toDouble)
    assert(rep("mean_doc_tokens") == rep("total_tokens") / rep("n_docs"))
    val langTotal = rep.collect { case (m, v) if m.startsWith("docs_lang_") => v }.sum
    assert(langTotal == rep("n_docs"), "per-lang counts must partition the corpus")
    assert(rep("quality_keep_rate") >= 0.0 && rep("quality_keep_rate") <= 1.0)
  }

  test("q_interval_join plans as an equi-join — no nested-loop or cartesian node") {
    val df = SparkEntry.queries("q_interval_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"band join must stay an equi-join:\n$plan")
    assert(df.count() > 0)
  }
}
