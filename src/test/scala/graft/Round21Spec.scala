package graft

import org.apache.spark.sql.functions._

import graft.mapping.Template

/** Round-21 focused tests: the word-gram digest bit-equivalence property
  * the r20 native expression lacked (ADVICE), and the injective template
  * signature encoding (delimiter escaping) the post-aggregation URI
  * rebuild now relies on. */
class Round21Spec extends SparkTestBase {

  test("word_gram_digests is bit-identical to the SQL md5-of-concat_ws " +
    "chain it replaces — k in {2,3,8}, with and without distinct, " +
    "including 0/1-token, whitespace-only, and trailing-whitespace " +
    "fixtures") {
    import spark.implicits._
    val fixtures = Seq(
      "the quick brown fox jumps over the lazy dog",
      "rep rep rep rep rep rep", // duplicate grams — distinct matters
      "one-token", // single token, n < k: one short window
      "", // empty text: split yields [""], one window
      "   ", // whitespace-only: split(lower, \s+) yields ["", ...]
      "trailing whitespace case   ", // trailing \s+ tokens
      "Mixed CASE Ümlauts ßharp 😀 emoji tokens here",
      // U+A7C0 lowers to U+A7C1 under Spark's (ICU) `lower`, not under the
      // JVM's case tables: these grams merge only when lowered that way
      "\ua7c0q \ua7c1q \ua7c0q \ua7c1q \ua7c0q tail",
      "\ua7c1Q \ua7c0q",
      "two words")
    // an RDD, not a local Seq: the optimizer folds projections over a
    // LocalRelation by interpreted eval, so no generated code would run
    val df = spark.sparkContext.parallelize(
      fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }, 2).toDF("id", "text")
    for (k <- Seq(2, 3, 8); dis <- Seq(true, false)) {
      // the native digest is a signed 64-bit long carrying EXACTLY the
      // bits of the hex-prefix-16 contract digest: render it back to hex
      // (two's complement, zero-padded) and it must equal the SQL chain
      val nativeHex = df.select(col("id"),
          graft.functions.GraftFunctions.word_gram_digests(
            col("text"), k, distinct = dis).as("gl"))
        .select(col("id"), expr(
          "transform(gl, x -> lower(lpad(hex(x), 16, '0')))").as("g"))
      val raw = "transform(sequence(1, greatest(size(w) - " +
        s"${k - 1}, 1)), i -> substring(md5(concat_ws(' ', " +
        s"slice(w, i, $k))), 1, 16))"
      val sql = df
        .withColumn("w", split(lower(col("text")), "\\s+"))
        .select(col("id"),
          expr(if (dis) s"array_distinct($raw)" else raw).as("g"))
      val n = nativeHex.orderBy("id").as[(Long, Seq[String])].collect().toSeq
      val q = sql.orderBy("id").as[(Long, Seq[String])].collect().toSeq
      assert(n == q, s"k=$k distinct=$dis diverged")
    }
  }

  test("char_grams_distinct is value-identical to the SQL " +
    "array_distinct(transform(sequence, substring)) chain it replaces — " +
    "q in {2,3,4,10}, including multi-byte codepoints, repeated grams, " +
    "and strings shorter than q") {
    import spark.implicits._
    val fixtures = Seq(
      "abcdefabcdef", // repeated grams — distinct matters
      "aaaaaaa", // one gram repeated
      "ümlautß mixed ïnto it", // multi-byte codepoints
      "😀ab😀ab", // supplementary-plane
      "ab", "x", "", // shorter than most q
      "0123456789abcdef")
    val df = spark.sparkContext.parallelize(
      fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }, 2).toDF("id", "s")
    for (q <- Seq(2, 3, 4, 10)) {
      val native = df.select(col("id"),
        graft.functions.GraftFunctions.char_grams_distinct(col("s"), q).as("g"))
      val sql = df.select(col("id"), expr(
        s"CASE WHEN length(s) >= $q THEN array_distinct(transform(" +
          s"sequence(1, length(s) - ${q - 1}), i -> substring(s, i, $q))) " +
          "ELSE array() END").as("g"))
      val n = native.orderBy("id").as[(Long, Seq[String])].collect().toSeq
      val e = sql.orderBy("id").as[(Long, Seq[String])].collect().toSeq
      assert(n == e, s"q=$q diverged")
    }
  }

  test("repetitionStats (in-row) equals the explode->count->aggregate " +
    "chain it replaces, including the 1-token concat_ws-skips-null " +
    "bigram edge, ties in top counts, and repeated unigrams/bigrams") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a"), // repeated unigrams AND bigrams
      (2L, "one-token"), // single token: its own "bigram"
      (3L, ""), // split -> [""]: one empty token
      (4L, "x x x x x x"), // degenerate repetition, keep=false
      (5L, "all distinct words here now"),
      (6L, "Tie tie TIE case mix case mix") // lowering + tied tops
    ).toDF("doc_id", "text")
    val now = graft.pipeline.TextAnalysis.repetitionStats(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    // the r20 aggregate formulation, verbatim
    val base = docs.select(col("doc_id"),
      split(lower(col("text")), "\\s+").as("w"))
    val u = base.select(col("doc_id"), explode(col("w")).as("tok"))
      .groupBy("doc_id", "tok").count()
      .groupBy("doc_id").agg(
        sum("count").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct_tokens"),
        max("count").cast("long").as("top_unigram_n"))
    val bg = base.select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(size(w) - 1, 1)), i -> " +
          "concat_ws(' ', try_element_at(w, i), try_element_at(w, i + 1)))")).as("g"))
      .groupBy("doc_id", "g").count()
      .groupBy("doc_id").agg(
        sum("count").cast("long").as("n_bigrams"),
        max("count").cast("long").as("top_bigram_n"))
    val old = u.join(bg, "doc_id")
      .withColumn("keep",
        col("top_unigram_n") * 5 <= col("n_tokens") &&
          col("top_bigram_n") * 5 <= col("n_bigrams"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(now == old)
  }

  test("Template.signature escapes literal delimiters — the adversarial " +
    "literal that used to collide with two clean literals now gets its " +
    "own signature, and clean signatures are unchanged") {
    // old encoding: L(x)|L(y)|C for BOTH shapes — the r21 ADVICE collision
    val adversarial = Template(List(Left("x)|L(y"), Right("c")))
    val twoClean = Template(List(Left("x"), Left("y"), Right("c")))
    assert(adversarial.signature != twoClean.signature)
    assert(adversarial.signature == "L(x\\)\\|L\\(y)|C")
    assert(twoClean.signature == "L(x)|L(y)|C")
    // clean literals (no delimiter chars) keep the legacy encoding, so
    // same-signature join pruning is untouched for every real mapping
    val clean = Template(List(Left("http://ex.org/n/"), Right("key")))
    assert(clean.signature == "L(http://ex.org/n/)|C")
    // backslash itself round-trips (escape char is escaped)
    val bs = Template(List(Left("a\\b"), Right("c")))
    assert(bs.signature == "L(a\\\\b)|C")
  }
}
