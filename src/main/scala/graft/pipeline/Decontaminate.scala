package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the training-data hygiene pass that flags
  * corpus documents sharing verbatim k-grams with an evaluation/benchmark
  * suite, so test data never leaks into a training set.
  *
  * Scale shape: the benchmark side is small by construction (eval suites
  * are thousands of documents, the corpus is the 100 TB side), so its
  * distinct k-gram id set broadcasts; the corpus streams once, map-only,
  * through shingling ([[graft.functions.GraftFunctions.shingle_ids]], codegen'd 64-bit
  * gram ids — grams never shuffle as strings) and a broadcast semi-join,
  * then one aggregation keyed on doc_id. No corpus-side shuffle carries
  * more than (doc_id, gram_id) for the *matching* grams.
  */
object Decontaminate {

  /** Corpus documents sharing ≥1 distinct k-gram with the benchmark, with
    * the matched-gram count as contamination evidence.
    * Output: (doc_id, n_matched_grams). */
  def flagged(corpus: DataFrame, benchmark: DataFrame, k: Int = 5): DataFrame = {
    val corpusGrams = Dedup.withShingles(corpus, k)
      .select(col("doc_id"), explode(col("shingles")).as("g"))
    val benchGrams = Dedup.withShingles(benchmark, k)
      .select(explode(col("shingles")).as("g")).distinct()
    corpusGrams.join(broadcast(benchGrams), Seq("g"), "inner")
      .groupBy("doc_id")
      .agg(count_distinct(col("g")).as("n_matched_grams"))
  }

  /** Exact-substring CONTAMINATION spans — the decontamination use of
    * the ExactSubstr method (Lee et al.: verbatim benchmark text inside
    * training documents inflates eval scores; gram-level flags like
    * [[flagged]] say WHICH docs, this says WHERE): per corpus document,
    * the merged [start, end) character spans whose `window`-char
    * substring occurs ANYWHERE in the benchmark. Unlike
    * [[Dedup.exactSubstrSpans]] there is no keep-first — every
    * occurrence of benchmark text is marked. The benchmark side reduces
    * to DISTINCT window digests (fixed-width, broadcast like
    * [[flagged]]'s gram set — benchmarks are small by definition); the
    * corpus side is the same ONE native digest pass per doc. Digest
    * identity is the family's md5-prefix contract, oracle-mirrored.
    *
    * The BENCHMARK side always digests at stride 1, whatever `stride`
    * the caller picks for the corpus: the benchmark set is
    * broadcast-small by this function's own contract, and sampling it
    * would make a corpus window match only when the two occurrences
    * happen to agree mod stride — a silent recall hole in a
    * safety-oriented op. With every benchmark offset present, corpus
    * `stride = s > 1` guarantees detection of every contamination of
    * length ≥ window + s - 1 (that many eligible window starts always
    * straddle a sampled position), with span edges coarsened by < s;
    * contaminations in [window, window + s - 2] can still be missed at
    * unlucky offsets — set stride 1 (the default) when the window IS
    * the exact detection floor. */
  def contaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
                        window: Int = 40, stride: Int = 1): DataFrame = {
    require(window >= 2 && stride >= 1, s"bad window=$window/stride=$stride")
    val occ = Dedup.substrOccurrences(corpus, window, stride)
    val benchG = Dedup.substrOccurrences(benchmark, window, 1)
      .select("g").distinct()
    Dedup.mergeSpans(occ.join(broadcast(benchG), Seq("g"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + window).as("e")))
  }

  /** Rewrite the corpus with its [[contaminatedSpans]] cut out —
    * span-level decontamination (dropping whole flagged documents
    * wastes everything around a quoted benchmark item). Returns
    * (doc_id, clean_text, n_removed_chars); uncontaminated docs pass
    * through verbatim. */
  def decontaminateText(corpus: DataFrame, benchmark: DataFrame,
                        window: Int = 40, stride: Int = 1): DataFrame =
    Dedup.removeSpans(corpus,
      contaminatedSpans(corpus, benchmark, window, stride))

  /** The benchmark's distinct k-gram ids as a driver-side array — bounded
    * by construction (eval suites are small), for shipping into the
    * streaming filter as a literal. */
  def benchmarkGramIds(benchmark: DataFrame, k: Int = 5): Array[Long] =
    Dedup.withShingles(benchmark, k)
      .select(explode(col("shingles")).as("g")).distinct()
      .collect().map(_.getLong(0)).sorted

  /** Bloom-filter face of [[flagged]] — the decontamination shape when even
    * the benchmark's distinct gram-id set is too big to broadcast exactly
    * (a 10k-task cluster × a multi-GB gram set): a Bloom filter over the
    * benchmark grams is `-n·ln(fpp)/ln²2` BITS (~1.2 MB per million grams
    * at 1%), built distributed (bitwise-OR merge — partition-order
    * independent, so the filter is deterministic given the data) and
    * broadcast once; the corpus streams map-only through it.
    *
    * The price is one-sided: a Bloom filter has NO false negatives, so
    * every truly contaminated document is still flagged — the safety
    * property decontamination actually needs — while clean documents are
    * overblocked at a rate that COMPOUNDS per gram: `gramFpp` is the
    * per-membership-query rate, and a g-gram document is falsely flagged
    * with probability `1-(1-gramFpp)^g ≈ g·gramFpp`. Sizing against the
    * per-doc budget is the operator's job, not the caller's intuition —
    * the default 1e-4 holds per-doc overblocking near 0.5% at ~50 grams
    * per document (the naive 1% "sounds safe" setting overblocks a THIRD
    * of a 50-gram corpus; the spec pins this). Emits the per-document
    * contract the oracle gates: `contaminated` (exact, recomputed in SQL)
    * and `bloom_ok` = contaminated ⇒ flagged (the no-false-negative
    * invariant; the overblocked count is spec-pinned, not oracle-gated,
    * because no SQL engine reproduces the filter's bit layout). */
  def bloomContract(corpus: DataFrame, benchmark: DataFrame, k: Int = 5,
                    gramFpp: Double = 1e-4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val benchGrams = Dedup.withShingles(benchmark, k)
      .select(explode(col("shingles")).as("g")).distinct()
    val nBench = math.max(benchGrams.count(), 1L)
    val bloom = benchGrams.stat.bloomFilter("g", nBench, gramFpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val flaggedBloom = Dedup.withShingles(corpus, k)
      .select(col("doc_id"), col("shingles")).as[(Long, Seq[Long])]
      .map { case (id, gs) => (id, gs.exists(bc.value.mightContainLong)) }
      .toDF("doc_id", "bloom_flagged")
    val exact = flagged(corpus, benchmark, k)
      .select(col("doc_id"), lit(true).as("c"))
    flaggedBloom.join(exact, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("c"), lit(false)).as("contaminated"),
        (col("bloom_flagged") || !coalesce(col("c"), lit(false))).as("bloom_ok"))
  }

  /** Streaming face of [[flagged]]: drop documents sharing any verbatim
    * k-gram with the benchmark as they arrive. The gram-id set rides the
    * plan as a literal array, so the filter is STATELESS — works on
    * unbounded streams with zero state store, no watermark needed. */
  def decontaminatedStream(docs: DataFrame, benchGramIds: Array[Long],
                           k: Int = 5): DataFrame =
    docs.filter(size(array_intersect(
      graft.functions.GraftFunctions.shingle_ids(col("text"), k),
      typedLit(benchGramIds.toSeq))) === 0)
}
