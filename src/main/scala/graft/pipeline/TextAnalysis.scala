package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines. Everything is
  * regexp/length column arithmetic — codegen'd, no UDFs, embarrassingly
  * parallel (map-only over the corpus, no shuffles at all).
  *
  * Every operator here has an exact ANSI-SQL mirror (see
  * `SparkEntry.oracleSql`), so results are oracle-checkable — the
  * heuristics are deliberately expressed with engine-portable regex
  * features (no lookarounds, RE2-compatible).
  */
object TextAnalysis {

  private def countMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** Whitespace token count + char count. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      countMatches(col("text"), "\\S+").cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"))

  /** Canonical text normalization — the first map of every ingest: Unicode
    * NFC composition (native codegen'd kernel,
    * [[graft.functions.GraftFunctions.nfc_normalize]] — é as e+◌́ and é as one codepoint
    * must dedup/shingle identically), control characters to spaces, space
    * runs collapsed, ends trimmed. Map-only and engine-portable: the
    * DuckDB oracle is `nfc_normalize` + the same two regexes (explicit
    * `[\x00-\x1f\x7f]` class — RE2 and Java agree on it, unlike the
    * engine-varying `\s`/`\p{Cntrl}` shorthands). Emits (doc_id,
    * text_norm, changed) so downstream stages can skip rewriting
    * untouched mass. */
  def normalizeText(docs: DataFrame): DataFrame = {
    val nfc = graft.functions.GraftFunctions.nfc_normalize(col("text"))
    val noCtl = regexp_replace(nfc, "[\\x00-\\x1f\\x7f]", " ")
    val norm = trim(regexp_replace(noCtl, "  +", " "))
    docs.select(col("doc_id"), norm.as("text_norm"),
      (norm =!= col("text")).as("changed"))
  }

  val StopwordsEn = List("the", "a", "an", "of", "to", "in", "and", "is", "it", "for")

  /** Quality-filter funnel: ordered named rules, each document attributed
    * to the FIRST rule that rejects it (or kept). The attribution is what
    * a production pipeline needs beyond a bare keep flag — a
    * `groupBy(first_fail)` of this output IS the funnel report that says
    * where the corpus is being lost, and rule order is explicit so the
    * numbers are stable when rules are added. Map-only: the rules run as
    * one native kernel per row ([[graft.functions.GraftFunctions.funnel_first_fail]]) and
    * the token count as a byte scan; the rules are integer and string
    * comparisons over `split(lower(text), '\s+')`, so the attribution is
    * exact across engines. */
  def filterFunnel(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.GraftFunctions.ws_token_count(col("text")).as("n_tokens"),
        funnelFirstFail.as("first_fail"))
      .withColumn("keep", col("first_fail").isNull)

  /** The funnel's first-failing-rule expression over a raw docs row —
    * shared with [[graft.pipeline.Prepare.prepareCorpus]], whose keep
    * step is `filter(funnelFirstFail.isNull)`: a doc_id-unique corpus
    * makes that filter row-identical to the semi-join on the funnel's
    * keep ids, without re-joining the corpus against its own projection
    * (guide §2.4 — remove shuffles outright). Rules, in order:
    * `too_short` (< 20 tokens), `too_long` (> 500 chars), `low_diversity`
    * (distinct tokens × 3 < tokens), `non_english` (lang ≠ 'en'). */
  private[pipeline] def funnelFirstFail: Column =
    graft.functions.GraftFunctions.funnel_first_fail(col("text"), col("lang"))

  /** Salient terms per document — keyword extraction with an INTEGER-only
    * ordering (tf desc, then df asc, then term), so the ranking is exact
    * and engine-portable where a float tf·idf rank could flip on a last-ulp
    * log difference. `maxDf` drops corpus-wide stopwords from contention
    * (saliency needs rarity; the cap also bounds the df join's output).
    * Emits (doc_id, term, tf, df, rk ≤ k).
    *
    * The `row_number` window here partitions by doc_id — each partition is
    * one document's distinct terms, bounded by document length, so the
    * skewed-window pathology ([[graft.pipeline.Mixture.rarityProfile]]'s
    * round-6 defect: windows over CORPUS keys, where one partition can be
    * 10 % of the data) cannot occur: per-key state is document-sized at
    * any corpus scale. Document frequency aggregates over the (doc, term)
    * pre-aggregate, never the raw token stream. */
  def topTerms(docs: DataFrame, k: Int = 3, maxDf: Long = 50): DataFrame = {
    require(k >= 1 && maxDf >= 1, s"bad k=$k / maxDf=$maxDf")
    val tf = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfByTerm = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfByTerm, Seq("term"))
      .filter(col("df") <= maxDf)
      .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("term"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), col("rk"))
  }

  /** Quality scoring: raw integer counts (deterministic across engines) +
    * a boolean keep/drop flag from fixed thresholds — the C4-style
    * length/punctuation/stopword heuristic family. */
  def qualityStats(docs: DataFrame): DataFrame = {
    val stop = StopwordsEn.mkString("\\b(", "|", ")\\b")
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      countMatches(col("text"), "\\S+").cast("long").as("n_tokens"),
      countMatches(col("text"), "[.,!?;:]").cast("long").as("n_punct"),
      countMatches(lower(col("text")), stop).cast("long").as("n_stopwords")
    ).withColumn("keep",
      col("n_tokens") >= 10 && col("n_chars") >= 50 &&
        col("n_punct") * 4 <= col("n_tokens"))
  }

  /** Model-based quality scoring with the hashing trick — the
    * fastText-style linear-classifier filter stage of a production data
    * pipeline, with the Spark plumbing real and the MODEL stubbed
    * deterministically (the multimodal convention: no trained weights ship
    * in this container, so the weight table is a pure function of the slot
    * id; a real model would broadcast its weight array through exactly this
    * shape). Every lower-cased whitespace token hashes into one of
    * `buckets` feature slots (engine-portable md5 low-32 hash — the
    * mixture-sampling convention) and each slot carries an integer weight
    * in [-8, 8]. The doc score is the mean slot weight; keep tests
    * score ≥ 0.5 as `2·Σw ≥ n` in EXACT integer arithmetic — integer sums
    * are associative, so the score is bit-identical across engines and
    * partitionings where a float feature sum would drift. One map-only
    * pass, codegen arithmetic, no shuffle.
    * Output: (doc_id, n_tokens, w_sum, score, keep). */
  def modelQuality(docs: DataFrame, buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"bad buckets=$buckets")
    docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.hashed_quality(col("text"), buckets)
          .as("hq"))
      .select(col("doc_id"),
        col("hq").getItem(0).as("n_tokens"),
        col("hq").getItem(1).as("w_sum"))
      .withColumn("score",
        when(col("n_tokens") > 0,
          col("w_sum").cast("double") / col("n_tokens")).otherwise(lit(0.0)))
      .withColumn("keep", col("w_sum") * 2 >= col("n_tokens"))
  }

  /** One-call corpus health report — the first thing a curator asks of an
    * unfamiliar 100-TB lake, as one tall (metric, value) frame: corpus
    * size, exact-duplicate mass (distinct md5 digests), source fan-out,
    * token volume, hashing-trick quality keep rate ([[modelQuality]]'s
    * integer rule), and per-language doc counts. Two aggregation passes
    * over one shared scan (a global multi-aggregate — the two DISTINCTs
    * ride one expand — plus a per-lang count); every value derives from
    * integer counts, so doubles are exact ratios and the report is
    * bit-stable across engines and partitionings. */
  def corpusReport(docs: DataFrame, buckets: Int = 1024): DataFrame = {
    val withq = docs.select(col("lang"), col("source"),
        md5(col("text")).as("h"),
        graft.functions.GraftFunctions.hashed_quality(col("text"), buckets)
          .as("hq"))
      .select(col("lang"), col("source"), col("h"),
        col("hq").getItem(0).as("nt"),
        (col("hq").getItem(1) * 2 >= col("hq").getItem(0))
          .cast("long").as("keep"))
    val base = withq
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct_texts"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("nt")).as("total_tokens"),
        sum(col("keep")).as("n_keep"))
      .select(expr(
        """stack(6,
          |  'n_docs', CAST(n_docs AS DOUBLE),
          |  'n_distinct_texts', CAST(n_distinct_texts AS DOUBLE),
          |  'n_sources', CAST(n_sources AS DOUBLE),
          |  'total_tokens', CAST(total_tokens AS DOUBLE),
          |  'mean_doc_tokens', CAST(total_tokens AS DOUBLE) / n_docs,
          |  'quality_keep_rate', CAST(n_keep AS DOUBLE) / n_docs
          |) AS (metric, value)""".stripMargin))
    val langs = withq.groupBy("lang").agg(count(lit(1)).as("c"))
      .select(concat(lit("docs_lang_"), col("lang")).as("metric"),
        col("c").cast("double").as("value"))
    base.unionByName(langs)
  }

  /** Language-ID by stopword/script n-gram counts: CJK codepoints ⇒ zh,
    * else the language with the highest stopword hit count (ties resolve
    * in fixed order en > de > fr > es, matching the SQL mirror). */
  def langId(docs: DataFrame): DataFrame = {
    def wl(ws: List[String]) = ws.mkString("\\b(", "|", ")\\b")
    val en = wl(List("the", "and", "of", "to", "in", "is", "it", "with"))
    val de = wl(List("der", "die", "das", "und", "ist", "nicht", "mit", "ein"))
    val fr = wl(List("le", "les", "et", "est", "une", "dans", "que", "pour"))
    val es = wl(List("el", "los", "y", "es", "un", "una", "en", "por"))
    docs.select(
      col("doc_id"),
      countMatches(col("text"), "[\\x{4e00}-\\x{9fff}]").cast("long").as("zh_n"),
      countMatches(lower(col("text")), en).cast("long").as("en_n"),
      countMatches(lower(col("text")), de).cast("long").as("de_n"),
      countMatches(lower(col("text")), fr).cast("long").as("fr_n"),
      countMatches(lower(col("text")), es).cast("long").as("es_n")
    ).withColumn("lang_pred",
      when(col("zh_n") > 0, "zh")
        .when(col("en_n") >= col("de_n") && col("en_n") >= col("fr_n") &&
          col("en_n") >= col("es_n"), "en")
        .when(col("de_n") >= col("fr_n") && col("de_n") >= col("es_n"), "de")
        .when(col("fr_n") >= col("es_n"), "fr")
        .otherwise("es"))
      .select("doc_id", "lang_pred", "en_n", "de_n", "fr_n", "es_n", "zh_n")
  }

  /** Document fingerprint: md5 digest of the alnum-normalized text —
    * whitespace/punctuation-robust exact matching (the cheap end of the
    * rolling-hash/winnowing family; MinHash in [[Dedup]] covers the fuzzy
    * end). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs
      // the normalization regex dominates; fan a single input file out
      // across the cluster before it runs
      .repartition(col("doc_id"))
      .select(
        col("doc_id"),
        md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).as("fingerprint"))
  /** PII patterns shared with the DuckDB oracle — RE2-compatible, no
    * lookarounds (emails, IPv4, long digit runs ≈ phone/account numbers). */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PiiDigits = "\\b[0-9]{7,}\\b"

  /** PII redaction — the scrubbing pass of a training-data pipeline:
    * map-only regexp replacement (emails → [EMAIL], IPv4 → [IP], 7+-digit
    * runs → [NUM]) plus per-document hit counts for audit. Order matters:
    * IPs redact before bare digit runs so an IP never half-matches. */
  def redactPii(docs: DataFrame): DataFrame = {
    val step1 = regexp_replace(col("text"), PiiEmail, "[EMAIL]")
    val step2 = regexp_replace(step1, PiiIpv4, "[IP]")
    val step3 = regexp_replace(step2, PiiDigits, "[NUM]")
    docs.select(
      col("doc_id"),
      md5(step3).as("redacted_hash"),
      countMatches(col("text"), PiiEmail).cast("long").as("n_emails"),
      countMatches(col("text"), PiiIpv4).cast("long").as("n_ips"),
      countMatches(col("text"), PiiDigits).cast("long").as("n_digit_runs"))
  }

  /** Gopher-style repetition quality signals: per-document unigram and
    * bigram frequency concentration (`top_*_n` = occurrences of the most
    * frequent gram) plus vocabulary diversity. Raw integer counts keep the
    * result deterministic across engines; the `keep` flag applies fixed
    * ≤20 % repetition thresholds in pure integer arithmetic. Two
    * explode→count aggregations shuffled on (doc_id, gram) — partial
    * aggregation absorbs the heavy duplication map-side, so the shuffle
    * carries one row per distinct gram, not per token. */
  def repetitionStats(docs: DataFrame): DataFrame =
    // every statistic is PER-DOCUMENT, so it is computed IN-ROW by one
    // native expression (sorted-run counting — exact multiplicities, no
    // hashing): the r20 shape repartitioned the full corpus text on
    // doc_id and ran two explode→count→agg chains plus a join just to
    // count within each row's own token array (guide §2.1 — at scale
    // that repartition is a whole-corpus shuffle for a map-only answer)
    // a NULL text exploded into no rows in the aggregate form (the doc
    // vanished via the inner join) — the filter preserves that edge
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.repetition_stats(col("text")).as("r"))
      .select(col("doc_id"),
        col("r.n_tokens").as("n_tokens"),
        col("r.n_distinct_tokens").as("n_distinct_tokens"),
        col("r.top_unigram_n").as("top_unigram_n"),
        col("r.n_bigrams").as("n_bigrams"),
        col("r.top_bigram_n").as("top_bigram_n"))
      .withColumn("keep",
        col("top_unigram_n") * 5 <= col("n_tokens") &&
          col("top_bigram_n") * 5 <= col("n_bigrams"))

  /** Token-budget sequence packing — group documents into training bins of
    * at most `budget` tokens, by *length-bucketed fixed-capacity packing*:
    * all documents of one token count pack `budget div len` to a bin (the
    * per-length optimum), bins never mix lengths. Compared to first-fit this
    * trades a little cross-length bin merging for properties that matter in
    * a pipeline: the assignment is a pure window expression — deterministic
    * (no range-sampling), embarrassingly parallel (shuffle on token count,
    * `row_number` within each length group), reproducible across runs and
    * engines, and bounded-padding (every bin's docs share one length).
    * Oversized docs get singleton bins (they would be chunked upstream).
    * Bin ids are globally unique via (token count « 32) | per-length index. */
  def packBins(docs: DataFrame, budget: Long = 1024): DataFrame =
    packBinsByCount(
      docs.select(
        col("doc_id"),
        countMatches(col("text"), "\\S+").cast("long").as("n_tokens")),
      budget)

  /** Packing over a precomputed (doc_id, n_tokens) table — the
    * composition point for MODEL-token budgets: feed it
    * [[Bpe.tokenize]]'s `n_bpe_tokens` and bins respect what the
    * training run actually consumes, not whitespace runs. Same pure
    * window expression; the window key `n_tokens` has bounded
    * cardinality (token counts, not documents), so partitions stay
    * balanced at corpus scale. */
  def packBinsByCount(counts: DataFrame, budget: Long = 1024): DataFrame =
    counts.selectExpr("doc_id", "n_tokens",
      "shiftleft(n_tokens, 32) | " +
        "((row_number() OVER (PARTITION BY n_tokens ORDER BY doc_id) - 1) " +
        s"div greatest(1L, $budget div greatest(n_tokens, 1L))) AS bin_id")

  /** Sliding-window chunking — the context-window preparation step (RAG
    * indexing, long-document training): each document yields overlapping
    * `size`-token chunks every `size - overlap` tokens, so no token span
    * longer than `overlap` straddles a boundary unseen. Map-only: the
    * token array is sliced in place per document (the same
    * projected-column discipline as boilerplateClean — no per-token
    * explode, no shuffle), chunk indices are deterministic, and short
    * documents yield exactly one chunk. Emits
    * (doc_id, chunk_idx, chunk, n_tokens). */
  def chunk(docs: DataFrame, size: Int = 32, overlap: Int = 8): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    val nChunks = greatest(
      ceil((org.apache.spark.sql.functions.size(col("toks")) - lit(overlap)) /
        lit(stride.toDouble)).cast("int"), lit(1))
    docs
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(col("toks")).as("n_toks"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          k => concat_ws(" ", slice(col("toks"), k * lit(stride) + 1, lit(size)))))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"), col("chunk"),
        least(lit(size), col("n_toks") - col("chunk_idx") * lit(stride))
          .cast("long").as("n_tokens"))
  }

  /** N-gram LM perplexity scoring — the CCNet/Gopher-style quality signal:
    * train add-k-smoothed bigram counts on a reference corpus (default:
    * the corpus itself) and score each document by its mean negative
    * log-likelihood in milli-nats per bigram. High scores flag
    * out-of-distribution text (boilerplate, gibberish, wrong register) —
    * the standard LM-filter stage of a training-data pipeline.
    *
    * Scale shape: token/bigram explode → ONE bigram-count shuffle (map-side
    * combines); context counts derive from the bigram table (no second
    * corpus pass); scoring LEFT-joins doc bigrams against the count tables
    * on gram keys — shuffle joins, no broadcast assumption, because a
    * corpus-scale LM table is itself huge. Unseen grams (cross-corpus
    * scoring) fall back to the smoothing floor k/(k·V). Per-doc state is
    * one sum — no windows over the corpus.
    *
    * Output determinism: the score is emitted as integer milli-nats
    * (ROUND(-1000·Σlog/N)); per-term log ulp differences across engines
    * (~1e-15) sit ten orders below the rounding granularity, so the
    * DuckDB oracle hashes identically — the same integer-exact convention
    * as the rest of the text family. Docs with no bigram (< 2 tokens) are
    * excluded by construction, like [[topTerms]]' df floor.
    * Output: (doc_id, n_bigrams, nll_milli). */
  def perplexity(docs: DataFrame, lmCorpus: DataFrame = null,
                 k: Double = 0.5): DataFrame = {
    val lm = Option(lmCorpus).getOrElse(docs)
    // adjacent-pair zip INSIDE the row (one explode of structs) — the
    // posexplode + lead()-window form this replaces shuffled and sorted
    // every (doc_id, pos, token) row just to pair each token with its
    // successor, which the token array already knows in place
    def bigrams(d: DataFrame): DataFrame =
      d.select(col("doc_id"), split(lower(col("text")), "\\s+").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> struct(w[i-1] AS w1, w[i] AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bigrams(lm).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    // vocabulary size: one-row aggregate to the driver (bounded scalar),
    // the smoothing denominator constant
    val v = lm.select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0)
    bigrams(docs)
      .join(c2, Seq("w1", "w2"), "left_outer")
      .join(c1, Seq("w1"), "left_outer")
      .select(col("doc_id"),
        log((coalesce(col("c2"), lit(0L)) + lit(k)) /
            (coalesce(col("c1"), lit(0L)) + lit(k * v))).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(lit(-1000.0) * sum(col("lp")) / count(lit(1)), 0)
          .cast("long").as("nll_milli"))
  }

  /** CCNet-style perplexity bucketing: per language, documents split into
    * head / middle / tail THIRDS by LM perplexity — the standard
    * quality-stratification step before mixture weighting (train mostly
    * on the head, keep a controlled slice of the tail). Thresholds are
    * type-1 tertiles over the per-lang `nll_milli` histogram (the
    * [[lengthQuantiles]] arithmetic — integer end-to-end on top of the
    * already-gated milli-nat scores), broadcast back as a tiny per-lang
    * table. Output: (doc_id, lang, nll_milli, bucket). */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    // the scored frame feeds TWO consumers (the per-lang tertile
    // derivation and the final bucket join); it is one NARROW row per
    // document, so materialize it once (eager checkpoint — also truncates
    // the LM-join lineage both consumers would otherwise re-plan) instead
    // of re-running the bigram scoring per branch (guide §5)
    val pp = perplexity(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .localCheckpoint()
    val cum = pp.groupBy(col("lang"), col("nll_milli").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("lang").orderBy("v")))
      .withColumn("n", sum("cnt").over(Window.partitionBy("lang")))
    val th = cum
      .withColumn("pm", explode(array(lit(333L), lit(667L))))
      .filter(col("cum") * lit(1000L) >= col("pm") * col("n"))
      .groupBy("lang", "pm").agg(min("v").as("q"))
      .groupBy("lang").agg(
        min(when(col("pm") === 333L, col("q"))).as("t1"),
        min(when(col("pm") === 667L, col("q"))).as("t2"))
    pp.join(broadcast(th), "lang")
      .select(col("doc_id"), col("lang"), col("nll_milli"),
        when(col("nll_milli") <= col("t1"), "head")
          .when(col("nll_milli") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Sketch-based corpus statistics — the 100 TB cardinality tools. Per
    * source: a HyperLogLog distinct-token estimate and an approximate
    * median of per-document token counts, each paired with a contract
    * flag computed against the exact value in the same job. At corpus
    * scale only the sketches are affordable (one pass, bounded state, no
    * exact distinct shuffle); the exact twins exist to GATE the sketches
    * at test scale, and the flags — HLL within its 2 % standard-error
    * budget (×2.5), the approx median within ±10 % rank error — are what
    * the oracle pins, the same honest-contract shape as the ANN rows. */
  /** Compression-ratio quality signal (the Gopher/C4-family heuristic):
    * template spam and keyboard-mash both betray themselves to a
    * general-purpose compressor — boilerplate deflates far below its raw
    * size, high-entropy junk barely at all — so `raw·1000/deflated` is a
    * cheap scalar that separates both tails from prose. One map-only pass,
    * one JDK zlib Deflater per PARTITION (reset per row; the native
    * allocation amortizes). `mapPartitions` is justified the same way as
    * the media codecs: a bit-level codec is not a Catalyst expression.
    * Deflate is likewise not expressible in the SQL oracle, so this row is
    * SPEC-gated (known-plaintext fixtures in `Round11Spec`) with a
    * rows-only driver check — the declared weaker-gate class.
    * Output: (doc_id, raw_bytes, deflate_bytes, ratio_milli). */
  def compressionRatio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(6)
        // release the native zlib buffer when the TASK ends, drained or
        // not — a downstream limit/take or task failure must not strand
        // it until GC finalization
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
        it.map { case (id, text) =>
          val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          d.reset(); d.setInput(raw); d.finish()
          // worst-case deflate expansion is ~raw + raw/16k·5 + 6 — the
          // half-again buffer never overflows
          val out = new Array[Byte](raw.length + (raw.length >> 1) + 64)
          var n = 0
          while (!d.finished()) {
            n += d.deflate(out, n, out.length - n)
          }
          (id, raw.length.toLong, n.toLong,
            if (n == 0) 0L else raw.length * 1000L / n)
        }
      }
      .toDF("doc_id", "raw_bytes", "deflate_bytes", "ratio_milli")
  }

  /** N-gram redundancy — the ENGINE-PORTABLE integer face of the
    * compressibility signal ([[compressionRatio]]'s deflate output is a
    * codec, not SQL, so that row is permanently rows-only; this one the
    * oracle recomputes exactly): per document, the count of DISTINCT
    * 4-char windows vs total 4-char windows (stride 1), and
    * `redundancy_milli = 1000·(total-distinct)/total` (integer-floored).
    * Template spam repeats its windows (high redundancy), keyboard-mash
    * almost never does (near 0) — the same two tails the deflate ratio
    * separates, in pure counting arithmetic. Windows ride as the
    * family's md5-prefix-16 digests from the ONE native codegen pass
    * ([[graft.functions.GraftFunctions.substrWindowHashes]]) — per-doc
    * distinct counts are collision-safe at any real document length
    * (64-bit digest space vs ~10⁶ windows/doc). Docs shorter than 4
    * chars have no window and are excluded (the oracle's
    * generate_series produces no row for them either).
    * Output: (doc_id, total_grams, distinct_grams, redundancy_milli). */
  def ngramRedundancy(docs: DataFrame, k: Int = 4): DataFrame =
    // per-doc counts over the row's OWN window array — map-only: the r20
    // shape repartitioned the corpus and exploded every window into a
    // two-phase count_distinct aggregation to count what `size` /
    // `size(array_distinct)` read off the native digest array in place
    // (guide §2.1; the counts are identical — same digests, same doc)
    docs.filter(length(col("text")) >= k)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.substr_window_hashes(
          col("text"), k, 1).as("garr"))
      .select(col("doc_id"),
        size(col("garr")).cast("long").as("total_grams"),
        size(array_distinct(col("garr"))).cast("long").as("distinct_grams"))
      .withColumn("redundancy_milli",
        expr("(total_grams - distinct_grams) * 1000 div total_grams"))

  /** Sentence segmentation with byte offsets — the span primitive under
    * citation alignment, span-level PII, and sentence-window chunking.
    * The splitter is the deliberately portable `". "` delimiter (an
    * abbreviation-aware segmenter is locale data, not engine work);
    * offsets are BYTE positions (octet_length — code-point vs grapheme
    * counting differs across engines, bytes never do), reconstructed as
    * the running sum of preceding fragment lengths + delimiter width over
    * a per-document window whose partition is one document's sentences —
    * bounded, never corpus-keyed. Empty fragments keep their ordinal (so
    * `pos` is stable under engine empty-trailing conventions) but are not
    * emitted. Output: (doc_id, pos, sent, start). */
  def sentences(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(split(col("text"), "\\. ")).as(Seq("pos", "sent")))
      .withColumn("start",
        coalesce(sum(octet_length(col("sent")) + lit(2)).over(
          Window.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0)).cast("long"))
      .withColumn("pos", col("pos").cast("long"))
      .filter(octet_length(col("sent")) > 0)

  /** Exact per-source quantiles of a bounded-domain integer column,
    * computed from the value HISTOGRAM rather than a per-row sort:
    * `groupBy(source, value)` collapses the corpus to |sources|×|distinct
    * values| cells before any window runs, so the window partition carries
    * the distinct-value count, never the row count — the exact plan that
    * survives 100 TB (the approximate path is `percentile_approx`, already
    * rank-contract-gated in [[sketchStats]]).
    *
    * Quantile definition is the inverse CDF (type-1): q_p = min{v :
    * rank(v) ≥ ⌈p·n⌉}, with p in per-mille so the threshold test is the
    * all-integer `cum·1000 ≥ pm·n` — bit-reproducible on any engine,
    * unlike interpolated definitions whose `a+(b-a)·f` float term is
    * association-sensitive. Output: (source, pm, q). */
  def lengthQuantiles(docs: DataFrame, valueCol: String = "n_chars",
                      permille: Seq[Int] = Seq(250, 500, 750, 900, 990)): DataFrame = {
    val hist = docs.groupBy(col("source"), col(valueCol).as("v"))
      .agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("source").orderBy("v")))
      .withColumn("n", sum("cnt").over(Window.partitionBy("source")))
    cum.withColumn("pm", explode(array(permille.map(p => lit(p.toLong)): _*)))
      .filter(col("cum") * lit(1000L) >= col("pm") * col("n"))
      .groupBy(col("source"), col("pm"))
      .agg(min("v").as("q"))
  }

  def sketchStats(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"),
      explode(split(lower(col("text")), "\\s+")).as("tok"))
    val distincts = toks.groupBy("source").agg(
      countDistinct(col("tok")).as("exact_distinct"),
      approx_count_distinct(col("tok"), rsd = 0.02).as("hll_distinct"))
    val perDoc = docs.select(col("source"),
      countMatches(col("text"), "\\S+").cast("long").as("n_tokens"))
    val approxMedian = perDoc.groupBy("source").agg(
      percentile_approx(col("n_tokens"), lit(0.5), lit(100)).as("p50_approx"),
      count(lit(1)).as("n_docs"))
    // the KLL-style guarantee is on RANK, not value: the number of docs at
    // or below the sketched median must sit within n/2 ± epsilon*n
    val rankCheck = perDoc.join(approxMedian, "source")
      .groupBy("source").agg(
        first(col("n_docs")).as("n_docs"),
        sum(when(col("n_tokens") <= col("p50_approx"), 1L).otherwise(0L))
          .as("rank_at_p50"))
    distincts.join(rankCheck, "source").select(
      col("source"), col("n_docs"), col("exact_distinct"),
      (abs(col("hll_distinct") - col("exact_distinct")) <=
        greatest(col("exact_distinct") * 0.05, lit(1.0))).as("hll_ok"),
      (col("rank_at_p50") >= col("n_docs") * 0.4 &&
        col("rank_at_p50") <= col("n_docs") * 0.6 + 1).as("p50_rank_ok"))
  }
}
