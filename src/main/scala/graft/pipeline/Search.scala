package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Bucketing

/** Keyword retrieval over the document corpus — the BM25 scoring family
  * that backs corpus exploration, eval-set mining, and targeted
  * subcorpus extraction in a training-data pipeline ("give me the top-k
  * documents about X").
  *
  * Scale shape: the query term set is user input — a handful of strings —
  * so everything per-term is driver-bounded by construction. The corpus
  * streams ONCE, map-only, through tokenize + term filter (the `isin`
  * filter compiles into the scan, so non-matching tokens never reach the
  * aggregation); per-(doc, term) term frequencies shuffle with map-side
  * partial aggregation (one row per distinct (doc, term), never per
  * occurrence), and document frequency is an aggregate over THAT frame —
  * ≤ |terms| rows, broadcast back. No inverted index is materialized:
  * at 100 TB an index pays off only for repeated interactive queries,
  * and building one is exactly [[graft.sources.Bucketing]]'s ingest-time
  * trade — compose the two when needed.
  *
  * The integer substrate (tf, df, dl) is exact and engine-portable (the
  * DuckDB oracle pins it); the float BM25 combination on top is a pure
  * per-row map over those integers plus two corpus scalars.
  */
object Search {

  /** Exact per-(document, term) retrieval statistics for a bounded query
    * term set: term frequency `tf`, term document frequency `df`, and
    * document length `dl` (whitespace tokens). Only documents containing
    * a query term appear. All integers — the oracle-checkable skeleton
    * every scoring function (BM25, TF-IDF, QL) is a map over. */
  def keywordStats(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "query term set must be non-empty")
    val tf = docs
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("dl"),
        explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), min("dl").as("dl"))
    val dfByTerm = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfByTerm), Seq("term"))
      .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), col("dl"))
  }

  /** Okapi BM25 per-(document, term) scores over [[keywordStats]]:
    * `idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    * `idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)` (the Lucene-style
    * always-positive idf). The two corpus scalars (N, avgdl) and the
    * ≤ |terms| document frequencies are the only driver fetches — both
    * bounded by construction. Emits the integer skeleton plus `score`. */
  def bm25(docs: DataFrame, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // materialize the (small: matching docs × |terms| rows) stats frame
    // once — the df collect and the returned frame would otherwise each
    // re-run the corpus tokenize scan, and the caller's action a third
    // time; with the checkpoint the corpus pays one stats pass plus the
    // two-column scalar scan below
    val stats = keywordStats(docs, terms).localCheckpoint()
    val corpus = docs.select(
      count(lit(1)).cast("double"),
      sum(size(split(lower(col("text")), "\\s+"))).cast("double")).head()
    val n = corpus.getDouble(0)
    val avgdl = if (n == 0) 1.0 else corpus.getDouble(1) / n
    val dfMap = stats.select("term", "df").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def idf(t: String): Double = {
      val d = dfMap.getOrElse(t, 0L).toDouble
      math.log((n - d + 0.5) / (d + 0.5) + 1.0)
    }
    val idfCol: Column = terms.tail.foldLeft(
      when(col("term") === terms.head, lit(idf(terms.head)))) {
      case (acc, t) => acc.when(col("term") === t, lit(idf(t)))
    }
    stats.withColumn("score",
      idfCol * (col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))))
  }

  /** Ingest-time inverted index — the [[graft.sources.Bucketing]]
    * composition the header promises: the FULL per-(doc, term) (tf, dl)
    * table (no term filter — this serves EVERY future query), written
    * bucketed+sorted on `term`. The corpus tokenize + aggregation
    * shuffle is paid ONCE here; afterwards a keyword query is a
    * bucket-pruned scan of the index (the `isin` filter selects the
    * terms' buckets — `SelectedBucketsCount` in the plan, the other
    * buckets are never read) and the df aggregation inherits the
    * scan's `HashPartitioning(term)` so it plans Exchange-free
    * ([[graft.Round8Spec]] pins both). This is the classic
    * index-vs-scan trade at 100 TB: the index is corpus-token-distinct
    * sized, so it pays off exactly when queries repeat against the same
    * corpus — interactive exploration, eval-set mining. Returns the
    * registered index table; idempotent per (session, dir) and across
    * JVMs via the layout marker. */
  def buildTermIndex(spark: SparkSession, docs: DataFrame, dir: String,
                     buckets: Int = 16): DataFrame = {
    val layout = s"term@$buckets"
    val table = Bucketing.tableName(dir, "term_index", layout)
    val path = termIndexPath(dir, layout)
    // the corpus fingerprint rides in the layout marker: the cross-JVM
    // register fast path must vouch for the DATA, not just the (dir,
    // layout) strings — a regenerated corpus passed with the same dir
    // would otherwise silently serve the stale index
    Bucketing.materialize(spark, table, termStats(docs), Seq("term"), buckets,
      path, extraIdentity = corpusFingerprint(docs))
    spark.table(table)
  }

  private def termIndexPath(dir: String, layout: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_buckets/" +
      s"${Bucketing.tableName(dir, "", layout)}/term_index"

  /** Data identity of a corpus frame, for the layout marker: the
    * canonicalized plan digest ALWAYS rides in, and file-backed frames
    * additionally digest their input files' (path, length, mtime) —
    * metadata RPCs only, already paid by the scan's own listing. The plan
    * digest is what distinguishes a filtered/projected corpus from the
    * raw files it reads: with file metadata alone, `docs` and
    * `docs.filter(...)` over the same parquet share one identity and the
    * register fast path silently serves whichever index was built first —
    * the exact stale-data failure the identity exists to close. The plan
    * side uses the canonicalized plan's treeString, NOT `semanticHash()`:
    * for file relations the semantic hash folds in the FileIndex's
    * identity hashCode, which differs across JVMs and even across two
    * reads of the same path in one session — every build would miss the
    * cross-JVM fast path and re-pay the ingest shuffle. The treeString
    * prints normalized expression ids and the format name, so the same
    * logical corpus digests identically everywhere; data changes are the
    * file metadata's job. */
  private def corpusFingerprint(docs: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(("plan:" + docs.queryExecution.analyzed.canonicalized.treeString)
      .getBytes("UTF-8"))
    val files = docs.inputFiles
    val conf = docs.sparkSession.sparkContext.hadoopConfiguration
    files.sorted.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      md.update(s"$f|${st.getLen}|${st.getModificationTime}\n".getBytes("UTF-8"))
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** The index row shape shared by build and append: exact per-(term,
    * doc) tf plus the document length. */
  private def termStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("dl"),
        explode(split(lower(col("text")), "\\s+")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).cast("long").as("tf"), min("dl").as("dl"))

  /** Append newly-crawled documents into an existing [[buildTermIndex]]
    * layout — the growing-crawl twin of
    * [[graft.pipeline.Similarity.addToIvfIndex]]. The new docs' stats
    * write with the SAME bucket spec (term buckets), so pruning and the
    * Exchange-free probe partitioning survive appends — those live in
    * the table's bucket metadata, not the file count. What appends give
    * up is the one-file-per-bucket sort elision (each append adds one
    * file per touched bucket); re-run [[buildTermIndex]] offline when
    * file counts warrant compaction, the same re-train trigger
    * discipline as the IVF index. Document frequency is derived at
    * query time from index contents, so appended docs are visible to
    * the next probe with corpus-consistent df. Appends are IDEMPOTENT
    * per doc_id: the batch anti-joins against the ids already indexed
    * (fresh read, the dedup-store admit discipline — a retried or
    * replayed batch leaves the index byte-identical instead of
    * double-counting tf rows; near-dup identity still belongs to exact
    * dedup upstream). Concurrent appenders serialize on the layout's
    * sibling write lock ([[graft.sources.Bucketing.withWriteLock]]) —
    * the idempotence anti-join snapshots the already-indexed ids BEFORE
    * writing, so two unserialized appenders of overlapping batches
    * would both see the pre-append snapshot and double-count the
    * overlap's tf rows. The index table must already be registered in
    * this session ([[buildTermIndex]] re-registers existing layouts
    * from their marker). */
  def addToTermIndex(spark: SparkSession, newDocs: DataFrame, dir: String,
                     buckets: Int = 16): DataFrame = {
    val layout = s"term@$buckets"
    val table = Bucketing.tableName(dir, "term_index", layout)
    require(spark.catalog.tableExists(table),
      s"term index $table not registered — call buildTermIndex first")
    Bucketing.withWriteLock(spark, termIndexPath(dir, layout)) {
      // the post-acquire snapshot must see a concurrent (cross-JVM)
      // winner's rows: this session may hold a cached InMemoryFileIndex
      // listing taken before that append committed, and an anti-join over
      // the stale listing would re-admit the overlap's tf rows despite
      // the lock. Refresh drops the cached listing before the snapshot.
      spark.catalog.refreshTable(table)
      val indexed = spark.table(table).select("doc_id").distinct()
      termStats(newDocs.join(indexed, Seq("doc_id"), "left_anti"))
        .repartition(buckets, col("term"))
        .write.mode("append").format("parquet")
        .bucketBy(buckets, "term").sortBy("term")
        .saveAsTable(table)
    }
    spark.table(table)
  }

  /** [[keywordStats]] served from a [[buildTermIndex]] table instead of
    * the corpus: identical output contract (the oracle row pins parity
    * with the scan path), but the only I/O is the query terms' buckets.
    * df recomputes per query over the pruned scan — ≤ index-rows-per-term
    * and Exchange-free under the bucketed layout. */
  def indexedKeywordStats(index: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "query term set must be non-empty")
    val tf = index.filter(col("term").isin(terms: _*))
    val dfByTerm = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfByTerm), Seq("term"))
      .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), col("dl"))
  }

  /** Top-k retrieval: per-document BM25 totals, ranked. Ties break on
    * doc_id so the result is deterministic. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25(docs, terms, k1, b)
      .groupBy("doc_id")
      .agg(sum("score").as("score"), count(lit(1)).as("n_matched_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Deterministic integer lexical ranking for fusion: documents matching
    * any query term, ranked by (Σtf over the query terms desc, dl asc,
    * doc_id) — all-integer keys, so the ranking is reproducible on any
    * engine (the float-scored [[bm25TopK]] stays the human-facing
    * ranking; fusion wants a cross-engine-exact arm).
    * Output: (doc_id, rank), rank 1-based, at most k rows. */
  def lexicalTopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame =
    keywordStats(docs, terms)
      .groupBy("doc_id")
      .agg(sum("tf").as("tf_sum"), min("dl").as("dl"))
      // distributed top-k first (TakeOrderedAndProject — per-partition
      // heaps, no global sort); the rank window then runs over ≤ k rows,
      // so its single partition is k rows, never the matching-doc set
      .orderBy(col("tf_sum").desc, col("dl").asc, col("doc_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          col("tf_sum").desc, col("dl").asc, col("doc_id"))))
      .select("doc_id", "rank")

  /** Reciprocal-rank fusion — the standard hybrid-retrieval merge of a
    * lexical and a semantic arm: rrf(d) = Σ_arms 1/(c + rank_arm(d)),
    * here in exact integer milli-units (`1000000 div (c+rank)`) so the
    * fused ordering cannot drift between engines. Arms are (doc_id, rank)
    * frames of ≤ armK rows each — tiny, so the full-outer join and the
    * global top-k sort cost nothing at any corpus scale (the corpus work
    * happened inside the arms). A document missing from one arm
    * contributes 0 from it (the RRF convention).
    * Output: (doc_id, lex_rank, sem_rank, rrf_milli) — top k by fused
    * score, ties to the lower doc_id. */
  def rrfFuse(lex: DataFrame, sem: DataFrame, k: Int, c: Int = 60): DataFrame =
    lex.select(col("doc_id"), col("rank").as("lex_rank"))
      .join(sem.select(col("doc_id"), col("rank").as("sem_rank")),
        Seq("doc_id"), "full_outer")
      .withColumn("rrf_milli",
        coalesce(expr(s"1000000L div ($c + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000L div ($c + sem_rank)"), lit(0L)))
      .orderBy(col("rrf_milli").desc, col("doc_id"))
      .limit(k)
}
