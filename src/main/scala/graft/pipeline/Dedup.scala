package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-training-data pipelines (extension
  * surface beyond the reference — BASELINE.json north star).
  *
  * All operators are pure DataFrame transforms designed for the 100 TB
  * shape: no driver-side collection, one shuffle per stage, hash-groupBy on
  * fixed-width digests rather than raw text, LSH banding so the candidate
  * join never goes quadratic in the corpus (only within tiny buckets), and
  * a bucket-size cap against degenerate skew (boilerplate documents).
  */
object Dedup {

  /** Exact dedup: group on md5 digest of the text (never shuffles the full
    * text). Returns one row per distinct text with the canonical (min)
    * doc_id and the duplicate count. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word k-shingle set per document (distinct, lower-cased), reduced to
    * 64-bit shingle ids: each shingle string is hashed exactly once; all
    * downstream minhash permutations mix the cheap long id, not the string.
    * One native codegen'd kernel per row ([[graft.functions.GraftFunctions.shingle_ids]]
    * — bit-identical to the interpreted HOF chain, equivalence pinned in
    * `PipelineSpec`). Repartitioned on doc_id so a single input file still
    * fans out across the cluster for the hash-heavy map stages. */
  def withShingles(docs: DataFrame, k: Int = 3): DataFrame =
    docs
      .repartition(col("doc_id"))
      .withColumn("shingles",
        graft.functions.GraftFunctions.shingle_ids(col("text"), k))

  /** LSH band buckets straight from the shingle-id sets: band j's bucket
    * key hashes the minhash values of its own `numPerm/bands` permutations.
    * Each permutation is used by exactly one band, so Catalyst's
    * CollapseProject cannot duplicate the signature computation (slicing a
    * separately-defined signature column gets inlined per band and costs
    * `bands`× the hashing work). Candidate-pair recall threshold ≈
    * (1/bands)^(bands/numPerm). */
  def lshBuckets(shingled: DataFrame, numPerm: Int = 32, bands: Int = 8): DataFrame = {
    val spark = shingled.sparkSession
    import spark.implicits._
    // typed flatMap instead of posexplode: InferFiltersFromGenerate would
    // bolt a size(...)>0 filter onto a generate over the signature
    // expression, which predicate pushdown then re-inlines *below* the
    // repartition exchange — running the whole minhash computation twice,
    // once single-threaded on the unpartitioned scan side
    shingled
      .withColumn("__bands",
        graft.functions.GraftFunctions.minhash_bands(col("shingles"), numPerm, bands))
      .select(col("doc_id"), col("__bands")).as[(Long, Array[Long])]
      .flatMap { case (id, bs) =>
        bs.iterator.zipWithIndex.map { case (bh, j) => (id, j, bh) }
      }
      .toDF("doc_id", "band", "bh")
  }

  /** A pair-generation result plus its skew observability side output:
    * `cappedBuckets` is one row per bucket that exceeded `maxBucket`
    * (`band`, `bh`, `bucket_size`) — a pipeline operator that knowingly
    * drops candidates must surface how much it dropped. */
  final case class PairsWithStats(pairs: DataFrame, cappedBuckets: DataFrame)

  /** Per-bucket size via groupBy-count joined back on the bucket key —
    * NOT a window on (band, bh): a window partition is one task and AQE
    * cannot split it, so a degenerate multi-million-member bucket
    * (boilerplate documents sharing one band value) would be counted by
    * a single spilling straggler. The groupBy counts in parallel
    * (map-side partial aggregation absorbs the skew before the shuffle;
    * the size table is one fixed-width row per distinct bucket), and the
    * join back IS AQE-skew-splittable. The join output stays partitioned
    * on (band, bh), so the downstream pair-expansion groupBy adds no
    * extra shuffle; rows of oversized buckets are still filtered out
    * BEFORE any collection. The second consumption of `buckets` is a
    * map-only recompute above a reusable exchange (both callers place a
    * doc_id repartition below the hash exprs). */
  private def withBucketSize(buckets: DataFrame): DataFrame = {
    val sizes = buckets.groupBy("band", "bh").agg(count(lit(1)).as("bucket_size"))
    buckets.join(sizes, Seq("band", "bh"))
  }

  /** Candidate pairs from LSH buckets. Bucket sizes come from a parallel
    * groupBy-count ([[withBucketSize]]) and oversized buckets are dropped
    * BEFORE the `collect_list` aggregation — capping after collection
    * would still materialize the degenerate bucket the cap exists to
    * disarm. Pairs are then generated inside each surviving bucket from
    * the sorted doc-id list (a < b), so worst-case per-bucket work is
    * `maxBucket²/2`; the size join and the groupBy share the (band, bh)
    * partitioning, so the cap adds no extra shuffle. `cappedBuckets`
    * recomputes its (cheap, counts-only) lineage when consumed —
    * observability is on demand. */
  def candidatePairsWithStats(buckets: DataFrame, maxBucket: Int = 1000): PairsWithStats = {
    val spark = buckets.sparkSession
    import spark.implicits._
    val sized = withBucketSize(buckets)
    val capped = sized.filter(col("bucket_size") > maxBucket)
      .select("band", "bh", "bucket_size").distinct()
    // typed flatMap over the sorted ids, not a nested transform/slice
    // lambda: Catalyst interprets higher-order functions row by row
    val pairs = sized.filter(col("bucket_size").between(2, maxBucket))
      .groupBy("band", "bh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("ids")).as[Array[Long]]
      .flatMap(ids => ids.indices.iterator.flatMap(i =>
        (i + 1 until ids.length).iterator.map(j => (ids(i), ids(j)))))
      .toDF("a", "b")
      .distinct()
    PairsWithStats(pairs, capped)
  }

  def candidatePairs(buckets: DataFrame, maxBucket: Int = 1000): DataFrame =
    candidatePairsWithStats(buckets, maxBucket).pairs

  /** Exact Jaccard verification of candidate pairs (n-gram Jaccard dedup):
    * joins the shingle sets back (broadcast-friendly candidate side) and
    * keeps pairs with similarity ≥ threshold. */
  def verifiedNearDups(docs: DataFrame, threshold: Double = 0.7,
                       k: Int = 3, numPerm: Int = 32, bands: Int = 8): DataFrame = {
    // persist the shingle-id sets: three consumers (bucket generation and
    // both sides of the verification join) would otherwise each re-run the
    // split+hash scan — the most expensive stage of the pipeline. The
    // verified pair list is materialized while the cache is hot.
    val shingled = withShingles(docs, k).select(col("doc_id"), col("shingles")).persist()
    val out = candidatePairs(lshBuckets(shingled, numPerm, bands))
      .join(shingled.select(col("doc_id").as("a"), col("shingles").as("sa")), "a")
      .join(shingled.select(col("doc_id").as("b"), col("shingles").as("sb")), "b")
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
      .localCheckpoint()
    shingled.unpersist()
    out
  }

  /** Collapse near-dup pairs into clusters. Returns (doc_id, canonical_id)
    * for every document; canonical_id = min doc_id of its component — the
    * "keep one, drop the rest" verdict of a dedup pipeline.
    *
    * The verified pair list after LSH + Jaccard is orders of magnitude
    * smaller than the corpus, so up to `maxDriverPairs` the components are
    * solved with driver-side union–find and broadcast-joined back — one
    * pass over the corpus, no iteration. Beyond the cap it falls back to
    * distributed min-label propagation ([[canonicalIdsDistributed]]). */
  def canonicalIds(docs: DataFrame, pairs: DataFrame,
                   maxDriverPairs: Int = 5000000): DataFrame = {
    val edges = pairs.select(col("a"), col("b")).persist()
    // single action: fetch up to the cap + 1 — fits ⇒ solve on the driver,
    // overflows ⇒ distributed propagation (vs. a separate count() job)
    val fetched = edges.limit(maxDriverPairs + 1).collect()
    val result =
      if (fetched.length <= maxDriverPairs) {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        fetched.foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val mapping = parent.keys.toList.map(x => (x, find(x))).filter(t => t._1 != t._2)
        val spark = docs.sparkSession
        import spark.implicits._
        val mapDf = broadcast(mapping.toDF("doc_id", "__canon"))
        docs.select(col("doc_id")).join(mapDf, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("__canon"), col("doc_id")).as("canonical_id"))
      } else canonicalIdsDistributed(docs, edges)
    edges.unpersist()
    result
  }

  /** Distributed connected components — the fallback when the pair graph
    * itself is beyond driver memory. Delegates to
    * [[GraphOps.connectedComponents]] (min-label propagation WITH pointer
    * doubling: logarithmic in component diameter, converge-or-throw) and
    * pads edge-less documents with their own id. `maxIters` is rounds of
    * the doubled schedule, so 10 covers diameters past 2^10 — the old
    * one-hop propagation this replaces silently stopped at hop 10. */
  def canonicalIdsDistributed(docs: DataFrame, pairs: DataFrame,
                              maxIters: Int = 10): DataFrame = {
    val cc = GraphOps.connectedComponents(
      pairs.select(col("a"), col("b")), maxIters)
    docs.select(col("doc_id"))
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical_id"))
  }

  /** 64-bit SimHash per document: per-token hash, each bit position votes
    * ±1 (duplicate tokens weight naturally), sign of the vote sum becomes
    * the bit. Map-only, one native codegen'd expression per row
    * ([[graft.functions.GraftFunctions.simhash_md5]]) — no explode, no 64-counter shuffle,
    * no interpreted HOF. The token hash is md5-derived and therefore
    * engine-portable: the exhaustive DuckDB hamming-pair oracle reproduces
    * the fingerprints bit-identically and gate-checks the whole near-dup
    * path (LSH banding included). */
  def simhash(docs: DataFrame): DataFrame =
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash_md5(col("text")).as("simhash"))

  /** SimHash near-dup pairs within `maxHamming`: 4×16-bit band index (a
    * pair within hamming ≤ 3 of 64 bits must agree exactly on ≥1 of the 4
    * bands — pigeonhole, so banding loses nothing), verified with
    * bit_count(xor).
    *
    * Like [[candidatePairsWithStats]], bucket sizes come from a parallel
    * groupBy-count and degenerate buckets (millions of boilerplate documents
    * sharing one 16-bit band value) are filtered out BEFORE the
    * `collect_list` aggregation, bounding both pair-expansion compute and
    * aggregation memory at `maxBucket`. Capped buckets are surfaced in
    * `cappedBuckets`, not silently dropped — their members are mutual
    * near-dups of each other anyway and exact-dedup upstream is the right
    * tool for identical text. */
  def simhashNearDupsWithStats(docs: DataFrame, maxHamming: Int = 3,
                               maxBucket: Int = 1000): PairsWithStats = {
    // plain codegen'd expressions, not transform/slice lambdas: Catalyst
    // interprets higher-order functions row by row
    val banded = simhash(docs).select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(j => struct(lit(j).as("band"),
          shiftright(col("simhash"), j * 16).bitwiseAND(65535L).as("bh"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val sized = withBucketSize(banded)
    val capped = sized.filter(col("bucket_size") > maxBucket)
      .select("band", "bh", "bucket_size").distinct()
    // each member x against the members sorted after it
    val pairs = sized.filter(col("bucket_size").between(2, maxBucket))
      .groupBy("band", "bh")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ms"))
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "x")))
      .select(col("x"), explode(slice(col("ms"), col("i") + 2, size(col("ms")))).as("y"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    PairsWithStats(pairs, capped)
  }

  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
                      maxBucket: Int = 1000): DataFrame =
    simhashNearDupsWithStats(docs, maxHamming, maxBucket).pairs

  /** Incremental exact dedup against a persistent fingerprint store — the
    * daily-ingest shape: each arriving batch is checked against every
    * digest ever admitted, not just its own batch. The store holds ONLY
    * md5 digests (16 bytes/doc at any corpus size — the text never lands
    * in it), new-batch digests dedup in-batch first (min doc_id wins,
    * as [[exactGroups]]), then anti-join the store; `admit` appends the
    * survivors' digests. Both sides of the anti-join are digest columns,
    * so the shuffle is fixed-width however large the corpus, and the
    * store partitions like any parquet table.
    *
    * The streaming twin for intra-stream dedup is
    * [[graft.streaming.EventStreams.nearDupFiltered]]; this is the
    * cross-RUN memory a watermark cannot provide. */
  /** Store-existence through the Hadoop filesystem of the path's scheme —
    * a bare java.io.File check is always false for hdfs://, s3a://, or
    * file:// URI paths, which would silently disable cross-run dedup. */
  private def storeExists(spark: org.apache.spark.sql.SparkSession,
                          path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def freshAgainstStore(docs: DataFrame, storePath: String): DataFrame = {
    val spark = docs.sparkSession
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("text_hash").orderBy("doc_id")
    val inBatch = docs
      .withColumn("text_hash", md5(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val store =
      if (storeExists(spark, storePath))
        spark.read.parquet(storePath).select("text_hash")
      else spark.emptyDataFrame.select(lit("").as("text_hash")).limit(0)
    inBatch.join(store, Seq("text_hash"), "left_anti")
  }

  /** Append the admitted documents' digests to the store. Idempotent:
    * digests already present are anti-joined away against a FRESH read
    * of the store (not `fresh`'s lineage, whose cached file listing
    * predates any earlier admit of the same batch), so a retried or
    * double-driven admit leaves the store byte-identical. The anti-join
    * is digest-vs-digest — fixed-width at any corpus size, the same
    * cost class as the read-side check. Concurrent admits of
    * overlapping batches can still race duplicates in (readers
    * semi-join, so duplicates cost space, never correctness);
    * [[compactStore]] reclaims the space. */
  def admit(fresh: DataFrame, storePath: String): Unit = {
    val spark = fresh.sparkSession
    val digests = fresh.select(col("text_hash"))
    val toWrite =
      if (storeExists(spark, storePath))
        digests.join(spark.read.parquet(storePath).select("text_hash"),
          Seq("text_hash"), "left_anti")
      else digests
    toWrite.write.mode("append").parquet(storePath)
  }

  /** Rewrite the digest store with duplicate digests removed — the
    * maintenance twin of [[admit]] for a daily-ingest deployment where
    * racing admits (the one path that can still append duplicates) have
    * grown the log. OFFLINE operation: run with no concurrent
    * readers/writers; the swap (write tmp → move current aside → move
    * tmp in) is not atomic, and a crash mid-swap leaves the previous
    * store at `<path>.graft_compact_bak` for manual recovery. */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
                   storePath: String): Unit = {
    if (!storeExists(spark, storePath)) return
    swapInPlace(spark, storePath) { tmp =>
      spark.read.parquet(storePath).select("text_hash").distinct()
        .write.parquet(tmp)
    }
  }

  /** Write a replacement dataset via `writeTo(tmpPath)`, then swap it in
    * for `path` (previous data parked at `<path>.graft_compact_bak`
    * until the swap completes). */
  private def swapInPlace(spark: org.apache.spark.sql.SparkSession,
                          path: String)(writeTo: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cur = new org.apache.hadoop.fs.Path(path)
    val fs = cur.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(path + ".graft_compact_tmp")
    val bak = new org.apache.hadoop.fs.Path(path + ".graft_compact_bak")
    fs.delete(tmp, true)
    writeTo(tmp.toString)
    fs.delete(bak, true)
    if (!fs.rename(cur, bak))
      throw new java.io.IOException(s"compact: could not move $cur aside")
    if (!fs.rename(tmp, cur)) {
      fs.rename(bak, cur) // restore; tmp left for inspection
      throw new java.io.IOException(s"compact: could not install $tmp")
    }
    fs.delete(bak, true)
  }

  /** Incremental NEAR-dup against a persistent signature store — the
    * MinHash companion of [[freshAgainstStore]] for the same daily-ingest
    * shape: a new batch is rejected not just for byte-identical replays
    * but for near-duplicates of ANYTHING ever admitted. The store keeps
    * per admitted doc its LSH band rows (band, bh — the candidate index)
    * and its shingle-id set (the exact-Jaccard verifier, ~8 bytes per
    * distinct shingle: 1-2% of corpus bytes), so both sides of the check
    * stay fixed-width columns. New docs band-join the store for
    * candidates (never all-pairs), verify by exact Jaccard against the
    * stored sets, and survivors keep their `shingles` column so
    * [[admitNearDup]] can extend the store without recomputing.
    * In-batch near-dups among the survivors are [[verifiedNearDups]]'s
    * job, exactly as in-batch exact dups are handled before the digest
    * store check. */
  def nearDupFreshAgainstStore(docs: DataFrame, storePath: String,
                               threshold: Double = 0.7, k: Int = 3,
                               numPerm: Int = 32, bands: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    // persisted: the shingle frame feeds candidate generation, Jaccard
    // verification, AND the final anti-join — without the persist the
    // split+hash scan (the dominant map cost) runs three times, the
    // hazard [[verifiedNearDups]] documents for the in-batch path.
    // The cache is RELEASED before returning: the survivors (orders of
    // magnitude smaller than a near-dup-heavy batch) are checkpointed
    // eagerly while the cache is hot, so a long-lived daily-ingest
    // session does not accumulate one pinned batch per call — the same
    // storage-lifecycle discipline as [[verifiedNearDups]].
    val shingled = withShingles(docs, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fresh =
      if (!storeExists(spark, s"$storePath/bands")) shingled
      else {
        val storeBands = spark.read.parquet(s"$storePath/bands")
          .withColumnRenamed("doc_id", "old_id")
        val storeShingles = spark.read.parquet(s"$storePath/shingles")
          .select(col("doc_id").as("old_id"), col("shingles").as("old_shingles"))
        val suspects = lshBuckets(shingled, numPerm, bands)
          .join(storeBands, Seq("band", "bh"))
          .select("doc_id", "old_id").distinct()
        val dupIds = suspects
          .join(shingled.select(col("doc_id"), col("shingles")), "doc_id")
          .join(storeShingles, "old_id")
          .withColumn("jaccard",
            size(array_intersect(col("shingles"), col("old_shingles"))).cast("double") /
              size(array_union(col("shingles"), col("old_shingles"))))
          .filter(col("jaccard") >= threshold)
          .select("doc_id").distinct()
        shingled.join(dupIds, Seq("doc_id"), "left_anti")
      }
    val out = fresh.localCheckpoint()
    shingled.unpersist()
    out
  }

  /** Append the admitted docs' band rows and shingle sets to the store;
    * `fresh` must be [[nearDupFreshAgainstStore]]'s output (it carries
    * the `shingles` column, so nothing is recomputed — and it is
    * checkpointed, so the two consumptions here are cheap re-reads).
    *
    * Idempotent and crash-safe, keyed on the BANDS side: docs already
    * in `bands` are anti-joined away (a retried or double-driven admit
    * changes nothing), shingles write BEFORE bands so the read-side
    * `bands` probe implies the shingle sets it verifies against are
    * present. A crash between the two writes leaves shingles without
    * bands: invisible to candidate generation (bands drive it) and
    * healed by the retry, which re-appends those docs' shingles
    * (duplicate rows — space, never correctness; readers that join
    * shingles go through `distinct`) and then their bands.
    * [[compactNearDupStore]] reclaims the space. */
  def admitNearDup(fresh: DataFrame, storePath: String,
                   numPerm: Int = 32, bands: Int = 8): Unit = {
    val spark = fresh.sparkSession
    val newDocs =
      if (storeExists(spark, s"$storePath/bands"))
        fresh.join(spark.read.parquet(s"$storePath/bands").select("doc_id"),
          Seq("doc_id"), "left_anti")
      else fresh
    newDocs.select(col("doc_id"), col("shingles"))
      .write.mode("append").parquet(s"$storePath/shingles")
    lshBuckets(newDocs, numPerm, bands)
      .write.mode("append").parquet(s"$storePath/bands")
  }

  /** Compact the near-dup signature store: drop duplicate band rows and
    * duplicate per-doc shingle sets (the residue of crash-healed or
    * racing admits). Same OFFLINE swap discipline as [[compactStore]];
    * shingles compact first so the bands-implies-shingles invariant
    * holds at every point. */
  def compactNearDupStore(spark: org.apache.spark.sql.SparkSession,
                          storePath: String): Unit = {
    if (!storeExists(spark, s"$storePath/bands")) return
    swapInPlace(spark, s"$storePath/shingles") { tmp =>
      // duplicate shingle rows are exact copies per doc_id
      spark.read.parquet(s"$storePath/shingles").dropDuplicates("doc_id")
        .write.parquet(tmp)
    }
    swapInPlace(spark, s"$storePath/bands") { tmp =>
      spark.read.parquet(s"$storePath/bands").distinct().write.parquet(tmp)
    }
  }

  /** Per-doc distinct k-gram digest ARRAY — the same 64-bit (signed
    * long) gram digests [[containmentPairs]] explodes (the md5-prefix
    * bits, carried as a primitive since r20 — `lower(lpad(hex(g),16,'0'))`
    * recovers the legacy hex form), kept as a column so the
    * incremental-store path can admit without recomputing (the
    * `shingles`-column discipline of [[nearDupFreshAgainstStore]]). */
  private def withCGrams(docs: DataFrame, k: Int): DataFrame =
    docs.withColumn("cgrams",
      graft.functions.GraftFunctions.word_gram_digests(
        col("text"), k, distinct = true))

  /** Fail loudly when a containment store predates the r20 long-digest
    * format: pre-change code wrote `g` as 16-hex-char STRINGS, and a
    * silent bigint=string join coerces to nothing (non-ANSI) or throws
    * mid-batch (ANSI) — either way the wrong outcome. The 64 bits are
    * identical, so [[migrateContainmentStore]] converts in one offline
    * rewrite. */
  private def requireLongCGramStore(store: DataFrame, path: String): Unit =
    store.schema("g").dataType match {
      case org.apache.spark.sql.types.LongType => ()
      case org.apache.spark.sql.types.StringType =>
        throw new IllegalStateException(
          s"containment store at $path holds legacy 16-hex-char string " +
            "digests; run Dedup.migrateContainmentStore(spark, path) once " +
            "(same 64 bits, signed-long form) before admitting or checking " +
            "batches against it")
      case other =>
        throw new IllegalStateException(
          s"containment store at $path has unexpected digest type $other " +
            "for column 'g' (expected bigint)")
    }

  /** One-time OFFLINE migration of a pre-r20 containment store: the
    * string hex-16 digests become the SAME 64 bits as signed longs
    * (`conv(g, 16, -10)` — signed target base, so the high bit round-
    * trips). Same swap discipline as [[compactStore]]. Idempotent: a
    * store already in long form is left untouched. */
  def migrateContainmentStore(spark: org.apache.spark.sql.SparkSession,
                              storePath: String): Unit = {
    if (!storeExists(spark, s"$storePath/cgrams")) return
    val cur = spark.read.parquet(s"$storePath/cgrams")
    if (cur.schema("g").dataType !=
      org.apache.spark.sql.types.StringType) return
    swapInPlace(spark, s"$storePath/cgrams") { tmp =>
      cur.withColumn("g", expr("cast(conv(g, 16, -10) as bigint)"))
        .write.parquet(tmp)
    }
  }

  /** Incremental CONTAINMENT against a persistent gram store — closes the
    * asymmetric gap [[nearDupFreshAgainstStore]] leaves open: a document
    * that QUOTES (is a tau-subset of) something admitted in an earlier
    * batch shares few MinHash bands with it (Jaccard is symmetric, and a
    * short quote of a long doc has low Jaccard) yet is exactly the
    * near-copy a training corpus must reject. The store keeps per
    * admitted doc its distinct k-gram digests (`cgrams` rows — same
    * fixed-width 16-char digests as [[containmentPairs]]); a new batch
    * joins its grams against the store's df-capped gram index (df over
    * DISTINCT stored docs, so crash-healed duplicate rows never inflate
    * it; the cap bounds per-gram fan-out exactly as in the batch op and
    * is conservative the same way — capping can only LOSE shared grams,
    * never manufacture a rejection) and rejects any doc whose stored
    * shared-gram count reaches `ceil(tau * b_size)`. In-batch
    * containment among the survivors stays [[containmentPairs]]'s job,
    * as in-batch near-dups stay [[verifiedNearDups]]'s. Survivors carry
    * their `cgrams` column so [[admitContainment]] appends without
    * recomputing. */
  def containmentFreshAgainstStore(docs: DataFrame, storePath: String,
                                   tau: Double = 0.9, k: Int = 8,
                                   maxDf: Long = 256, minGrams: Long = 3): DataFrame = {
    require(tau > 0 && tau <= 1 && k >= 2 && maxDf >= 2 && minGrams >= 1,
      s"bad tau=$tau / k=$k / maxDf=$maxDf / minGrams=$minGrams")
    val spark = docs.sparkSession
    val grammed = withCGrams(docs, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fresh =
      if (!storeExists(spark, s"$storePath/cgrams")) grammed
      else {
        val store = spark.read.parquet(s"$storePath/cgrams")
        requireLongCGramStore(store, storePath)
        val eligible = store.join(
          store.groupBy("g").agg(countDistinct("doc_id").as("df"))
            .filter(col("df") <= maxDf).select("g"),
          Seq("g"))
          .select(col("g"), col("doc_id").as("old_id")).distinct()
        val batchGrams = grammed.select(col("doc_id"), explode(col("cgrams")).as("g"))
        val dupIds = batchGrams.join(eligible, Seq("g"))
          .groupBy("doc_id", "old_id").agg(count(lit(1)).as("shared"))
          .join(grammed.select(col("doc_id"), size(col("cgrams")).as("b_size")),
            "doc_id")
          .filter(col("b_size") >= minGrams &&
            col("shared") >= ceil(lit(tau) * col("b_size")))
          .select("doc_id").distinct()
        grammed.join(dupIds, Seq("doc_id"), "left_anti")
      }
    // survivors checkpoint while the gram cache is hot; release before
    // returning — the daily-ingest storage-lifecycle discipline
    val out = fresh.localCheckpoint()
    grammed.unpersist()
    out
  }

  /** Append the admitted docs' gram rows to the containment store;
    * `fresh` must be [[containmentFreshAgainstStore]]'s output (carries
    * `cgrams`, checkpointed). Idempotent keyed on doc_id: a retried or
    * double-driven admit anti-joins to nothing and leaves the store
    * byte-identical. Racing admits of overlapping batches can still
    * append duplicate rows (space, never correctness — the read side
    * distincts and counts distinct docs); [[compactContainmentStore]]
    * reclaims. */
  def admitContainment(fresh: DataFrame, storePath: String): Unit = {
    val spark = fresh.sparkSession
    val newDocs =
      if (storeExists(spark, s"$storePath/cgrams")) {
        val store = spark.read.parquet(s"$storePath/cgrams")
        // appending long-typed 'g' files into a legacy string-schema
        // directory would corrupt later reads — same loud gate as the
        // read side
        requireLongCGramStore(store, storePath)
        fresh.join(store.select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
      } else fresh
    newDocs.select(col("doc_id"), explode(col("cgrams")).as("g"))
      .write.mode("append").parquet(s"$storePath/cgrams")
  }

  /** Drop duplicate (doc_id, g) rows — the residue of racing admits.
    * Same OFFLINE swap discipline as [[compactStore]]. */
  def compactContainmentStore(spark: org.apache.spark.sql.SparkSession,
                              storePath: String): Unit = {
    if (!storeExists(spark, s"$storePath/cgrams")) return
    swapInPlace(spark, s"$storePath/cgrams") { tmp =>
      spark.read.parquet(s"$storePath/cgrams").distinct().write.parquet(tmp)
    }
  }

  /** The daily-ingest gate, one call: a new batch survives only if it is
    * (1) not a byte-identical replay of anything ever admitted
    * ([[freshAgainstStore]] — cheapest check first, fixed-width digests),
    * (2) not a near-duplicate of anything admitted
    * ([[nearDupFreshAgainstStore]] — banded LSH + exact-Jaccard verify),
    * and (3) not a quoted subset of anything admitted
    * ([[containmentFreshAgainstStore]] — the asymmetric case bands miss).
    * Stage order mirrors [[dedupCorpus]]: each stage sees only the
    * previous stage's survivors, so the expensive checks run on the
    * smallest possible frame. Survivors carry `text_hash`, `shingles`,
    * and `cgrams`, exactly what [[admitAll]] appends without recompute.
    * In-batch duplication among survivors stays the batch ops' job.
    * Sub-stores live under one root: `$root/digests`, `$root/neardup`,
    * `$root/containment`. */
  def freshAgainstAllStores(docs: DataFrame, root: String,
                            threshold: Double = 0.7, k: Int = 3,
                            numPerm: Int = 32, bands: Int = 8,
                            tau: Double = 0.9, containK: Int = 8,
                            maxDf: Long = 256, minGrams: Long = 3): DataFrame = {
    val afterExact = freshAgainstStore(docs, s"$root/digests")
    val afterNear = nearDupFreshAgainstStore(
      afterExact, s"$root/neardup", threshold, k, numPerm, bands)
    containmentFreshAgainstStore(
      afterNear, s"$root/containment", tau, containK, maxDf, minGrams)
  }

  /** Append [[freshAgainstAllStores]] survivors to all three sub-stores.
    * Each admit is individually idempotent, so a retried call (crash
    * between stores included) converges: digests key on `text_hash`,
    * bands on `doc_id`, grams on `doc_id`. Digests write FIRST — the
    * cheapest store is the one whose absence re-admits a replay, and a
    * doc present in `digests` but not yet in the signature stores is
    * healed by the retry exactly as [[admitNearDup]]'s crash note
    * describes. */
  def admitAll(fresh: DataFrame, root: String,
               numPerm: Int = 32, bands: Int = 8): Unit = {
    admit(fresh, s"$root/digests")
    admitNearDup(fresh, s"$root/neardup", numPerm, bands)
    admitContainment(fresh, s"$root/containment")
  }

  /** End-to-end corpus deduplication — the one-call composition a
    * training-data pipeline actually runs: exact dedup first (cheap,
    * md5-keyed, min doc_id survives), MinHash+LSH near-dup over the
    * exact survivors, connected components, keep each cluster's
    * canonical (min-id) representative. Returns the surviving documents
    * with all their columns.
    *
    * Stage order matters at scale: byte-identical replays (the bulk of
    * crawl duplication) die on the fixed-width digest groupBy BEFORE
    * anything pays shingle hashing, and the near-dup stage — whose
    * candidate generation is the expensive part — sees each distinct
    * text once. Consumption discipline: the input's `doc_id`, `text`
    * and md5 digest are derived once into a cache that the digest
    * groupBy and the exact-survivor join (shingle cache fill, canonical-id
    * assignment) all read; the tiny survivor-id list is checkpointed
    * eagerly while that cache is hot, and the cache is released before
    * returning. The result is `docs` joined to those ids, so one call
    * scans `docs` twice — once into the cache, once at the caller's
    * action — and pins nothing but the id checkpoint afterwards. */
  def dedupCorpus(docs: DataFrame, threshold: Double = 0.7, k: Int = 3,
                  numPerm: Int = 32, bands: Int = 8): DataFrame =
    docs.join(dedupIds(docs, threshold, k, numPerm, bands), Seq("doc_id"))

  /** [[dedupCorpus]] with the asymmetric edge set folded in: near-dup
    * pairs UNION [[containmentPairs]] (quoted-subset documents — the
    * mirror-with-banner / aggregator-page duplicates symmetric Jaccard
    * misses by construction) feed ONE components/canonical stage, so a
    * real crawl removes both duplicate classes in the same pass instead
    * of re-paying the exact-survivor scan and the union–find. Containment
    * runs over the exact survivors like the near-dup stage (byte replays
    * died on the digest groupBy before anything paid k-gram hashing);
    * edges are undirected for clustering — a contained doc joins its
    * container's component and the min-id canonical rule decides the
    * keeper, deterministically. Both edge generators stay individually
    * bounded (banded buckets / df≤maxDf inverted index), and the union
    * is edge-list-sized — nothing new shuffles at corpus volume. */
  def dedupCorpusWithContainment(docs: DataFrame, threshold: Double = 0.7,
                                 k: Int = 3, numPerm: Int = 32, bands: Int = 8,
                                 tau: Double = 0.9, containK: Int = 8,
                                 maxDf: Long = 256, minGrams: Long = 3): DataFrame =
    docs.join(dedupStaged(docs, ek => {
      // the two edge generators are INDEPENDENT eager jobs over the same
      // survivor frame (each fills its OWN derived cache and
      // materializes its pair list via localCheckpoint) — submitted from
      // two driver threads so the second job's tasks back-fill executors
      // freed by the first job's stragglers (the overlap-independent-jobs
      // discipline; job descriptions are thread-local so the UI stays
      // readable). A SHARED derived frame (both native expressions in one
      // cached projection) was prototyped in r21 and measured WORSE —
      // isolated 2.12 → 2.49 s, task time 16 → 42 s even with a pre-fill
      // barrier — so each generator keeps its own cache. The union is
      // edge-list-sized, order-irrelevant (components are order-free).
      implicit val ec: scala.concurrent.ExecutionContext = edgeEc
      val near = scala.concurrent.Future(
        verifiedNearDups(ek, threshold, k, numPerm, bands)
          .select(col("a"), col("b")))
      val cont = scala.concurrent.Future(
        containmentPairs(ek, tau, containK, maxDf, minGrams)
          .select(col("a"), col("b")))
      // await BOTH before acting on either outcome: rethrowing the first
      // failure while the sibling still runs would leave orphaned jobs
      // and checkpointed frames behind (a pool shutdown cancels nothing)
      val nearR = scala.util.Try(scala.concurrent.Await
        .result(near, scala.concurrent.duration.Duration.Inf))
      val contR = scala.util.Try(scala.concurrent.Await
        .result(cont, scala.concurrent.duration.Duration.Inf))
      nearR.get.unionByName(contR.get)
    }), Seq("doc_id"))

  /** Shared lazy daemon pool for the overlapped edge generators — a
    * per-call `newFixedThreadPool` churned two threads per invocation
    * when the composition runs per-epoch in a streaming session. Daemon
    * threads; never shut down (dies with the JVM). */
  private lazy val edgeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2,
        r => { val t = new Thread(r, "dedup-edges"); t.setDaemon(true); t }))

  /** Survivor ids of [[dedupCorpus]] — its staging without the join back
    * to the corpus, for a caller that joins its own (wider) input. */
  private[pipeline] def dedupIds(docs: DataFrame, threshold: Double = 0.7, k: Int = 3,
                                 numPerm: Int = 32, bands: Int = 8): DataFrame =
    dedupStaged(docs, ek => verifiedNearDups(ek, threshold, k, numPerm, bands))

  /** Shared staging of the end-to-end dedup compositions: exact → edge
    * generation over exact survivors → components → canonical filter.
    * `edgesOf` receives the exact-survivor frame (`doc_id`, `text`) and
    * returns the duplicate-pair edge list (columns `a`, `b`). Returns the
    * checkpointed survivor ids (`doc_id`) and pins nothing else. */
  private def dedupStaged(docs: DataFrame,
                          edgesOf: DataFrame => DataFrame): DataFrame = {
    // derive once: the input (its filters included) is scanned and hashed
    // a single time into this cache; the digest groupBy and the
    // exact-survivor join both read it
    val hashed = docs.select(col("doc_id"), col("text"), md5(col("text")).as("text_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exactKeep = hashed.join(
      hashed.groupBy("text_hash").agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
      Seq("doc_id")).select("doc_id", "text")
    val pairs = edgesOf(exactKeep)
    val canon = canonicalIds(exactKeep, pairs)
    val keepIds = canon
      .filter(col("canonical_id") === col("doc_id")).select("doc_id")
      .localCheckpoint()
    // everything but keepIds is dead weight now: release it rather than
    // wait for the GC-driven ContextCleaner (periodic GC is 30 min —
    // repeated compositions in one session otherwise stack dead blocks
    // that evict the next call's live persists; round-8 bench measured
    // exactly that as run-over-run growth on this family)
    org.apache.spark.sql.GraftBridge.freeCheckpoint(pairs)
    canon.unpersist()
    hashed.unpersist()
    keepIds
  }

  /** Cross-corpus boilerplate removal — the segment-level member of the
    * dedup family (RefinedWeb/CCNet-style "line dedup", generalized to
    * fixed `window`-token segments since the corpus may carry no line
    * structure). A span repeated verbatim across ≥ `minDf` DISTINCT
    * documents is boilerplate (headers, navigation, license banners), not
    * content: it is cut from every document and the survivors are
    * re-joined in order. Emits (doc_id, clean_text, n_removed).
    *
    * Unlike document-level dedup (which keeps one copy), boilerplate
    * removal keeps zero copies — the repeated span is noise everywhere.
    *
    * Shape at 100 TB: segmentation is one map pass (the token array is
    * sliced in place — no per-token explode; the segment stream is
    * corpus_tokens / window rows). The doc-frequency aggregation
    * shuffles segments once, keyed on the segment text whose hash
    * distributes uniformly; `approx_count_distinct` is the drop-in when
    * exact df is not worth the per-key doc-id dedup state. The flagged
    * set joins back by segment text — by construction it is the high-df
    * tail, orders of magnitude smaller than the corpus, so AQE broadcasts
    * it; reconstruction groups segments per document (bounded by document
    * size). No driver collection anywhere.
    */
  def boilerplateClean(docs: DataFrame, window: Int = 4,
                       minDf: Long = 5): DataFrame = {
    require(window > 0 && minDf >= 2, s"bad window=$window / minDf=$minDf")
    // tokenize ONCE into a projected column — referencing the split inside
    // the transform lambda instead would re-run the regex per segment
    // index (no CSE across a lambda body: ~segments-per-doc× the cost).
    // Non-overlapping window-token segments in document order; size ≥ 1
    // always (split of "" yields [""]), so the sequence bound is safe
    val segsArr = transform(
      sequence(lit(0), ceil(size(col("toks")) / lit(window.toDouble)).cast("int") - 1),
      k => concat_ws(" ", slice(col("toks"), k * lit(window) + 1, lit(window))))
    val segs = docs
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), posexplode(segsArr).as(Seq("seg_idx", "seg")))
    val flagged = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("seg_df"))
      .filter(col("seg_df") >= minDf)
    segs.join(flagged, Seq("seg"), "left_outer")
      .groupBy("doc_id").agg(
        concat_ws(" ", expr(
          "transform(filter(array_sort(collect_list(named_struct(" +
            "'seg_idx', seg_idx, 'seg', seg, 'keep', seg_df is null))), " +
            "s -> s.keep), s -> s.seg)")).as("clean_text"),
        sum(when(col("seg_df").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_removed"))
  }

  /** Duplicated-span annotation — the sliding-window counterpart of
    * [[boilerplateClean]] and the document-level "how much of this text
    * exists verbatim elsewhere" signal (Lee et al.'s substring-dedup
    * finding: repeated long spans across documents are what inflates
    * memorization, even when no whole document is a duplicate). For each
    * document, every positional k-token window (stride 1) is checked for
    * verbatim presence in ≥ `minDf` documents; emits per document the
    * window count, the duplicated-window count, and a ≥20 %-duplicated
    * flag — all integers. Documents shorter than k tokens contribute one
    * truncated window (same convention as [[withShingles]]).
    *
    * Shape at 100 TB: windows leave the map side as 64-bit md5-prefix
    * digests, never as strings — the (doc, gram) shuffle carries
    * fixed-width keys at stride-1 volume (k× the corpus tokens is the
    * honest cost of positional coverage; the digest keeps it to 16
    * bytes/window). Per-(doc, gram) pre-aggregation first, then corpus
    * document frequency as a groupBy over that aggregate joined back on
    * the digest — NOT a window over the gram key (a stop-phrase gram
    * lands in ~every document; one unsplittable window task would
    * straggle at 100×, the round-6 verdict's defect class). The
    * `sum(least(c, 1))` df keeps both consumers' partial-agg schemas
    * identical so Catalyst reuses one exchange (see [[Mixture
    * .bigramNovelty]]); the digest join is AQE-skew-splittable. */
  def dupSpans(docs: DataFrame, k: Int = 8, minDf: Long = 2): DataFrame = {
    require(k >= 2 && minDf >= 2, s"bad k=$k / minDf=$minDf")
    val perDocGram = docs
      .select(col("doc_id"), explode(
        graft.functions.GraftFunctions.word_gram_digests(
          col("text"), k, distinct = false)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val dfByGram = perDocGram.groupBy("g")
      .agg(sum(least(col("c"), lit(1L))).as("df"))
    perDocGram.join(dfByGram, Seq("g"))
      .groupBy("doc_id").agg(
        sum("c").cast("long").as("n_windows"),
        sum(when(col("df") >= minDf, col("c")).otherwise(lit(0L)))
          .cast("long").as("n_dup_windows"))
      .withColumn("flagged", col("n_dup_windows") * 5 >= col("n_windows"))
  }

  /** Exact-substring duplicate spans — the character-level REMOVAL
    * counterpart of [[dupSpans]] (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better": drop every verbatim span ≥ L
    * chars that occurs elsewhere in the corpus, keeping its FIRST
    * occurrence — whole-document dedup misses these, and repeated spans
    * drive memorization). The reference engine has no dedup at all; the
    * paper's suffix-array scan is single-machine, so the distributed
    * contract here is the standard sliding-window one: every `stride`-th
    * position contributes its `window`-char substring; a window string
    * occurring at ≥ 2 positions corpus-wide marks every occurrence
    * EXCEPT the globally first (min (doc_id, pos)) as a duplicate span;
    * per-document overlapping/touching spans merge. At stride 1 this
    * finds exactly the duplicated substrings of length ≥ `window`
    * (window granularity at the edges); larger strides trade edge
    * precision for cost. Identity is a 64-bit md5-prefix digest — part
    * of the CONTRACT (oracle mirrors it), the same convention as
    * [[dupSpans]]/[[containmentPairs]].
    *
    * Shape at 100 TB: windows shuffle as (digest, doc, pos) — fixed
    * width, never the text; first-occurrence + count is ONE partial-agg
    * groupBy on the digest (min over a (doc_id, pos) struct — never a
    * window over the digest key, which a boilerplate span present in
    * ~every doc would straggle), joined back digest-to-digest
    * (AQE-skew-splittable). The only per-doc window function runs
    * partitioned by doc_id (bounded by a document's own span count).
    * Returns (doc_id, span_start, span_end) — 1-based char offsets,
    * end exclusive, spans merged and disjoint per document. */
  def exactSubstrSpans(docs: DataFrame, window: Int = 40,
                       stride: Int = 1): DataFrame = {
    require(window >= 2 && stride >= 1, s"bad window=$window/stride=$stride")
    val occ = substrOccurrences(docs, window, stride)
    val firsts = occ.groupBy("g").agg(
      count(lit(1)).as("c"),
      min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("c") >= 2)
    val spans = occ.join(firsts, Seq("g"))
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + window).as("e"))
    mergeSpans(spans)
  }

  /** TWO-PASS [[exactSubstrSpans]] — the 100 TB cost shape, output
    * BIT-IDENTICAL to single-pass stride 1 (gate-pinned): pass 1 runs a
    * cheap SOUND prefilter that finds every document containing any
    * duplicated ≥-window span; pass 2 runs the exact stride-1 span
    * derivation on those survivors only. In a mostly-deduplicated
    * corpus the survivors are a small fraction, so the expensive
    * (digest, doc, pos) stride-1 shuffle touches a fraction of the
    * corpus while the prefilter shuffles only ~2/(g+1) of the
    * positions.
    *
    * Soundness (why this replaces the r17 stride-prefilter recipe,
    * which was UNSOUND — with stride s on both sides two occurrences
    * sample the same window only when their offsets agree mod s, so a
    * stride-20 prefilter misses ~19/20 of cross-document duplicates):
    * pass 1 anchors positions by WINNOWING ([[graft.functions
    * .GraftFunctions.winnowedWindowHashes]]) — anchor selection is a
    * function of the surrounding content alone, so both occurrences of
    * a duplicate anchor at the same relative offsets, and every g
    * consecutive positions contain an anchor. Hence any duplicate of
    * length ≥ window (≥ g+k-1) yields at least one identical
    * (window-g+1)-char anchored digest in both occurrences: take the
    * duplicate's first g anchor-eligible positions — all their k-grams
    * and the winner's digest window lie inside the duplicate in BOTH
    * occurrences, so the same relative position wins in both. Every
    * doc holding any occurrence therefore shares a digest with count
    * ≥ 2 and survives pass 1 — which also means all occurrences of
    * every duplicated window live in the survivor set, so pass 2's
    * counts, first-occurrence choices, and spans equal the single-pass
    * run exactly. */
  def exactSubstrSpansTwoPass(docs: DataFrame, window: Int = 40,
                              g: Int = 16, k: Int = 8): DataFrame = {
    require(g >= 2 && k >= 2 && window >= g + k - 1,
      s"two-pass needs window >= g+k-1 (got window=$window g=$g k=$k)")
    // the anchored scan feeds BOTH the digest count and the survivor
    // join — pin it so pass 1's dominant cost (per-doc digesting +
    // explode over the corpus) is paid ONCE, not twice; the survivor
    // set then materializes eagerly (localCheckpoint) so the pin can be
    // released before the returned pass-2 plan ever executes
    val anchored = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(
        graft.functions.GraftFunctions.winnowed_window_hashes(
          col("text"), window, k, g)).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // global count per anchored digest: one partial-agg groupBy of
      // fixed-width rows (the same never-a-window-over-the-digest
      // discipline as exactSubstrSpans)
      val hot = anchored.groupBy("g")
        .agg(count(lit(1)).as("c")).filter(col("c") >= 2).select("g")
      // RELIABLE checkpoint when the deployment configured a checkpoint
      // dir (at cluster scale a localCheckpoint pins pass-1 output to
      // executor-local blocks — one decommissioned executor between the
      // passes would kill the run with truncated lineage); the local
      // variant is the single-machine default
      val surv0 = anchored.join(hot, Seq("g")).select("doc_id").distinct()
      val survivors =
        if (docs.sparkSession.sparkContext.getCheckpointDir.isDefined)
          surv0.checkpoint(eager = true)
        else surv0.localCheckpoint(eager = true)
      exactSubstrSpans(docs.join(survivors, Seq("doc_id"), "left_semi"),
        window, stride = 1)
    } finally anchored.unpersist(blocking = false)
  }

  /** Two-pass face of [[exactSubstrClean]]: rewrite with the two-pass
    * spans removed. Non-survivor docs pass through verbatim (they
    * provably hold no duplicated span). */
  def exactSubstrCleanTwoPass(docs: DataFrame, window: Int = 40,
                              g: Int = 16, k: Int = 8): DataFrame =
    removeSpans(docs, exactSubstrSpansTwoPass(docs, window, g, k))

  /** Is the two-pass prefilter the MEASURED-better plan at `window`?
    * The regime boundary is empirical (SCALE.md decade sweeps): at
    * window 40 the anchored digests span only `window − g + 1` = 25
    * chars, collide enough that the survivor superset SWELLS with
    * corpus growth, and two-pass measured WORSE than single-pass
    * (2.16× vs 1.82× raw at 10× data); at window ≥ 80 the prefilter
    * wins decisively (0.74× wall, 0.21× shuffle bytes). The default
    * boundary is the measured winning point, overridable per
    * deployment via `graft.dedup.twoPassMinWindow`. Lee-et-al-style
    * dedup windows live well above it (~200+ chars). */
  def twoPassRecommended(spark: org.apache.spark.sql.SparkSession,
                         window: Int): Boolean =
    window >= spark.conf.get("graft.dedup.twoPassMinWindow", "80").toInt

  /** Regime-steering face of the exact-substring span finder: picks
    * the measured-better plan by window — [[exactSubstrSpansTwoPass]]
    * in its winning long-window regime ([[twoPassRecommended]]),
    * stride-1 [[exactSubstrSpans]] otherwise. Output is identical
    * either way (the winnowing soundness theorem); only the plan
    * differs — callers who pick a face by hand own the regime choice,
    * callers who should not have to pick use this. */
  def exactSubstrSpansAuto(docs: DataFrame, window: Int = 40,
                           g: Int = 16, k: Int = 8): DataFrame =
    if (twoPassRecommended(docs.sparkSession, window))
      exactSubstrSpansTwoPass(docs, window, g, k)
    else exactSubstrSpans(docs, window, stride = 1)

  /** (doc_id, pos, g) window occurrences — digests via ONE native
    * codegen'd pass per document (the interpreted transform-HOF chain it
    * replaced cost ~it all: the md5 itself is <20% of the lambda
    * machinery — same finding as [[withShingles]]); position is implied
    * by the array index. Shared by [[exactSubstrSpans]] and
    * [[Decontaminate.contaminatedSpans]]. */
  private[pipeline] def substrOccurrences(docs: DataFrame, window: Int,
                                          stride: Int): DataFrame =
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(
        graft.functions.GraftFunctions.substr_window_hashes(
          col("text"), window, stride)).as(Seq("i", "g")))
      .select(col("doc_id"),
        (lit(1L) + col("i") * stride).as("pos"), col("g"))

  /** Gaps-and-islands merge of (doc_id, s, e) spans, per document: a
    * span starting at or before the running max end joins the open
    * island (touching spans merge — contiguous duplicated text is one
    * removal). The only window function runs partitioned by doc_id
    * (bounded by a document's own span count). */
  private[pipeline] def mergeSpans(spans: DataFrame): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val pmax = max(col("e")).over(byDoc.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    spans
      .withColumn("island",
        sum(when(pmax.isNull || col("s") > pmax, 1).otherwise(0))
          .over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .drop("island")
  }

  /** Rewrite each doc with `merged` (doc_id, span_start, span_end)
    * removed — one bounded per-doc fold; span-free docs pass through
    * verbatim. Returns (doc_id, clean_text, n_removed_chars). */
  private[pipeline] def removeSpans(docs: DataFrame,
                                    merged: DataFrame): DataFrame = {
    val spansByDoc = merged.groupBy("doc_id")
      .agg(sort_array(collect_list(
        struct(col("span_start"), col("span_end")))).as("sp"))
    docs.join(spansByDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("text"),
        when(col("sp").isNull, col("text")).otherwise(expr(
          "aggregate(sp, named_struct('acc', '', 'cur', CAST(1 AS BIGINT))," +
            " (a, x) -> named_struct(" +
            "'acc', concat(a.acc, substring(text, CAST(a.cur AS INT), " +
            "CAST(x.span_start - a.cur AS INT))), 'cur', x.span_end), " +
            "a -> concat(a.acc, substring(text, CAST(a.cur AS INT), " +
            "length(text) - CAST(a.cur AS INT) + 1)))")).as("clean_text"))
      .select(col("doc_id"), col("clean_text"),
        (length(col("text")) - length(col("clean_text")))
          .cast("long").as("n_removed_chars"))
  }

  /** Exact-substring dedup: rewrite each document with its
    * [[exactSubstrSpans]] removed — later occurrences of every
    * duplicated ≥-window-char span vanish, first occurrences survive
    * verbatim, documents with no duplicated span pass through untouched
    * (including those shorter than the window). Reassembly is one
    * fold over the per-doc merged-span array (bounded by the doc's own
    * span count; the interpreted HOF sits on already-reduced rows, not
    * the window fan-out). Returns (doc_id, clean_text,
    * n_removed_chars). */
  def exactSubstrClean(docs: DataFrame, window: Int = 40,
                       stride: Int = 1): DataFrame =
    removeSpans(docs, exactSubstrSpans(docs, window, stride))

  /** Containment pairs — the ASYMMETRIC member of the dedup family:
    * `|A ∩ B| / |B| ≥ tau` over distinct k-gram sets finds B quoted or
    * embedded inside a larger A (mirror-with-banner, quote-heavy posts,
    * aggregator pages), which symmetric Jaccard misses by construction
    * (a small B inside a big A has low Jaccard however verbatim the
    * copy). Emits (a, b, shared, b_size) for every ORDERED pair with
    * containment of b's grams in a — both directions reported when both
    * clear tau; integer counts only.
    *
    * Candidate generation is an inverted-index self-join on gram
    * digests, EXACT up to the `maxDf` semantics: grams present in more
    * than `maxDf` documents are excluded from the index (stop-phrase
    * grams pair everything with everything — quadratic in df — while
    * contributing one shared-gram count; at k=8 a real quotation carries
    * many rare grams, so the tau test survives without them). The cap is
    * part of the operator's CONTRACT, mirrored exactly by the oracle,
    * not a lossy implementation detail: `shared` counts only
    * index-eligible grams, and `b_size` counts b's distinct grams
    * (uncapped), so containment is conservative — a pair can only LOSE
    * shared grams by the cap, never gain. Everything shuffles as 64-bit
    * digests; the pair aggregation keys on (a, b) — sparse by the tau
    * threshold; per-gram fan-out is bounded by maxDf². */
  def containmentPairs(docs: DataFrame, tau: Double = 0.9, k: Int = 8,
                       maxDf: Long = 256, minGrams: Long = 3): DataFrame = {
    require(tau > 0 && tau <= 1 && k >= 2 && maxDf >= 2 && minGrams >= 1,
      s"bad tau=$tau / k=$k / maxDf=$maxDf / minGrams=$minGrams")
    // the per-doc gram ARRAYS feed four consumers (sizes, the df filter,
    // both self-join sides); unpersisted, each branch re-runs the
    // tokenize + digest pass over the corpus. Persist the arrays once
    // (fixed-width digests, spills clean), collapse the result while the
    // cache is hot — the verified pair list is orders of magnitude
    // smaller than the gram stream, the same lifecycle discipline as
    // [[verifiedNearDups]] — and release. Keeping the grams as ARRAYS
    // makes `b_size` a map-only `size(cgrams)` (the digests are distinct
    // per doc by construction) instead of a groupBy over the exploded stream.
    val grammed = withCGrams(docs, k).select(col("doc_id"), col("cgrams"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = grammed.select(col("doc_id"), explode(col("cgrams")).as("g"))
    val sizes = grammed.select(col("doc_id"),
      size(col("cgrams")).cast("long").as("b_size"))
    val eligible = grams.join(
      grams.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("g"),
      Seq("g"))
    val shared = eligible.select(col("g"), col("doc_id").as("a"))
      .join(eligible.select(col("g"), col("doc_id").as("b")), Seq("g"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
    val out = shared.join(sizes.withColumnRenamed("doc_id", "b"), Seq("b"))
      .filter(col("b_size") >= minGrams &&
        col("shared") >= ceil(lit(tau) * col("b_size")))
      .select(col("a"), col("b"), col("shared").cast("long").as("shared"),
        col("b_size").cast("long").as("b_size"))
      .localCheckpoint()
    grammed.unpersist()
    out
  }

  /** Exact symmetric n-gram Jaccard near-dup pairs — the deterministic
    * complement of [[verifiedNearDups]]: no LSH candidate generation, so
    * recall is 1.0 BY CONSTRUCTION (up to the `maxDf` contract below)
    * rather than probabilistic in the band count. Use it when the corpus
    * tolerates an inverted-index self-join (always, with the df cap) and
    * the dedup policy must be auditable — "every pair above tau, provably".
    *
    * Candidate generation is the same df-capped inverted-index self-join
    * as [[containmentPairs]]: grams in more than `maxDf` documents are
    * excluded from the index (stop-phrase grams pair everything with
    * everything — quadratic in df — while contributing one shared-gram
    * count each). The cap is part of the operator's CONTRACT, mirrored
    * exactly by the oracle: `shared` counts only index-eligible grams
    * while the union in the denominator uses UNCAPPED set sizes, so the
    * reported Jaccard is a conservative lower bound — the cap can only
    * LOSE a pair, never fabricate one. Everything shuffles as 64-bit
    * digest prefixes; per-gram fan-out is bounded by maxDf²; the (a, b)
    * aggregation is sparse by the tau threshold.
    *
    * Emits (a, b, jaccard) for every unordered pair (a < b) with
    * capped-intersection Jaccard ≥ `threshold`. */
  def exactJaccardPairs(docs: DataFrame, threshold: Double = 0.5, k: Int = 4,
                        maxDf: Long = 256): DataFrame = {
    require(threshold > 0 && threshold <= 1 && k >= 2 && maxDf >= 2,
      s"bad threshold=$threshold / k=$k / maxDf=$maxDf")
    // the per-doc gram ARRAYS feed four consumers (sizes, the df filter,
    // both self-join sides) — persist the fixed-width digest arrays,
    // collapse the (tiny) verified pair list while the cache is hot,
    // release. Array-until-explode also turns the set sizes into a
    // map-only `size(garr)` (digests are distinct per doc), dropping the
    // corpus-wide sizes groupBy the r20 shape paid.
    val grammed = docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.word_gram_digests(
          col("text"), k, distinct = true).as("garr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = grammed.select(col("doc_id"), explode(col("garr")).as("g"))
    val sizes = grammed.select(col("doc_id"),
      size(col("garr")).cast("long").as("sz"))
    val eligible = grams.join(
      grams.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("g"),
      Seq("g"))
    val shared = eligible.select(col("g"), col("doc_id").as("a"))
      .join(eligible.select(col("g"), col("doc_id").as("b")), Seq("g"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
    val out = shared
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sa")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("sb")), Seq("b"))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("sa") + col("sb") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
      .localCheckpoint()
    grammed.unpersist()
    out
  }

  /** Cross-source duplication matrix: for every unordered source pair,
    * how many exact-Jaccard near-dup pairs span them (diagonal = within-
    * source duplication). The curation question this answers — which
    * crawls/feeds mirror each other, where a mixture double-counts — is
    * asked over the PAIR LIST, which is orders of magnitude smaller than
    * the corpus: the matrix costs two broadcast-sized joins and a
    * ≤|sources|² aggregation on top of [[exactJaccardPairs]].
    * Output: (src_a, src_b, n_pairs) with src_a ≤ src_b. */
  def sourceOverlapMatrix(docs: DataFrame, threshold: Double = 0.5,
                          k: Int = 4, maxDf: Long = 256): DataFrame = {
    val pairs = exactJaccardPairs(docs, threshold, k, maxDf)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), Seq("b"))
      .groupBy(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }
}
