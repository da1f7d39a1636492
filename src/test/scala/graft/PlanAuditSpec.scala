package graft

import org.apache.spark.sql.functions._
import graft.api.{Graft, TpchCatalog}
import graft.operators.SkewJoin

/** Physical-plan audits: the shapes that matter at 100 TB must actually be
  * in the plan, not just intended. */
class PlanAuditSpec extends SparkTestBase {

  lazy val g: Graft = Graft.overParquetDir(TpchCatalog.catalog, sfDir)(spark)
  def t(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan.toString
  }

  test("cross-star STR() equality becomes a real equi-join, not a cartesian") {
    val plan = executed(g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?c ?s WHERE {
        |  ?c a g:Customer ; g:nation ?n1 .
        |  ?s a g:Supplier ; g:nation ?n2 .
        |  FILTER (STR(?n1) = STR(?n2))
        |}""".stripMargin))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"theta filter did not become an equi-join:\n$plan")
  }

  test("dimension molecules join via broadcast (catalog hint)") {
    val plan = executed(g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?sname ?nname WHERE {
        |  ?s a g:Supplier ; g:name ?sname ; g:nation ?n .
        |  ?n a g:Nation ; g:name ?nname .
        |}""".stripMargin))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("autogen catalog: probed cardinality hints surface as broadcast joins") {
    // the probed catalog discovers nation/region row counts under the
    // broadcast threshold — the hint must reach the physical plan exactly
    // as the declared catalog's does, and link discovery must never leave
    // a cartesian behind
    val df = SparkEntry.queries("autogen_pruned_chain")(spark, sfDir)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"probed broadcast hints missing from the plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"autogen link discovery produced a cartesian:\n$plan")
  }

  test("column pruning reaches the scan for star projections") {
    val df = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?qty WHERE { ?l a g:Lineitem ; g:quantity ?qty }""".stripMargin)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("l_quantity") && !scan.contains("l_extendedprice"),
      s"scan reads more than projected: $scan")
  }

  test("negated property set scans once per molecule, not per predicate") {
    // 2 molecules in scope (Nation, Region) with 3+2 predicates + rdf:type
    // edges: a per-(molecule, predicate) compilation would plant ~6 scan
    // branches; the exploded per-molecule form needs exactly one per table.
    val scoped = Graft.overParquetDir(
      graft.mapping.Catalog(TpchCatalog.catalog.molecules.filter(m =>
        m.rdfType == "urn:g:Nation" || m.rdfType == "urn:g:Region")), sfDir)(spark)
    val df = scoped.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?a ?b WHERE { ?a !(g:name) ?b } ORDER BY ?a ?b""".stripMargin)
    val plan = df.queryExecution.optimizedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Relation"))
    assert(scans <= 2, s"NPS fanned out to $scans scans for 2 molecules:\n$plan")
    assert(df.count() == 55) // oracle row count pinned by sparql_path_nps
  }

  test("mixture sample prunes the scan to (doc_id, source)") {
    val plan = graft.pipeline.Mixture.mixtureSample(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        Seq("src0" -> 0.5), defaultRate = 0.1, salt = "s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"text column must not be read:\n$plan")
  }

  test("rarity profile shares the (doc, tok) shuffle across both consumers") {
    // the initial AQE plan prints both branches; after execution the
    // corpus-frequency branch must read the REUSED shuffle stage, not
    // re-run the explode subtree (ReuseExchange / AQE stage reuse)
    val plan = executed(graft.pipeline.Mixture.rarityProfile(
        spark.read.parquet(s"$sfDir/documents.parquet"), rareMax = 100))
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"corpus-frequency branch re-ran the corpus scan:\n$plan")
  }

  test("bigram novelty shares the (doc, bg) shuffle across both consumers") {
    val plan = executed(graft.pipeline.Mixture.bigramNovelty(
        spark.read.parquet(s"$sfDir/documents.parquet")))
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"corpus-frequency branch re-ran the corpus scan:\n$plan")
  }

  test("dup spans share the (doc, gram) shuffle across both consumers") {
    val plan = executed(graft.pipeline.Dedup.dupSpans(
        spark.read.parquet(s"$sfDir/documents.parquet")))
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"gram-frequency branch re-ran the corpus scan:\n$plan")
  }

  test("corpus-frequency ops have no window on a corpus key (skew)") {
    // a window partition is one task and AQE cannot split it — a
    // stop-word/stop-bigram partition would straggle at scale, so the
    // corpus-frequency side must be a parallel groupBy joined back
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    for ((name, df) <- Seq(
        "rarityProfile" -> graft.pipeline.Mixture.rarityProfile(docs, rareMax = 100),
        "bigramNovelty" -> graft.pipeline.Mixture.bigramNovelty(docs),
        "dupSpans" -> graft.pipeline.Dedup.dupSpans(docs))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name still computes corpus frequency via a window:\n$plan")
    }
  }

  test("LSH/SimHash bucket sizing has no window over (band, bh)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
    for ((name, df) <- Seq(
        // verifiedNearDups checkpoints eagerly, so audit the lazy
        // candidate-pair pipeline it is built from
        "minhash" -> graft.pipeline.Dedup.candidatePairs(
          graft.pipeline.Dedup.lshBuckets(graft.pipeline.Dedup.withShingles(docs))),
        "simhash" -> graft.pipeline.Dedup.simhashNearDups(docs))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name still sizes buckets via a window (single-task straggler on " +
          s"degenerate buckets):\n$plan")
    }
  }

  test("salted skew join equals plain join") {
    val plain = t("lineitem").join(t("orders"), col("l_orderkey") === col("o_orderkey"))
    val salted = SkewJoin.salted(
      t("lineitem").withColumnRenamed("l_orderkey", "k"),
      t("orders").withColumnRenamed("o_orderkey", "k"),
      key = "k", leftUnique = "l_linenumber", salts = 4)
    assert(salted.count() == plain.count())
  }

  test("minhash_bands is SQL-callable after registration") {
    graft.functions.GraftFunctions.register(spark)
    val n = spark.sql(
      "SELECT minhash_bands(array(1L, 2L, 3L)) AS b").collect()(0)
      .getSeq[Long](0)
    assert(n.length == 8)
  }
  test("pii redaction is map-only: no shuffle exchange in the plan") {
    val plan = executed(graft.pipeline.TextAnalysis.redactPii(t("documents")))
    assert(!plan.contains("Exchange"), s"redaction should not shuffle:\n$plan")
  }

  test("subquery aggregation keeps map-side partial aggregation") {
    val plan = executed(g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?cust ?n WHERE {
        |  { SELECT ?cust (COUNT(*) AS ?n) WHERE { ?o a g:Order ; g:customer ?cust }
        |    GROUP BY ?cust }
        |}""".stripMargin))
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"expected partial aggregation:\n$plan")
  }

  test("describe of a constant resource prunes to one molecule's scan") {
    val df = g.sparql("PREFIX g: <urn:g:> DESCRIBE <urn:g:cust:1>")
    val rows = df.collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getString(0) == "<urn:g:cust:1>"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("orders") && !plan.contains("lineitem"),
      "constant-subject describe should only scan molecules whose template matches")
  }

  test("group_concat distinct deduplicates before joining") {
    val df = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT (GROUP_CONCAT(DISTINCT ?seg ; SEPARATOR = ",") AS ?segs)
        |WHERE { ?c g:mktsegment ?seg }""".stripMargin)
    val segs = df.collect()(0).getString(0).split(",")
    assert(segs.length == segs.distinct.length && segs.length == 5)
    assert(segs.sorted.sameElements(segs)) // deterministic order
  }
  test("probed cardinalities order BGP joins small-side-first") {
    implicit val s = spark
    val tables = List("customer", "orders", "lineitem")
      .map(t => t -> spark.read.parquet(s"$sfDir/$t.parquet")).toMap
    val cat = graft.mapping.CatalogGen.fromTables(tables,
      graft.mapping.CatalogGen.GenOptions(aliases = Map(
        "customer" -> "cust", "lineitem" -> "line")))
    // the query lists the LARGEST star first; the probed cardinalities
    // (customer 1500 / 10 for the constant filter < orders 15000 <
    // lineitem 60000) must override the syntactic order
    val df = g2(cat, tables).sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?l ?cname ?qty WHERE {
        |  ?l g:order ?o ; g:quantity ?qty .
        |  ?o g:customer ?c .
        |  ?c a g:Customer ; g:name ?cname ; g:mktsegment "BUILDING" .
        |}""".stripMargin)
    val leaves = df.queryExecution.optimizedPlan.collectLeaves().map(_.toString)
    assert(leaves.nonEmpty && leaves.head.contains("c_custkey"),
      s"expected the filtered customer star to lead the join chain:\n${leaves.mkString("\n")}")
    assert(leaves.last.contains("l_orderkey"),
      s"expected the lineitem star to join last:\n${leaves.mkString("\n")}")
  }

  private def g2(cat: graft.mapping.Catalog,
                 tables: Map[String, org.apache.spark.sql.DataFrame]): Graft = {
    implicit val s = spark
    new Graft(cat, tables)
  }

  test("boilerplate join-back broadcasts the flagged tail, never the corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.pipeline.Dedup.boilerplateClean(docs, window = 4, minDf = 2)
    df.collect() // drive AQE to the final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"flagged high-df tail should broadcast under AQE:\n$plan")
  }

  test("heavy-hitters second pass pushes the candidate filter into the scan") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.pipeline.Sketches.heavyHitters(docs, k = 10)
    val lines = df.queryExecution.executedPlan.toString.linesIterator.toVector
    // the candidate `IN` filter must sit between the explode and the
    // partial aggregation: the second pass aggregates only the <= k-1
    // candidate tokens, never the full vocabulary (tok is born at the
    // Generate, so the parquet scan itself is the earliest it can land)
    val gen = lines.indexWhere(_.contains("Generate explode"))
    val in = lines.indexWhere(_.matches(".*Filter .* IN \\(.*"))
    val partial = lines.indexWhere(_.contains("partial_count"))
    assert(gen >= 0 && in >= 0 && partial >= 0,
      s"missing plan nodes:\n${lines.mkString("\n")}")
    assert(partial < in && in < gen, // plans print top-down
      s"candidate filter should land below the partial agg, above the explode:\n${lines.mkString("\n")}")
  }

  test("chunking is map-only: no exchange") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.pipeline.TextAnalysis.chunk(docs, size = 16, overlap = 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking should not shuffle:\n$plan")
  }

  test("splitLeakage joins ride the tiny pair list: split side broadcasts, no Window") {
    val docs = t("documents")
    // the public splitLeakage returns a checkpointed frame (bare
    // ExistingRDD scan) — audit the pre-checkpoint seam, the plan it
    // actually executes when materializing
    val df = graft.pipeline.Mixture.splitLeakagePlan(docs, 0.3, 0.3, "pa")
    val plan = executed(df)
    // the (doc_id, split) projections are corpus-scans but the join keys
    // come from the checkpointed pair list — AQE must broadcast one side
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the pair-list joins to broadcast:\n$plan")
    assert(!plan.contains("Window"), s"no window belongs in leakage:\n$plan")
  }

  test("argmax-per-key aggregates with map-side partials, never a window") {
    val df = graft.SparkEntry.queries("q_latest_order")(spark, sfDir)
    val plan = executed(df)
    assert(!plan.contains("Window"),
      s"latest-per-key must be struct-max aggregation, not a window:\n$plan")
    // struct max is not hash-aggregable (SortAggregate), but the shuffle
    // must still carry one pre-aggregated struct per key: partial_max
    // runs BEFORE the exchange
    assert(plan.contains("partial_max"),
      s"expected map-side partial aggregation before the shuffle:\n$plan")
  }

  test("token-budget mixture output is a map-only filter over one scan") {
    val docs = t("documents")
    val df = graft.pipeline.Mixture.mixtureByTokenBudget(
      docs, Seq("src0" -> 500L, "src1" -> 500L), "pa2")
    val plan = executed(df)
    // thresholds were resolved driver-side; the returned frame must be
    // scan -> project/filter with no exchange, no join, no window
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("Window"),
      s"token-budget selection must stay map-only:\n$plan")
  }

  test("a selective dim filter injects a runtime bloom filter into the fact scan") {
    // Catalyst's InjectRuntimeFilter: when a join's build side carries a
    // selective filter, the probe side's SCAN gets a bloom `might_contain`
    // pre-filter — rows of the 100 TB fact table that cannot join die at
    // the scan, before the shuffle. Size thresholds are lowered here only
    // because the test lake is tiny; at production scale the defaults
    // (10 MB creation side) trigger on their own.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = t("lineitem")
      val ord = t("orders").filter(col("o_orderpriority") === "1-URGENT")
      val plan = executed(
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority").count())
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"expected a runtime bloom filter on the fact side:\n$plan")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("kNN family ranks with bounded heaps: zero Window nodes on q_id") {
    // q_id has only numQueries distinct values — a window partitioned by it
    // funnels the corpus-sized scored set into a handful of single-task
    // sorts, the exact straggler/OOM shape at 100 TB. Every ranking (final
    // top-k, SQ8 candidate cut, negative sampling, the recall contract)
    // must plan heap + narrow merge instead (r12 verdict ask #1).
    val S = graft.pipeline.Similarity
    val emb = t("embeddings")
    for ((name, df) <- Seq(
        "bruteForceTopK" -> S.bruteForceTopK(emb, k = 5, numQueries = 3),
        "filteredTopK" -> S.filteredTopK(emb, col("label") === 1, k = 5),
        "lshTopK" -> S.lshTopK(emb, k = 5),
        "ivfTopK" -> S.ivfTopK(emb, k = 5),
        "ivfpqTopK" -> S.ivfpqTopK(emb, k = 5, nProbe = 4, m = 16, ksub = 32),
        "sq8TopK" -> S.sq8TopK(emb, k = 5),
        "negativeSamples" -> S.negativeSamples(emb),
        "annContract" -> S.annContract(
          S.lshTopK(emb, k = 5), S.bruteForceTopK(emb, k = 5), k = 5))) {
      val plan = executed(df)
      assert(!plan.contains("Window"),
        s"$name still ranks via a q_id window (single-task corpus sort):\n$plan")
      // ranking must ride the native bounded-heap aggregate WITH map-side
      // partials: partial_topk_ids is what caps the shuffle at
      // partitions·queries·k entries
      assert(plan.contains("partial_topk_ids"),
        s"$name lost the partial bounded-heap aggregation:\n$plan")
    }
  }

  test("filteredTopK pushes the metadata predicate into the parquet scan") {
    // pre-filter semantics must reach storage: the label predicate prunes
    // the corpus AT THE SCAN (PushedFilters), not in a post-scan Filter —
    // at 100 TB this is the difference between reading the filtered slice
    // and reading everything
    val df = graft.pipeline.Similarity.filteredTopK(
      t("embeddings"), col("label") === 1, k = 5)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("EqualTo(label,1)"),
      s"label predicate did not reach the scan: $scan")
  }

  test("profileApprox plans without the multi-DISTINCT Expand") {
    // profile()'s N countDistincts expand every input row (cols+1)× before
    // the shuffle; the approx (HLL++) form must stay a single plain
    // aggregate — one scan, one one-row agg, zero Expand (r12 verdict #2)
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val approxPlan = executed(
      graft.pipeline.DataQuality.profileApproxAgg(t("orders"), cols))
    assert(!approxPlan.contains("Expand"),
      s"approx profile still expands per distinct column:\n$approxPlan")
    assert(approxPlan.contains("HashAggregate") ||
      approxPlan.contains("SortAggregate"), s"expected one aggregate:\n$approxPlan")
  }

  test("importanceResample broadcasts the bucket table; top-n is a bounded sort") {
    val docs = t("documents")
    val plan = executed(graft.pipeline.Mixture.importanceResample(
      docs, docs.filter(col("lang") === "en"), n = 50))
    // the ≤buckets-row log-ratio table must ride a broadcast join onto the
    // (doc, bucket) counts — a shuffled join would co-shuffle the corpus
    // against a 1024-row table
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket log-ratios must broadcast:\n$plan")
    // final selection is ORDER BY + LIMIT = TakeOrderedAndProject, and no
    // corpus-key window anywhere
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-n must be a bounded heap sort:\n$plan")
    assert(!plan.contains("Window"), s"no window belongs in DSIR:\n$plan")
  }

  test("semanticDecontaminate is a map-only corpus scan over a broadcast") {
    val emb = t("embeddings")
    val plan = executed(graft.pipeline.Similarity.semanticDecontaminate(
      emb.filter(col("vec_id") % 11 =!= 0),
      emb.filter(col("vec_id") % 11 === 0), tau = 0.45))
    // the corpus side must not shuffle beyond its fan-out repartition and
    // must never join: the benchmark rides a broadcast variable
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"decontamination must stay scan+broadcast:\n$plan")
  }

  test("lengthQuantiles windows the HISTOGRAM, not the corpus rows") {
    val plan = executed(
      graft.pipeline.TextAnalysis.lengthQuantiles(t("documents")))
    // the aggregate (histogram) must sit BELOW the window: in the printed
    // tree (top-down), the last HashAggregate before the scan is the
    // histogram; a Window directly over the scan would run per-row
    val winIdx = plan.indexOf("Window")
    val aggBelow = plan.indexOf("HashAggregate", winIdx)
    assert(winIdx >= 0 && aggBelow > winIdx,
      s"window must consume the pre-aggregated histogram:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"per-mille explode must be a Generate, not a join:\n$plan")
  }

  test("events anomaly flags join the tiny per-type medians by broadcast") {
    val plan = executed(SparkEntry.queries("q_events_anomaly")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"median side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      s"hourly counts must never co-shuffle with medians:\n$plan")
  }

  test("normalizeText is one map-only scan: no exchange, no join, no window") {
    val plan = executed(graft.pipeline.TextAnalysis.normalizeText(t("documents")))
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("Window"),
      s"normalization must stay map-only:\n$plan")
    // `*(1)` is the whole-stage-codegen stage marker in simpleString plans
    assert(plan.contains("*(1)"),
      s"native nfc_normalize must stay inside codegen:\n$plan")
  }

  test("the quality funnel plans as one native kernel: no split, no array_distinct") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // every SQL execution the calls start, cache fills and checkpoints included
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      graft.pipeline.Prepare.prepareCorpus(t("documents")).collect()
      graft.pipeline.TextAnalysis.filterFunnel(t("documents")).collect()
      org.apache.spark.TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    all.foreach(p => assert(!p.contains("array_distinct") && !p.contains("split("),
      s"the funnel runs as an array-expression chain:\n$p"))
    assert(all.exists(_.contains("GraftFunctions.funnelFirstFail(")), all.mkString("\n"))
  }

  test("corpusDiff is a single digest join: no window, no cartesian") {
    val docs = t("documents")
    val plan = executed(graft.pipeline.Prepare.corpusDiff(
      docs.filter("doc_id < 400"), docs.filter("doc_id >= 100")))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"expected one equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"),
      s"diff must not widen beyond the join:\n$plan")
    // md5 is computed below the join: the join's input projections carry
    // digests, not text — text must not appear as a join-side attribute
    assert(plan.contains("md5"), s"digest must be computed pre-join:\n$plan")
  }

  test("temperatureMixture keep-filter is map-only after the ledger count") {
    val ledger = graft.pipeline.Mixture.temperatureMixture(t("documents"), 300L, "pa3")
    // the ledger frame itself is tiny (per-source); audit the KEPT-ROWS
    // path a deployment uses: same coin filter, literal thresholds
    val plan = executed(
      graft.pipeline.Mixture.mixtureSample(
        t("documents"), Seq("src0" -> 0.5), defaultRate = 0.1, salt = "pa3"))
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"keyed-coin selection must stay map-only:\n$plan")
    assert(ledger.columns.toSeq ==
      Seq("source", "n_docs", "weight", "quota", "kept"))
  }

  test("extension-injected SQL functions: shingle_ids / simhash64 / minhash_bands") {
    // the same table GraftExtensions injects into new sessions
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT size(shingle_ids('a b c d')) AS ns, simhash64(array(1L, 2L)) AS sh, " +
        "hashed_quality('a b c d') AS hq, nfc_normalize('café') AS nn, " +
        "blocklist_terms('a bad doc', 'bad', 'worse') AS bl")
      .collect()(0)
    assert(r.getInt(0) == 2) // 'a b c' and 'b c d'
    assert(r.getSeq[Long](2).head == 4L) // 4 non-empty tokens
    assert(r.getString(3) == "café") // composed to NFC
    assert(r.getLong(4) == 1L) // 'bad' present, 'worse' absent
    // the aggregate form: top-2 ids by score through SQL
    val agg = spark.sql(
      "SELECT topk_ids(s, i, 2) AS top FROM VALUES (1.0D, 10L), (3.0D, 30L), " +
        "(2.0D, 20L) AS t(s, i)")
      .collect()(0).getSeq[Long](0)
    assert(agg == Seq(30L, 20L))
  }
}
