package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.{Graft, TpchCatalog}
import graft.operators.BandJoin
import graft.pipeline.{Bpe, Decontaminate, Dedup, Funnels, Mixture, Multimodal, Prepare, Search, Similarity, Sketches, TextAnalysis}
import graft.sources.Bucketing

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 plus the LLM-data-pipeline extension surface; `oracleSql`
  * carries the DuckDB-equivalent ANSI SQL for every SQL-expressible entry.
  *
  * Conventions keeping the hash compare deterministic across engines:
  *  - every query ends in a total ORDER BY (unique key in the order);
  *  - ASC keys with possible nulls: NULLS FIRST on both sides;
  *  - money aggregates: exact DECIMAL(18,2) arithmetic, cast to DOUBLE at
  *    the end (identical bits on both engines); double SUMs only over
  *    integral-valued columns (l_quantity);
  *  - aggregate/computed columns aliased to the same name on both sides.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The lake has served events.ts as parquet TIMESTAMP(NANOS) (read as
    * nano-epoch long under the legacy conf) and, post-regeneration, as
    * timestamp[us]. Canonicalize to epoch-nanos long ONCE here
    * ([[graft.sources.EventTime]]) — every downstream consumer (Funnels,
    * EventStreams, the inline window/rollup queries) sees one
    * representation regardless of the lake's layout. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _root_.graft.sources.EventTime.toEpochNanos(
      _root_.graft.sources.EventTime.assertPlausibleNanos(
        s.read.parquet(s"$dir/events.parquet"), "ts"), "ts")
  }

  private def graft(s: SparkSession, dir: String): Graft =
    Graft.overParquetDir(TpchCatalog.catalog, dir)(s)

  /** Graft over a catalog *auto-generated* by probing the parquet tables
    * ([[graft.mapping.CatalogGen]] — create_rdfmts.py parity). Vocabulary
    * aliases are deployment config; keys, links, cardinalities and
    * broadcast hints are discovered from the data. Probing is a deploy-time
    * operation (the reference's create_rdfmts.py persists its catalog), so
    * the generated catalog is cached per directory. */
  /** Tables + vocabulary aliases the probed-catalog rows use — aliases are
    * the only deployment config the autogen path takes (create_rdfmts.py
    * parity; everything else is discovered from the lake). */
  val autogenTables: List[String] = List("customer", "orders", "lineitem",
    "part", "supplier", "nation", "region", "documents")
  val autogenAliases: Map[String, String] = Map(
    "customer" -> "cust", "supplier" -> "supp",
    "lineitem" -> "line", "documents" -> "doc")

  private def graftAuto(s: SparkSession, dir: String): Graft =
    Graft.overProbedParquetDir(dir, autogenTables, autogenAliases)(s)

  /** Boot a loopback [[graft.api.GraftServer]] over the catalog molecules
    * scoped to `types`, wire-probe it (fingerprint-cached — rows sharing a
    * scope pay the sniff/link probes once per session), answer `query`
    * through the paged-HTTP endpoint catalog, and materialize before the
    * endpoint stops (fetches run at action time). */
  private def endpointRow(s: SparkSession, d: String, types: Set[String],
                          query: String,
                          sortCols: Seq[String] = Nil,
                          ship: Boolean = false,
                          auto: Boolean = false): DataFrame = {
    implicit val sp: SparkSession = s
    val inner = Graft.overParquetDir(
      _root_.graft.mapping.Catalog(TpchCatalog.catalog.molecules.filter(m =>
        types.contains(m.rdfType))), d)
    val server = new _root_.graft.api.GraftServer(inner)
    val port = server.start()
    try {
      val g = Graft.overSparqlEndpoint(s"http://127.0.0.1:$port/sparql",
        _root_.graft.mapping.EndpointCatalogGen.EndpointOptions(
          shipWholeQuery = ship,
          shipPolicy =
            if (auto) _root_.graft.mapping.EndpointCatalogGen.ShipPolicy.Auto
            else _root_.graft.mapping.EndpointCatalogGen.ShipPolicy.Never))
      val df0 = g.sparql(query)
      val df = if (sortCols.isEmpty) df0
               else df0.orderBy(sortCols.map(col): _*)
      val rows = df.collect()
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
    } finally server.stop()
  }

  /** BPE merge tables are train-once/apply-many artifacts (the trainer is
    * deterministic, [[graft.pipeline.Bpe.train]]), so the three doc_bpe*
    * fixtures share one training run per (dir, nMerges) — the first
    * consumer pays it, exactly as a real pipeline trains once and ships
    * the merges file. */
  private val bpeMerges =
    scala.collection.concurrent.TrieMap[(String, Int), Seq[Bpe.Merge]]()
  private def trainedMerges(s: SparkSession, d: String,
                            n: Int = 200): Seq[Bpe.Merge] =
    bpeMerges.getOrElseUpdate((d, n), Bpe.train(T(s, d, "documents"), nMerges = n))

  /** Queries the Bench harness skips: verification/replay harnesses whose
    * runtime measures driver-side test machinery (MemoryStream feeding,
    * per-batch state commits), not engine throughput. The Verify
    * correctness gate still runs them. */
  val benchExcluded: Set[String] =
    Set("q_stream_funnel", "q_stream_source_cap", "q_stream_token_budget",
      "q_stream_sessions", "q_stream_retention", "q_stream_interval",
      "q_stream_dedup", "q_stream_file_dedup", "q_stream_anomaly",
      "q_stream_manifest", "q_stream_file_manifest", "q_stream_cdc_compact",
      "q_stream_er", "q_stream_golden", "q_stream_cdc_snapshot",
      "q_stream_changes_feed", "q_stream_lake_feed",
      "q_stream_lake_ivm",
      // same streaming-harness class as q_stream_lake_ivm (drives the
      // maintainAggregate stream three processAllAvailable rounds):
      // trigger/poll latency, not engine throughput; the IVM fold's
      // perf signal is the decade sweep in SCALE.md
      "lake_ivm_minmax",
      // loopback-federation verification harnesses: each boots GraftServer
      // instances and pays the deploy-time wire probe (create_rdfmts
      // parity) inside the row — they verify the endpoint catalog path,
      // they don't measure engine throughput (the reference's
      // create_rdfmts runs for minutes as an offline job)
      "autogen_endpoint_join", "autogen_endpoint_federation",
      "autogen_endpoint_pruned", "autogen_endpoint_optional",
      "autogen_endpoint_path", "autogen_endpoint_construct",
      "autogen_endpoint_filter",
      "autogen_endpoint_shipped_agg", "autogen_endpoint_shipped_join",
      "autogen_endpoint_shipped_topk", "autogen_endpoint_shipped_ask",
      "autogen_endpoint_shipped_construct",
      "autogen_endpoint_federation_shipped",
      "autogen_endpoint_federation_optional",
      "autogen_endpoint_federation_union",
      "autogen_endpoint_route_agg", "autogen_endpoint_route_scan",
      "autogen_endpoint_shipped_describe")

  /** The shared SCD2 fixture of `lake_scd2` and `lake_scd2_asof` —
    * (dim, updates). The as-of gate time-travels the SAME history the
    * scd2 gate builds, so the two rows must not drift: %7 keys reprice
    * (+50), %11 keys re-deliver unchanged (no-op), %13 keys insert under
    * shifted ids. */
  private def scd2Fixture(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cust = T(s, d, "customer")
    val dim = cust.select(col("c_custkey"), col("c_name"),
      col("c_acctbal"), lit(0L).as("valid_from"),
      lit(null).cast("bigint").as("valid_to"))
    val updates = cust
      .filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 11 === 0)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 50.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
      .unionByName(cust.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          col("c_name"), col("c_acctbal")))
    (dim, updates)
  }

  /** The shared CDC op-log fixture of `lake_compact_log` and
    * `q_stream_cdc_compact`: three generations of changes per key over
    * the %5 orders slice (gen-1 insert for all, gen-2 reprice for %10,
    * gen-3 delete for %20). */
  private def cdcLogFixture(s: SparkSession, d: String): DataFrame = {
    val base = T(s, d, "orders").filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    base
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), lit("I").as("op"), lit(1L).as("seq"))
      .unionByName(base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 5.0).as("o_totalprice"),
          lit("U").as("op"), lit(2L).as("seq")))
      .unionByName(base.filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"),
          lit("D").as("op"), lit(3L).as("seq")))
  }

  /** Shared ER fixture: the q_entity_resolution corpus (originals +
    * their deterministic one-char-deletion variants) plus a SPARSE
    * exact-match key for the multi-pass rows — 10% of originals carry
    * 'k' + (doc_id % 7), variants carry NULL. */
  private def erRecords(s: SparkSession, d: String): DataFrame = {
    val hex = expr("substring(md5(cast(doc_id as string)), 1, 10)")
    val variant = expr(
      "concat(substring(substring(md5(cast(doc_id as string)), 1, 10), " +
        "1, cast(doc_id % 9 as int)), " +
        "substring(substring(md5(cast(doc_id as string)), 1, 10), " +
        "cast(doc_id % 9 as int) + 2, 10))")
    T(s, d, "documents")
      .select(col("doc_id").as("id"), hex.as("name"),
        when(col("doc_id") % 10 === 0,
          concat(lit("k"), (col("doc_id") % 7).cast("string"))).as("xkey"))
      .unionByName(T(s, d, "documents")
        .select((col("doc_id") + 10000000L).as("id"), variant.as("name"),
          lit(null).cast("string").as("xkey")))
  }

  /** Hourly event counts per type — the shared input of both anomaly
    * rows (one definition ⇒ Catalyst's ReusedExchange can share the
    * aggregation when a plan consumes it twice). */
  private def hourlyCountsOf(ev: DataFrame): DataFrame =
    ev.withColumn("h", expr("ts div 3600000000000"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("cnt"))

  /** Per-type type-1 MEDIAN of an integer column via its histogram
    * (cum·2 ≥ n — the doc_length_quantiles arithmetic): the robust-stat
    * primitive the anomaly rows share. Takes ALREADY-AGGREGATED frames so
    * callers never rescan events. */
  private def typeMedian(df: DataFrame, valCol: String, outCol: String): DataFrame =
    df.groupBy(col("event_type"), col(valCol).as("v"))
      .agg(count(lit(1)).as("k"))
      .withColumn("cum", sum("k").over(
        Window.partitionBy("event_type").orderBy("v")))
      .withColumn("n", sum("k").over(Window.partitionBy("event_type")))
      .filter(col("cum") * 2 >= col("n"))
      .groupBy("event_type").agg(min("v").as(outCol))

  private def hourlyTypeMedians(hourly: DataFrame): DataFrame =
    typeMedian(hourly, "cnt", "med")

  /** exact decimal money expr: extendedprice * (1 - discount). */
  private def discPrice: Column =
    col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))

  /** Flagship query on sf=0.001 through the full SPARQL stack. */
  def entry(spark: SparkSession): DataFrame =
    graft(spark, "/root/testdata/sf0.001").sparql(SPARQL_JOIN_CHAIN)

  // ---- SPARQL fixture texts (LSLOD query shapes, FIXTURES.md §3) ---------

  /** Documents star served FROM a snapshot-managed lake (the
    * [[graft.sources.SnapshotSource]] rows): the engine reads the
    * manifest's committed state, never the raw directory tree. */
  private val SPARQL_LAKE_DOCS =
    """PREFIX g: <urn:g:>
      |SELECT ?d ?src ?lang WHERE {
      |  ?d a g:Document ; g:source ?src ; g:lang ?lang .
      |} ORDER BY ?d""".stripMargin

  /** One snapshot-managed documents lake per sf dir, shared by the
    * `sparql_lake_snapshot*` rows (a lake is deploy-time state like the
    * probed catalogs): snapshot 1 = the full table, snapshot 2 = the
    * takedown pass (doc_id%7 removed) — so "current" and "asOf 1" give
    * the two rows distinct, independently oracled answers. */
  private val docLakes = scala.collection.concurrent.TrieMap[String, String]()
  private def snapshotDocLake(s: SparkSession, d: String): String =
    docLakes.getOrElseUpdate(d, {
      val root = s"/tmp/graft_lake_snap_eng/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
      def half(p: Int) = docs.filter(col("doc_id") % 2 === p)
      // stats on (doc_id, lang): the engine rows ride the automatic
      // FileIndex skip path, and the FILTERed row prunes through it
      val st = Seq("doc_id", "lang")
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> half(0), "p=1" -> half(1)), statsCols = st)
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root, Seq(
        "p=0" -> half(0).filter(col("doc_id") % 7 =!= 0),
        "p=1" -> half(1).filter(col("doc_id") % 7 =!= 0)),
        statsCols = st)
      root
    })

  /** Graft whose `documents` table is a snapshot lake epoch; every other
    * table stays plain parquet — mixed-source federation, the engine's
    * home ground. */
  private def graftOverDocLake(s: SparkSession, d: String,
                               asOf: Option[Int]): Graft = {
    implicit val sp: SparkSession = s
    val root = snapshotDocLake(s, d)
    new Graft(TpchCatalog.catalog, t =>
      if (t == "documents")
        _root_.graft.sources.SnapshotSource(root, asOf).load(s)
      else s.read.parquet(s"$d/$t.parquet"))
  }

  private val SPARQL_SCAN_FILTER =
    """PREFIX g: <urn:g:>
      |SELECT ?c ?name ?bal WHERE {
      |  ?c a g:Customer ; g:name ?name ; g:acctbal ?bal .
      |  FILTER (?bal > 5000)
      |} ORDER BY ?c""".stripMargin

  private val SPARQL_STAR_CONST =
    """PREFIX g: <urn:g:>
      |SELECT ?c ?name ?bal WHERE {
      |  ?c a g:Customer ; g:name ?name ; g:acctbal ?bal ; g:mktsegment "BUILDING" .
      |} ORDER BY ?c""".stripMargin

  private val SPARQL_UNION =
    """PREFIX g: <urn:g:>
      |SELECT ?ent ?n WHERE {
      |  { ?ent a g:Customer ; g:name ?n } UNION { ?ent a g:Supplier ; g:name ?n }
      |} ORDER BY ?ent""".stripMargin

  private val SPARQL_JOIN_CHAIN =
    """PREFIX g: <urn:g:>
      |SELECT ?l ?cname ?qty WHERE {
      |  ?c a g:Customer ; g:name ?cname ; g:mktsegment "BUILDING" .
      |  ?o g:customer ?c .
      |  ?l g:order ?o ; g:quantity ?qty .
      |} ORDER BY ?l""".stripMargin

  private val SPARQL_OPTIONAL =
    """PREFIX g: <urn:g:>
      |SELECT ?c ?o ?tp WHERE {
      |  ?c a g:Customer ; g:mktsegment "MACHINERY" .
      |  OPTIONAL { ?o g:customer ?c ; g:totalprice ?tp . FILTER (?tp > 200000) }
      |} ORDER BY ?c ?o""".stripMargin

  private val SPARQL_DISTINCT_MOD =
    """PREFIX g: <urn:g:>
      |SELECT DISTINCT ?seg WHERE { ?c g:mktsegment ?seg }
      |ORDER BY ?seg LIMIT 3 OFFSET 1""".stripMargin

  private val SPARQL_THETA_STR =
    """PREFIX g: <urn:g:>
      |SELECT ?c ?s WHERE {
      |  ?c a g:Customer ; g:nation ?n1 .
      |  ?s a g:Supplier ; g:nation ?n2 .
      |  FILTER (STR(?n1) = STR(?n2))
      |} ORDER BY ?c ?s""".stripMargin

  private val SPARQL_ASK =
    """PREFIX g: <urn:g:> ASK { ?c g:mktsegment "BUILDING" }"""

  private val SPARQL_CONSTRUCT =
    """PREFIX g: <urn:g:>
      |CONSTRUCT { ?c g:label ?name } WHERE { ?c a g:Customer ; g:name ?name }""".stripMargin

  private val SPARQL_TOPK =
    """PREFIX g: <urn:g:>
      |SELECT ?ent ?bal WHERE { ?ent g:acctbal ?bal ; g:name ?n }
      |ORDER BY DESC(?bal) ?ent LIMIT 20""".stripMargin

  private val SPARQL_AGG_GROUP =
    """PREFIX g: <urn:g:>
      |SELECT ?flag ?status (SUM(?qty) AS ?sum_qty) (COUNT(*) AS ?cnt) WHERE {
      |  ?l a g:Lineitem ; g:returnflag ?flag ; g:linestatus ?status ; g:quantity ?qty .
      |} GROUP BY ?flag ?status ORDER BY ?flag ?status""".stripMargin

  /** GROUP BY expression condition (§18.2.4.1): `(MONTH(?sd) AS ?m)`
    * desugars to BIND + group-on-var at parse time. */
  private val SPARQL_GROUP_EXPR =
    """PREFIX g: <urn:g:>
      |SELECT ?m (COUNT(*) AS ?n) WHERE {
      |  ?l a g:Lineitem ; g:shipdate ?sd .
      |} GROUP BY (MONTH(?sd) AS ?m) ORDER BY ?m""".stripMargin

  /** SELECT expression over aggregates (§18.2.4.4): arithmetic computed
    * post-grouping from hoisted hidden aggregate columns. */
  private val SPARQL_AGG_EXPR =
    """PREFIX g: <urn:g:>
      |SELECT ?flag (SUM(?qty) / COUNT(*) AS ?avg_qty) (SUM(?qty) + 1 AS ?plus)
      |WHERE { ?l a g:Lineitem ; g:returnflag ?flag ; g:quantity ?qty .
      |} GROUP BY ?flag ORDER BY ?flag""".stripMargin

  private val SPARQL_BUILTINS =
    """PREFIX g: <urn:g:>
      |SELECT ?p ?pname WHERE {
      |  ?p a g:Part ; g:name ?pname .
      |  FILTER (CONTAINS(UCASE(?pname), "RED") && STRLEN(?pname) > 5)
      |} ORDER BY ?p""".stripMargin

  private val SPARQL_REGEX =
    """PREFIX g: <urn:g:>
      |SELECT ?p ?ptype WHERE {
      |  ?p a g:Part ; g:type ?ptype . FILTER (REGEX(?ptype, "^eco", "i"))
      |} ORDER BY ?p""".stripMargin

  private val SPARQL_REGION_CHAIN =
    """PREFIX g: <urn:g:>
      |SELECT ?s ?sname ?nname WHERE {
      |  ?s a g:Supplier ; g:name ?sname ; g:nation ?n .
      |  ?n a g:Nation ; g:name ?nname ; g:region ?r .
      |  ?r a g:Region ; g:name "ASIA" .
      |} ORDER BY ?s""".stripMargin

  /** Untyped chain — exercises join-link molecule pruning (the reference's
    * RDF-MT range pruning): ?ent stays customer ∪ supplier, ?r prunes from
    * "every molecule with g:name" down to Region. */
  private val SPARQL_PRUNED_CHAIN =
    """PREFIX g: <urn:g:>
      |SELECT ?ent ?ename ?nname WHERE {
      |  ?ent g:name ?ename ; g:nation ?n .
      |  ?n g:name ?nname ; g:region ?r .
      |  ?r g:name "ASIA" .
      |} ORDER BY ?ent""".stripMargin

  private val SPARQL_MINUS =
    """PREFIX g: <urn:g:>
      |SELECT ?c WHERE {
      |  ?c a g:Customer .
      |  MINUS { ?o g:customer ?c ; g:totalprice ?tp . FILTER (?tp > 400000) }
      |} ORDER BY ?c""".stripMargin

  private val SPARQL_EXISTS =
    """PREFIX g: <urn:g:>
      |SELECT ?c ?name WHERE {
      |  ?c a g:Customer ; g:name ?name .
      |  FILTER EXISTS { ?o g:customer ?c ; g:totalprice ?tp . FILTER (?tp > 400000) }
      |} ORDER BY ?c""".stripMargin

  private val SPARQL_VALUES =
    """PREFIX g: <urn:g:>
      |SELECT ?c ?seg WHERE {
      |  ?c g:mktsegment ?seg .
      |  VALUES ?seg { "BUILDING" "MACHINERY" }
      |} ORDER BY ?c""".stripMargin

  private val SPARQL_AGG_FULL =
    """PREFIX g: <urn:g:>
      |SELECT ?flag (AVG(?qty) AS ?avg_qty) (MIN(?qty) AS ?min_qty)
      |       (MAX(?qty) AS ?max_qty) (COUNT(*) AS ?cnt)
      |       (GROUP_CONCAT(?status ; SEPARATOR = "|") AS ?statuses) WHERE {
      |  ?l a g:Lineitem ; g:returnflag ?flag ; g:linestatus ?status ; g:quantity ?qty .
      |} GROUP BY ?flag ORDER BY ?flag""".stripMargin

  /** Property-path sequence (SPARQL 1.1 extension): supplier → nation →
    * region names in one path expression. */
  private val SPARQL_PATH =
    """PREFIX g: <urn:g:>
      |SELECT ?s ?sname ?rname WHERE {
      |  ?s a g:Supplier ; g:name ?sname ; g:nation/g:region/g:name ?rname .
      |} ORDER BY ?s""".stripMargin

  /** LANG()/LANGMATCHES over mapped lang-tag metadata (RefMap.langColumn —
    * the reference's xml:lang handling for wrapper results). */
  private val SPARQL_LANG =
    """PREFIX g: <urn:g:>
      |SELECT ?d ?txt WHERE {
      |  ?d a g:Document ; g:text ?txt .
      |  FILTER (LANGMATCHES(LANG(?txt), "en"))
      |} ORDER BY ?d""".stripMargin

  private val SPARQL_HAVING =
    """PREFIX g: <urn:g:>
      |SELECT ?cust (COUNT(*) AS ?n) WHERE {
      |  ?o a g:Order ; g:customer ?cust .
      |} GROUP BY ?cust HAVING (COUNT(*) > 12) ORDER BY ?cust""".stripMargin

  /** CONSTRUCT with typed-literal N-Triples serialization (^^xsd:…). */
  private val SPARQL_CONSTRUCT_TYPED =
    """PREFIX g: <urn:g:>
      |CONSTRUCT { ?l g:qty ?qty . ?l g:ship ?sd } WHERE {
      |  ?l a g:Lineitem ; g:quantity ?qty ; g:shipdate ?sd .
      |  FILTER (?qty > 45)
      |}""".stripMargin

  /** Variable-predicate probe (property enumeration — the reference's
    * wrappers expand ?p over their triple maps). */
  private val SPARQL_VARPRED =
    """PREFIX g: <urn:g:>
      |SELECT ?p ?o WHERE { <urn:g:cust:1> ?p ?o } ORDER BY ?p ?o""".stripMargin

  /** BIND computed column + IN-list filter (SPARQL 1.1 extensions). */
  private val SPARQL_BIND_IN =
    """PREFIX g: <urn:g:>
      |SELECT ?l ?rev WHERE {
      |  ?l a g:Lineitem ; g:extendedprice ?price ; g:discount ?disc ;
      |     g:returnflag ?flag .
      |  BIND (?price * (1 - ?disc) AS ?rev)
      |  FILTER (?flag IN ("A", "R"))
      |} ORDER BY ?l ?rev""".stripMargin

  /** Date extraction builtins in projection expressions. */
  private val SPARQL_DATEFUNCS =
    """PREFIX g: <urn:g:>
      |SELECT ?l (YEAR(?sd) AS ?y) (MONTH(?sd) AS ?m) (DAY(?sd) AS ?dom)
      |       (TZ(?sd) AS ?tz) (TIMEZONE(?sd) AS ?tzd) WHERE {
      |  ?l a g:Lineitem ; g:shipdate ?sd . FILTER (MONTH(?sd) = 1)
      |} ORDER BY ?l ?y ?m ?dom""".stripMargin

  /** String builtins: SUBSTR/UCASE/REPLACE/CONCAT/STRLEN. */
  private val SPARQL_STRFUNCS =
    """PREFIX g: <urn:g:>
      |SELECT ?c (UCASE(SUBSTR(?name, 1, 8)) AS ?prefix)
      |       (REPLACE(?name, "Customer", "C") AS ?short)
      |       (CONCAT(?seg, "-", ?name) AS ?tag) (STRLEN(?name) AS ?len) WHERE {
      |  ?c a g:Customer ; g:name ?name ; g:mktsegment ?seg .
      |} ORDER BY ?c""".stripMargin

  /** Property-path closure (SPARQL 1.1 `+` over an alternation): the
    * customer/supplier → nation → region hierarchy flattened transitively. */
  private val SPARQL_PATH_CLOSURE =
    """PREFIX g: <urn:g:>
      |SELECT ?x ?y WHERE { ?x (g:nation|g:region)+ ?y } ORDER BY ?x ?y""".stripMargin

  /** Zero-or-one path step (SPARQL 1.1 `?`): nation→region edges plus
    * zero-length pairs over the edge graph's node universe. */
  private val SPARQL_PATH_ZEROORONE =
    """PREFIX g: <urn:g:>
      |SELECT ?a ?b WHERE { ?a (g:region)? ?b } ORDER BY ?a ?b""".stripMargin

  /** Negated property set (SPARQL 1.1 `!(…)`): every edge whose predicate
    * is NOT g:name — over a nation/region-scoped graph that leaves the
    * region links and rdf:type edges. */
  private val SPARQL_PATH_NPS =
    """PREFIX g: <urn:g:>
      |SELECT ?a ?b WHERE { ?a !(g:name) ?b } ORDER BY ?a ?b""".stripMargin

  /** SPARQL 1.1 SERVICE: explicit per-source scoping (srcB = supplier
    * tables, srcC = the nation/region dimension federation member), joined
    * on the shared template variable across services. */
  private val SPARQL_SERVICE =
    """PREFIX g: <urn:g:>
      |SELECT ?sname ?nname WHERE {
      |  SERVICE <urn:g:src:srcB> { ?s a g:Supplier ; g:name ?sname ; g:nation ?n }
      |  SERVICE SILENT <urn:g:src:srcC> { ?n a g:Nation ; g:name ?nname }
      |} ORDER BY ?sname ?nname""".stripMargin

  /** Blank-node property list: `[ g:name "GERMANY" ]` desugars to a hidden
    * non-selectable variable joined across the supplier→nation link. */
  private val SPARQL_BNODE =
    """PREFIX g: <urn:g:>
      |SELECT ?sname WHERE {
      |  ?s a g:Supplier ; g:name ?sname ; g:nation [ g:name "NATION_3" ] .
      |} ORDER BY ?sname""".stripMargin

  /** Variable-predicate probe joined with constant-predicate triples in one
    * star (the reference enumerates ?p over the molecule's triple maps). */
  private val SPARQL_VARPRED_STAR =
    """PREFIX g: <urn:g:>
      |SELECT ?c ?p ?o WHERE {
      |  ?c a g:Customer ; g:mktsegment "AUTOMOBILE" ; ?p ?o .
      |} ORDER BY ?c ?p ?o""".stripMargin

  /** HAVING over a DISTINCT aggregate (hoisted hidden aggregate column). */
  private val SPARQL_HAVING_DISTINCT =
    """PREFIX g: <urn:g:>
      |SELECT ?o (COUNT(DISTINCT ?p) AS ?nparts) WHERE {
      |  ?l a g:Lineitem ; g:order ?o ; g:part ?p .
      |} GROUP BY ?o HAVING (COUNT(DISTINCT ?p) > 5) ORDER BY ?o""".stripMargin

  /** DESCRIBE a resource: all its triples, N-Triples-formatted (extension —
    * the reference grammar has SELECT/ASK/CONSTRUCT only). */
  private val SPARQL_DESCRIBE = "PREFIX g: <urn:g:> DESCRIBE <urn:g:cust:1>"

  /** SPARQL 1.1 hash + STRBEFORE/STRAFTER builtins in projections. */
  private val SPARQL_HASHFUNCS =
    """PREFIX g: <urn:g:>
      |SELECT ?d (MD5(?src) AS ?h) (SHA256(?lang) AS ?h2)
      |       (STRAFTER(?src, "src") AS ?num) (STRBEFORE(?src, "rc") AS ?pre)
      |WHERE { ?d a g:Document ; g:source ?src ; g:lang ?lang } ORDER BY ?d""".stripMargin

  /** SPARQL 1.1 subquery: aggregate inside a nested SELECT joined back to
    * an outer star on the projected variable. */
  private val SPARQL_SUBQUERY =
    """PREFIX g: <urn:g:>
      |SELECT ?cust ?n ?name WHERE {
      |  { SELECT ?cust (COUNT(*) AS ?n) WHERE {
      |      ?o a g:Order ; g:customer ?cust .
      |    } GROUP BY ?cust HAVING (COUNT(*) > 14) }
      |  ?cust g:name ?name .
      |} ORDER BY ?cust""".stripMargin

  /** CQ5 shape (LSLOD): OPTIONAL over a partial star of the *same* subject
    * (cf. `queries/complexqueries/CQ5` — drug star with an all-or-nothing
    * optional predicate block); joins back on the raw subject key. */
  private val SPARQL_CQ5_OPTIONAL =
    """PREFIX g: <urn:g:>
      |SELECT ?o ?od ?tp ?st WHERE {
      |  ?o a g:Order ; g:orderdate ?od .
      |  OPTIONAL { ?o g:totalprice ?tp ; g:orderstatus ?st ; g:orderpriority "1-URGENT" . }
      |} ORDER BY ?o""".stripMargin

  /** CQ1 shape (LSLOD): 3-source chain + multi-star OPTIONAL with filter. */
  private val SPARQL_CQ1 =
    """PREFIX g: <urn:g:>
      |SELECT ?l ?cname ?qty ?rp WHERE {
      |  ?c a g:Customer ; g:name ?cname ; g:mktsegment "BUILDING" .
      |  ?o g:customer ?c .
      |  ?l g:order ?o ; g:quantity ?qty .
      |  OPTIONAL { ?l g:part ?p . ?p g:retailprice ?rp . FILTER (?rp > 1500) }
      |} ORDER BY ?l ?qty ?rp""".stripMargin

  // ---- query registry -----------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // reference-surface operators through the SPARQL engine
    "sparql_scan_filter" -> ((s, d) => graft(s, d).sparql(SPARQL_SCAN_FILTER)),
    "sparql_star_const" -> ((s, d) => graft(s, d).sparql(SPARQL_STAR_CONST)),
    "sparql_union" -> ((s, d) => graft(s, d).sparql(SPARQL_UNION)),
    "sparql_join_chain" -> ((s, d) => graft(s, d).sparql(SPARQL_JOIN_CHAIN)),
    "sparql_optional" -> ((s, d) => graft(s, d).sparql(SPARQL_OPTIONAL)),
    "sparql_distinct_mod" -> ((s, d) => graft(s, d).sparql(SPARQL_DISTINCT_MOD)),
    "sparql_theta_str" -> ((s, d) => graft(s, d).sparql(SPARQL_THETA_STR)),
    "sparql_ask" -> ((s, d) => graft(s, d).sparql(SPARQL_ASK)),
    "sparql_construct" -> ((s, d) => graft(s, d).sparql(SPARQL_CONSTRUCT).orderBy("s")),
    "sparql_construct_typed" -> ((s, d) =>
      graft(s, d).sparql(SPARQL_CONSTRUCT_TYPED).orderBy("s", "p")),
    "sparql_topk" -> ((s, d) => graft(s, d).sparql(SPARQL_TOPK)),
    "sparql_agg_group" -> ((s, d) => graft(s, d).sparql(SPARQL_AGG_GROUP)),
    "sparql_group_expr" -> ((s, d) => graft(s, d).sparql(SPARQL_GROUP_EXPR)),
    "sparql_bnode" -> ((s, d) => graft(s, d).sparql(SPARQL_BNODE)),
    "sparql_agg_expr" -> ((s, d) => graft(s, d).sparql(SPARQL_AGG_EXPR)),
    "sparql_builtins" -> ((s, d) => graft(s, d).sparql(SPARQL_BUILTINS)),
    "sparql_regex" -> ((s, d) => graft(s, d).sparql(SPARQL_REGEX)),
    "sparql_region_chain" -> ((s, d) => graft(s, d).sparql(SPARQL_REGION_CHAIN)),
    "sparql_pruned_chain" -> ((s, d) => graft(s, d).sparql(SPARQL_PRUNED_CHAIN)),
    // same workload over the PROBED catalog — catalog generation is gated
    // on producing byte-identical answers to the hand-written mapping
    "autogen_join_chain" -> ((s, d) => graftAuto(s, d).sparql(SPARQL_JOIN_CHAIN)),
    "autogen_pruned_chain" -> ((s, d) => graftAuto(s, d).sparql(SPARQL_PRUNED_CHAIN)),
    // r11 verdict ask #6: the probed catalog (CatalogGen — the reference's
    // create_rdfmts.py production entry) carried only 2 of 119 rows; these
    // run OPTIONAL, UNION, and aggregation through discovered keys, links,
    // and broadcast hints end-to-end, sharing the manual rows' oracles
    "autogen_optional" -> ((s, d) => graftAuto(s, d).sparql(SPARQL_OPTIONAL)),
    "autogen_union" -> ((s, d) => graftAuto(s, d).sparql(SPARQL_UNION)),
    "autogen_agg_group" -> ((s, d) => graftAuto(s, d).sparql(SPARQL_AGG_GROUP)),
    // property-path desugaring (sequence + inverse joins) over the PROBED
    // catalog: link discovery must reconstruct the same join keys the
    // manual catalog declares
    "autogen_path" -> ((s, d) => graftAuto(s, d).sparql(SPARQL_PATH)),
    // negation (anti join) and semi join through the probed catalog: the
    // discovered links must support NOT-patterns, not just joins
    "autogen_minus" -> ((s, d) => graftAuto(s, d).sparql(SPARQL_MINUS)),
    "autogen_exists" -> ((s, d) => graftAuto(s, d).sparql(SPARQL_EXISTS)),
    // ORDER+LIMIT through the probed catalog (TakeOrderedAndProject)
    "autogen_topk" -> ((s, d) => graftAuto(s, d).sparql(SPARQL_TOPK)),
    // CONSTRUCT (N-Triples projection) through the probed catalog: the
    // discovered URI templates must serialize identically to declared ones
    "autogen_construct" -> ((s, d) =>
      graftAuto(s, d).sparql(SPARQL_CONSTRUCT).orderBy("s")),
    // RDF-MT catalog probed over the WIRE from a live SPARQL endpoint (the
    // create_rdfmts.py triple-store path, r12 verdict ask #3): typed
    // concepts, predicates, cardinalities and datatypes discovered through
    // the DiscoveryTranslators protocol + SparqlHttp transport against a
    // loopback GraftServer, then a 3-star join answered through paged HTTP
    // fetches whose page plans come from the probed cardinalities
    "autogen_endpoint_join" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Customer", "urn:g:Nation", "urn:g:Region"),
      """PREFIX g: <urn:g:>
        |SELECT ?rname (COUNT(?c) AS ?ncust) WHERE {
        |  ?c a g:Customer ; g:nation ?n .
        |  ?n a g:Nation ; g:region ?r .
        |  ?r a g:Region ; g:name ?rname .
        |} GROUP BY ?rname ORDER BY ?rname""".stripMargin)),
    // the r13 verdict's top ask, gated: a deliberately AMBIGUOUS
    // multi-concept star — ?n carries only g:name, which Customer, Nation
    // AND Region all serve, so only the wire-probed link ranges
    // ((Customer, g:nation) → {Nation}) let the decomposer prune ?n to the
    // Nation molecule (Round14Spec pins the pruned molecule list; this row
    // pins the pruned plan's ANSWER against the relational oracle)
    "autogen_endpoint_pruned" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Customer", "urn:g:Nation", "urn:g:Region"),
      """PREFIX g: <urn:g:>
        |SELECT ?nname (COUNT(?c) AS ?ncust) WHERE {
        |  ?c a g:Customer ; g:nation ?n .
        |  ?n g:name ?nname .
        |} GROUP BY ?nname ORDER BY ?nname""".stripMargin)),
    // the wire-probed surface beyond BGP+aggregation (r13 verdict ask #4):
    // OPTIONAL with empty-bag padding, a property path, and CONSTRUCT all
    // answered through the paged-HTTP endpoint catalog, sharing the manual
    // twins' oracles — catalog provenance must not change results
    "autogen_endpoint_optional" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Customer", "urn:g:Order"), SPARQL_OPTIONAL)),
    "autogen_endpoint_path" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Supplier", "urn:g:Nation", "urn:g:Region"), SPARQL_PATH)),
    "autogen_endpoint_construct" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Customer"), SPARQL_CONSTRUCT, sortCols = Seq("s"))),
    // the DSv2 pushdown path gated end-to-end: the acctbal range FILTER
    // becomes a SPARQL FILTER evaluated inside the remote scan and the
    // unused mktsegment predicate is pruned from the remote query
    // (Round14Spec pins the plan shape; this row pins the ANSWER against
    // the manual twin's relational oracle)
    "autogen_endpoint_filter" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Customer"), SPARQL_SCAN_FILTER)),
    // whole-query dispatch (QueryShip): when every star lives on the one
    // probed endpoint, the mediator ships the query VERBATIM and pages
    // only final rows — group rows for the aggregate, joined rows for the
    // 3-star chain, one verbatim fetch for the bounded top-k, a boolean
    // document for ASK. Each row shares its manual twin's relational
    // oracle, so the gate pins shipped answers, not just plan shapes
    // (Round14Spec pins transfer counts: one sizing COUNT + pages)
    "autogen_endpoint_shipped_agg" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Lineitem"), SPARQL_AGG_GROUP, ship = true)),
    "autogen_endpoint_shipped_join" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Customer", "urn:g:Order", "urn:g:Lineitem"),
      SPARQL_JOIN_CHAIN, ship = true)),
    "autogen_endpoint_shipped_topk" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Customer", "urn:g:Supplier"), SPARQL_TOPK, ship = true)),
    "autogen_endpoint_shipped_ask" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Customer"), SPARQL_ASK, ship = true)),
    // graph-form dispatch: the CONSTRUCT's WHERE ships as a SELECT, the
    // template instantiates locally (N-Triples formatting + IRI-kind
    // authority stay with the mediator)
    "autogen_endpoint_shipped_construct" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Customer"), SPARQL_CONSTRUCT, sortCols = Seq("s"),
      ship = true)),
    // DESCRIBE dispatch (the ladder's last rung, r14 ask #7): the probe
    // ships as ONE SELECT with the term kind asked of the store
    // (ISIRI), N-Triples formatting stays local — answers must equal
    // the local twin's (same relational oracle)
    "autogen_endpoint_shipped_describe" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Customer"), SPARQL_DESCRIBE,
      sortCols = Seq("p", "o"), ship = true)),
    // COST-BASED route selection (r14 verdict ask #1): under
    // shipPolicy=Auto the ship-vs-local choice is a per-query decision
    // from the probed cardinalities (RoutePlanner). The aggregate ships
    // (group rows ≪ instance rows, a clear transfer win); the selective
    // scan stays local (result ≈ scan, tie routes to the authoritative
    // compiler). Round15Spec pins the route flip via explain(); these
    // rows pin that BOTH auto-chosen routes answer correctly, against
    // the manual twins' oracles
    "autogen_endpoint_route_agg" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Lineitem"), SPARQL_AGG_GROUP, auto = true)),
    "autogen_endpoint_route_scan" -> ((s, d) => endpointRow(s, d,
      Set("urn:g:Customer"), SPARQL_SCAN_FILTER, auto = true)),
    // TWO-endpoint federation — the reference's actual deployment shape
    // (one mediator, N endpoints): customer lives on endpoint A,
    // nation/region on endpoint B; both are wire-probed independently and
    // the same 3-star rollup joins ACROSS endpoints on subject-URI
    // identity, matching the single-lake relational oracle
    "autogen_endpoint_federation" -> ((s, d) => {
      implicit val sp: SparkSession = s
      def scoped(types: Set[String]) = Graft.overParquetDir(
        _root_.graft.mapping.Catalog(TpchCatalog.catalog.molecules.filter(m =>
          types.contains(m.rdfType))), d)
      val srvA = new _root_.graft.api.GraftServer(scoped(Set("urn:g:Customer")))
      val srvB = new _root_.graft.api.GraftServer(
        scoped(Set("urn:g:Nation", "urn:g:Region")))
      val pa = srvA.start()
      val pb = srvB.start()
      try {
        val g = Graft.overSparqlEndpoints(Seq(
          s"http://127.0.0.1:$pa/sparql", s"http://127.0.0.1:$pb/sparql"))
        val df = g.sparql(
          """PREFIX g: <urn:g:>
            |SELECT ?rname (COUNT(?c) AS ?ncust) WHERE {
            |  ?c a g:Customer ; g:nation ?n .
            |  ?n a g:Nation ; g:region ?r .
            |  ?r a g:Region ; g:name ?rname .
            |} GROUP BY ?rname ORDER BY ?rname""".stripMargin)
        val rows = df.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      } finally { srvA.stop(); srvB.stop() }
    }),
    // the same two-endpoint federation with exclusive-group dispatch ON:
    // the nation⋈region stars (both exclusive to endpoint B) ship as ONE
    // remote subquery — the cross-star join runs AT endpoint B and only
    // joined rows transit (Round14Spec pins the transfer: one sizing
    // COUNT + one page); the answer still matches the single-lake oracle
    "autogen_endpoint_federation_shipped" -> ((s, d) => {
      implicit val sp: SparkSession = s
      def scoped(types: Set[String]) = Graft.overParquetDir(
        _root_.graft.mapping.Catalog(TpchCatalog.catalog.molecules.filter(m =>
          types.contains(m.rdfType))), d)
      val srvA = new _root_.graft.api.GraftServer(scoped(Set("urn:g:Customer")))
      val srvB = new _root_.graft.api.GraftServer(
        scoped(Set("urn:g:Nation", "urn:g:Region")))
      val pa = srvA.start()
      val pb = srvB.start()
      try {
        val g = Graft.overSparqlEndpoints(Seq(
          s"http://127.0.0.1:$pa/sparql", s"http://127.0.0.1:$pb/sparql"),
          _root_.graft.mapping.EndpointCatalogGen.EndpointOptions(
            shipWholeQuery = true))
        val df = g.sparql(
          """PREFIX g: <urn:g:>
            |SELECT ?rname (COUNT(?c) AS ?ncust) WHERE {
            |  ?c a g:Customer ; g:nation ?n .
            |  ?n a g:Nation ; g:region ?r .
            |  ?r a g:Region ; g:name ?rname .
            |} GROUP BY ?rname ORDER BY ?rname""".stripMargin)
        val rows = df.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      } finally { srvA.stop(); srvB.stop() }
    }),
    // exclusive-PATTERN dispatch: an OPTIONAL whose every star lives on
    // endpoint B (nation OPTIONAL region, selective inner FILTER so some
    // nations pad unbound) ships WHOLE — the left join runs at B; the
    // customer star on A joins the shipped frame locally
    "autogen_endpoint_federation_optional" -> ((s, d) => {
      implicit val sp: SparkSession = s
      def scoped(types: Set[String]) = Graft.overParquetDir(
        _root_.graft.mapping.Catalog(TpchCatalog.catalog.molecules.filter(m =>
          types.contains(m.rdfType))), d)
      val srvA = new _root_.graft.api.GraftServer(scoped(Set("urn:g:Customer")))
      val srvB = new _root_.graft.api.GraftServer(
        scoped(Set("urn:g:Nation", "urn:g:Region")))
      val pa = srvA.start()
      val pb = srvB.start()
      try {
        val g = Graft.overSparqlEndpoints(Seq(
          s"http://127.0.0.1:$pa/sparql", s"http://127.0.0.1:$pb/sparql"),
          _root_.graft.mapping.EndpointCatalogGen.EndpointOptions(
            shipWholeQuery = true))
        val df = g.sparql(
          """PREFIX g: <urn:g:>
            |SELECT ?nname ?rname (COUNT(?c) AS ?ncust) WHERE {
            |  ?c a g:Customer ; g:nation ?n .
            |  { ?n a g:Nation ; g:name ?nname .
            |    OPTIONAL { ?n g:region ?r . ?r a g:Region ; g:name ?rname
            |               FILTER (CONTAINS(?rname, "A")) } }
            |} GROUP BY ?nname ?rname ORDER BY ?nname""".stripMargin)
        val rows = df.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      } finally { srvA.stop(); srvB.stop() }
    }),
    // exclusive-PATTERN dispatch, UNION form: both branches exclusive to
    // endpoint B ⇒ the union evaluates at the store, one shipped scan
    "autogen_endpoint_federation_union" -> ((s, d) => {
      implicit val sp: SparkSession = s
      def scoped(types: Set[String]) = Graft.overParquetDir(
        _root_.graft.mapping.Catalog(TpchCatalog.catalog.molecules.filter(m =>
          types.contains(m.rdfType))), d)
      val srvA = new _root_.graft.api.GraftServer(scoped(Set("urn:g:Customer")))
      val srvB = new _root_.graft.api.GraftServer(
        scoped(Set("urn:g:Nation", "urn:g:Region")))
      val pa = srvA.start()
      val pb = srvB.start()
      try {
        val g = Graft.overSparqlEndpoints(Seq(
          s"http://127.0.0.1:$pa/sparql", s"http://127.0.0.1:$pb/sparql"),
          _root_.graft.mapping.EndpointCatalogGen.EndpointOptions(
            shipWholeQuery = true))
        val df = g.sparql(
          """PREFIX g: <urn:g:>
            |SELECT ?x WHERE {
            |  { ?n a g:Nation ; g:name ?x } UNION { ?r a g:Region ; g:name ?x }
            |} ORDER BY ?x""".stripMargin)
        val rows = df.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      } finally { srvA.stop(); srvB.stop() }
    }),
    "sparql_minus" -> ((s, d) => graft(s, d).sparql(SPARQL_MINUS)),
    "sparql_exists" -> ((s, d) => graft(s, d).sparql(SPARQL_EXISTS)),
    "sparql_values" -> ((s, d) => graft(s, d).sparql(SPARQL_VALUES)),
    "sparql_agg_full" -> ((s, d) => graft(s, d).sparql(SPARQL_AGG_FULL)),
    "sparql_path" -> ((s, d) => graft(s, d).sparql(SPARQL_PATH)),
    "sparql_lang" -> ((s, d) => graft(s, d).sparql(SPARQL_LANG)),
    "sparql_having" -> ((s, d) => graft(s, d).sparql(SPARQL_HAVING)),
    "sparql_varpred" -> ((s, d) => graft(s, d).sparql(SPARQL_VARPRED)),
    "sparql_bind_in" -> ((s, d) => graft(s, d).sparql(SPARQL_BIND_IN)),
    "sparql_datefuncs" -> ((s, d) => graft(s, d).sparql(SPARQL_DATEFUNCS)),
    "sparql_strfuncs" -> ((s, d) => graft(s, d).sparql(SPARQL_STRFUNCS)),
    "sparql_cq1" -> ((s, d) => graft(s, d).sparql(SPARQL_CQ1)),
    "sparql_cq5_optional" -> ((s, d) => graft(s, d).sparql(SPARQL_CQ5_OPTIONAL)),
    "sparql_subquery" -> ((s, d) => graft(s, d).sparql(SPARQL_SUBQUERY)),
    "sparql_hashfuncs" -> ((s, d) => graft(s, d).sparql(SPARQL_HASHFUNCS)),
    "sparql_describe" -> ((s, d) => graft(s, d).sparql(SPARQL_DESCRIBE).orderBy("p", "o")),
    "sparql_path_closure" -> ((s, d) => graft(s, d).sparql(SPARQL_PATH_CLOSURE)),
    // deep-chain closure: the catalog graph has diameter ~3, so the
    // hybrid iteration's doubling branch (Compiler.closure, rounds past
    // its first 4 semi-naive rounds) never runs under the driver gate on the
    // other path rows. This fixture derives a diameter-256 successor
    // chain from the 257 smallest orderkeys and closes it through the
    // SPARQL path machinery: semi-naive reaches depth 5 in 4 rounds, then
    // doubling must cover 10→…→256 in ~6 more — a wrong doubling step
    // either diverges (loud IllegalStateException at maxIters) or
    // hash-mismatches the recursive-CTE oracle.
    "sparql_path_closure_deep" -> ((s, d) => {
      val keys = T(s, d, "orders")
        .select(col("o_orderkey")).orderBy("o_orderkey").limit(257)
      val succ = keys
        .withColumn("o_next",
          lead("o_orderkey", 1).over(Window.orderBy("o_orderkey")))
        .filter(col("o_next").isNotNull)
      val g = "urn:g:"
      val cat = _root_.graft.mapping.Catalog(List(_root_.graft.mapping.Molecule(
        rdfType = s"${g}OrderSucc", table = "ordersucc",
        subject = _root_.graft.mapping.Template(s"${g}order:{o_orderkey}"),
        predicates = Map(s"${g}next" -> _root_.graft.mapping.TemplateMap(
          _root_.graft.mapping.Template(s"${g}order:{o_next}"))),
        source = "srcA")))
      new Graft(cat, _ => succ)(s).sparql(
        """PREFIX g: <urn:g:>
          |SELECT ?x ?y WHERE { ?x g:next+ ?y } ORDER BY ?x ?y""".stripMargin)
    }),
    "sparql_path_zeroorone" -> ((s, d) => graft(s, d).sparql(SPARQL_PATH_ZEROORONE)),
    "sparql_service" -> ((s, d) => graft(s, d).sparql(SPARQL_SERVICE)),
    // NPS enumerates the catalog's predicate universe; scope the graph to
    // the nation/region molecules so the fixture stays focused (choosing
    // the graph is the user's call, not a capability limit)
    "sparql_path_nps" -> ((s, d) => Graft.overParquetDir(
      _root_.graft.mapping.Catalog(TpchCatalog.catalog.molecules.filter(m =>
        m.rdfType == "urn:g:Nation" || m.rdfType == "urn:g:Region")), d)(s)
      .sparql(SPARQL_PATH_NPS)),
    "sparql_varpred_star" -> ((s, d) => graft(s, d).sparql(SPARQL_VARPRED_STAR)),
    "sparql_having_distinct" -> ((s, d) => graft(s, d).sparql(SPARQL_HAVING_DISTINCT)),

    // SPARQL 1.1 / analytic extension surface (direct DataFrame API)
    "q1_agg" -> ((s, d) =>
      T(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
          sum(discPrice).cast("double").as("sum_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q3_topk" -> ((s, d) =>
      T(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(T(s, d, "orders"), col("o_custkey") === col("c_custkey"))
        .join(T(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum(discPrice).cast("double").as("revenue"))
        .orderBy(col("revenue").desc_nulls_last, col("o_orderkey"))
        .limit(10)),
    "q5_region_rev" -> ((s, d) =>
      T(s, d, "lineitem")
        .join(broadcast(T(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(T(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, d, "region")).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(discPrice).cast("double").as("revenue"))
        .orderBy("n_name")),
    "q_window_rank" -> ((s, d) =>
      T(s, d, "orders")
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_custkey")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")),
    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      events(s, d)
        .withColumn("seq", row_number().over(w).cast("long"))
        .withColumn("cum_purchases",
          count(when(col("event_type") === "purchase", 1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("user_id", "event_id", "seq", "cum_purchases")
        .orderBy("user_id", "event_id")
    }),
    // continuous fingerprinting: the incremental streamed digest must
    // equal the batch manifest byte-for-byte — ninth replay gate
    "q_stream_manifest" -> ((s, d) => {
      implicit val sp: SparkSession = s
      _root_.graft.streaming.EventStreams
        .manifestReplayed(T(s, d, "documents"))
    }),
    // the same continuous fingerprint over a real parquet drop directory
    // (readStream + maxFilesPerTrigger=1): Complete-mode aggregate on the
    // production source class, byte-identical to the batch manifest
    "q_stream_file_manifest" -> ((s, d) => {
      implicit val sp: SparkSession = s
      _root_.graft.streaming.EventStreams
        .manifestFileReplayed(T(s, d, "documents"))
    }),
    // reproducibility manifest: row counts + order-independent 60-bit XOR
    // content digests — two lakes agree iff their contents do
    "lake_manifest" -> ((s, d) => {
      implicit val sp: SparkSession = s
      _root_.graft.pipeline.DataQuality.manifest(Seq(
        ("documents", T(s, d, "documents"), col("text")),
        ("events", T(s, d, "events"), col("props")),
        ("orders", T(s, d, "orders"),
          concat(col("o_orderkey").cast("string"), col("o_orderstatus")))))
        .orderBy("table_name")
    }),
    // partition-granular manifest: which lang partitions changed between
    // snapshots → recompute exactly those (incremental-compute planning)
    "lake_partition_manifest" -> ((s, d) =>
      _root_.graft.pipeline.DataQuality.partitionManifest(
        T(s, d, "documents"), "lang", col("text"))
        .orderBy("part")),
    // semi-structured key census: which JSON keys exist in props, at what
    // frequency — the schema-discovery step before typed promotion
    "q_json_keys" -> ((s, d) =>
      events(s, d)
        .select(explode(map_keys(from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)))).as("key"))
        .groupBy("key").agg(count(lit(1)).as("cnt"))
        .orderBy("key")),
    // join-key skew report: the measurement behind the salted-join call
    "lake_skew_report" -> ((s, d) =>
      _root_.graft.pipeline.DataQuality.skewReport(
        T(s, d, "events"), "user_id", k = 5)
        .orderBy(col("cnt").desc, col("key"))),
    // one-pass column profile of the orders table (governance surface):
    // typed min/max BEFORE the string render, one scan for all columns
    "lake_profile" -> ((s, d) =>
      _root_.graft.pipeline.DataQuality.profile(T(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name")),
    // the FULL-LAKE profile shape: HLL++ distinct counts (no
    // multi-DISTINCT Expand — one scan stays one scan at 100 TB), gated
    // under the sketchStats error contract (nd_ok must come back true;
    // exact metrics checked exactly)
    "lake_profile_approx" -> ((s, d) =>
      _root_.graft.pipeline.DataQuality.profileApproxContract(T(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name")),
    // declared PK/FK contract checks: uniqueness + two referential edges
    "lake_integrity" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val dq = _root_.graft.pipeline.DataQuality
      dq.integrityReport(Seq(
        "pk_orders_orderkey" -> (() =>
          dq.pkViolations(T(s, d, "orders"), "o_orderkey")),
        "fk_lineitem_orders" -> (() =>
          dq.fkOrphans(T(s, d, "lineitem"), "l_orderkey",
            T(s, d, "orders"), "o_orderkey")),
        "fk_orders_customer" -> (() =>
          dq.fkOrphans(T(s, d, "orders"), "o_custkey",
            T(s, d, "customer"), "c_custkey"))))
        .orderBy("check_name")
    }),
    // MERGE upsert (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT): the
    // day's corrections (repriced every 10th order) + late arrivals (new
    // keys) land in one anti-join + union — no window, no global sort
    "lake_merge_upsert" -> ((s, d) => {
      val target = T(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val source = target.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("X").as("o_orderstatus"),
          (col("o_totalprice") + 100.0).as("o_totalprice"))
        .unionByName(target.filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_custkey"), lit("N").as("o_orderstatus"),
            col("o_totalprice")))
      _root_.graft.pipeline.Lakehouse
        .mergeUpsert(target, source, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),
    // CDC batch apply: one compacted change set with op in {I,U,D} —
    // deletes drop the key, updates overwrite, inserts add; the licensing
    // takedown / label-fix path of a mutable corpus
    "lake_cdc_apply" -> ((s, d) => {
      val target = T(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val touched = target.filter(col("o_orderkey") % 7 === 0)
      val changes = touched.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), lit("D").as("op"))
        .unionByName(touched.filter(col("o_orderkey") % 3 === 1)
          .select(col("o_orderkey"), col("o_custkey"),
            lit("U").as("o_orderstatus"),
            (col("o_totalprice") + 50.0).as("o_totalprice"),
            lit("U").as("op")))
        .unionByName(touched.filter(col("o_orderkey") % 3 === 2)
          .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
            col("o_custkey"), lit("I").as("o_orderstatus"),
            col("o_totalprice"), lit("I").as("op")))
      _root_.graft.pipeline.Lakehouse
        .applyCdc(target, changes, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),
    // SCD2 dimension history: changed balances close the current version
    // and open a new one at ts=100, no-op re-deliveries leave history
    // untouched, unseen keys insert — Kimball type-2, one full-outer join
    "lake_scd2" -> ((s, d) => {
      val (dim, updates) = scd2Fixture(s, d)
      _root_.graft.pipeline.Lakehouse
        .scd2Apply(dim, updates, "c_custkey",
          Seq("c_name", "c_acctbal"), ts = 100L)
        .orderBy("c_custkey", "valid_from")
    }),
    // snapshot diff (CDC extraction): full-outer join of two snapshots →
    // one row per changed key with I/U/D + old/new values side by side
    "lake_snapshot_diff" -> ((s, d) => {
      val oldSnap = T(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val newSnap = oldSnap.filter(col("o_orderkey") % 17 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(oldSnap.filter(col("o_orderkey") % 23 === 0)
          .select((col("o_orderkey") + 30000000L).as("o_orderkey"),
            lit("I").as("o_orderstatus"), col("o_totalprice")))
      _root_.graft.pipeline.Lakehouse
        .snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    }),
    // fixed-point integer PageRank over the supplier→customer ship graph
    // (3 damped iterations, micro-rank units, integral division — the
    // contract that makes distributed ranks bit-reproducible); top-100
    "q_pagerank" -> ((s, d) => {
      val e = T(s, d, "lineitem")
        .join(T(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast("bigint").as("src"),
          (col("o_custkey") + 1000000L).cast("bigint").as("dst"))
      _root_.graft.pipeline.GraphOps.pagerankInt(e, iters = 3)
        .orderBy(col("rank").desc, col("id"))
        .limit(100)
        .select(col("id"), col("rank").as("rank_micro"))
    }),
    // per-part triangle counts on the basket-co-occurrence projection
    // (two parts linked iff some order contains both; the part domain
    // GROWS with the data, so the graph stays sparse at every scale —
    // unlike a fixed entity domain, which densifies into O(n³) triangle
    // work as orders accumulate): ordered 2-path join finds each
    // triangle exactly once; even-keyed parts thin the basket overlap
    "q_triangles" -> ((s, d) => {
      val bip = T(s, d, "lineitem")
        .filter(col("l_partkey") % 2 === 0)
        .select(col("l_orderkey").as("group"), col("l_partkey").as("member"))
      val edges = _root_.graft.pipeline.GraphOps
        .projectCoGrouped(bip, maxGroup = 8)
      _root_.graft.pipeline.GraphOps.triangleCounts(edges)
        .orderBy("id")
    }),
    // connected components over the same capped co-purchase projection:
    // min-label propagation WITH pointer doubling (log-diameter rounds,
    // converge-or-throw) — every supplier labels with the smallest
    // supplier id reachable through shared customers
    "q_components" -> ((s, d) => {
      val bip = T(s, d, "lineitem")
        .join(T(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("group"), col("l_suppkey").as("member"))
      val edges = _root_.graft.pipeline.GraphOps
        .projectCoGrouped(bip, maxGroup = 40)
      _root_.graft.pipeline.GraphOps.connectedComponents(edges)
        .orderBy("id")
    }),
    // op-log compaction (the declared upstream of lake_cdc_apply): three
    // generations of changes per key collapse to the max-seq row via one
    // max_by aggregate — no window, no sort; ready to feed applyCdc
    "lake_compact_log" -> ((s, d) =>
      _root_.graft.pipeline.Lakehouse
        .compactLog(cdcLogFixture(s, d), Seq("o_orderkey"), "seq")
        .orderBy("o_orderkey")),
    // the SAME compactLog plan running UNCHANGED on a stream: max_by is a
    // perfect streaming aggregate (one state entry per key, no watermark),
    // so the op log replayed in seq-ordered micro-batches compacts
    // continuously — the Complete table after the last batch must equal
    // the batch compaction (and so the same relational oracle)
    "q_stream_cdc_compact" -> ((s, d) => {
      implicit val sp: SparkSession = s
      _root_.graft.streaming.EventStreams
        .cdcCompactReplayed(cdcLogFixture(s, d))
        .orderBy("o_orderkey")
    }),
    // streaming lake maintenance end to end (15th replay gate): the op
    // log consumed as seq-ordered micro-batches, each compacted and
    // applied to the snapshot lake partition-pruned + atomic — every
    // intermediate state a committed snapshot; the final table must
    // equal the batch applyCdc(target, compactLog(log))
    "q_stream_cdc_snapshot" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val root = s"/tmp/graft_lake_snap_cdc/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val target = T(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      _root_.graft.streaming.EventStreams
        .cdcSnapshotReplayed(target, cdcLogFixture(s, d), root)
        .orderBy("o_orderkey")
    }),
    // SIXTEENTH replay gate: a downstream replica maintained ONLY from
    // the snapshotChanges feed between per-batch commits must equal the
    // table the CDC fold produced — changes-feed-driven replication
    "q_stream_changes_feed" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val tag = new java.io.File(d).getName
      val root = s"/tmp/graft_lake_snap_cf/$tag"
      val rep = s"/tmp/graft_lake_snap_cf_rep/$tag"
      for (dir <- Seq(root, rep)) {
        val p0 = new org.apache.hadoop.fs.Path(dir)
        p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      }
      val target = T(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      _root_.graft.streaming.EventStreams
        .changesFeedReplayed(target, cdcLogFixture(s, d), root, rep)
        .orderBy("o_orderkey")
    }),
    // SEVENTEENTH replay gate: the lake ITSELF is the streaming SOURCE —
    // a checkpointed file stream watches the manifest lineage, each
    // committed snap file pushes its epoch, and the replica is folded
    // from snapshotChanges(n-1, n) per discovered epoch (epoch 1 = the
    // bootstrap snapshot as inserts); must equal the CDC fold's table
    "q_stream_lake_feed" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val tag = new java.io.File(d).getName
      val root = s"/tmp/graft_lake_snap_lf/$tag"
      val rep = s"/tmp/graft_lake_snap_lf_rep/$tag"
      for (dir <- Seq(root, rep)) {
        val p0 = new org.apache.hadoop.fs.Path(dir)
        p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      }
      val target = T(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      _root_.graft.streaming.EventStreams
        .lakeFeedReplayed(target, cdcLogFixture(s, d), root, rep)
        .orderBy("o_orderkey")
    }),
    // SCD2 time travel: the same history lake_scd2 builds (batch applied
    // at ts=100) must reconstruct BOTH the pre-batch snapshot (as-of 50)
    // and the post-batch one (as-of 150) — the two directions gate that
    // closing/opening versions preserves every payload
    "lake_scd2_asof" -> ((s, d) => {
      val (dim, updates) = scd2Fixture(s, d)
      val hist = _root_.graft.pipeline.Lakehouse
        .scd2Apply(dim, updates, "c_custkey",
          Seq("c_name", "c_acctbal"), ts = 100L)
      _root_.graft.pipeline.Lakehouse.asOf(hist, 50L)
        .withColumn("snap", lit("before"))
        .unionByName(_root_.graft.pipeline.Lakehouse.asOf(hist, 150L)
          .withColumn("snap", lit("after")))
        .orderBy("snap", "c_custkey")
    }),
    // small-files compaction round trip: documents staged as 64 tiny
    // files, compacted to the byte target by a snapshot commit (the
    // plain dir is adopted with ONE rewrite into snapshot 1; readers
    // resolve through its manifest) — the rewritten lake must aggregate
    // identically to the source table (file counts/GC/reader-safety are
    // spec-pinned; content is the gate)
    "lake_compact_files" -> ((s, d) => {
      val stage = s"/tmp/graft_lake_compact/${new java.io.File(d).getName}"
      T(s, d, "documents").repartition(64)
        .write.mode("overwrite").parquet(stage)
      _root_.graft.pipeline.Lakehouse
        .compactFiles(s, stage, targetBytes = 1L << 20)
      _root_.graft.pipeline.Lakehouse.readCompacted(s, stage)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    }),
    // lake-wide ATOMIC snapshot commit (r15 verdict ask #2): a
    // content-CHANGING write touching BOTH partitions (takedowns +
    // source revisions) flips with one manifest put — the oracle states
    // the committed table, and the row only matches if the read resolves
    // post-commit state for every partition at once
    "lake_snapshot" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      def half(p: Int) = docs.filter(col("doc_id") % 2 === p)
        .withColumn("p", lit(p)) // partition value rides IN the data
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> half(0), "p=1" -> half(1)))
      def revised(p: Int) = half(p).filter(col("doc_id") % 7 =!= 0)
        .withColumn("source", when(col("doc_id") % 5 === 0, lit("revised"))
          .otherwise(col("source")))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> revised(0), "p=1" -> revised(1)))
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .select(col("doc_id"), col("lang"), col("source"), col("p"))
        .orderBy("doc_id")
    }),
    // file-level time travel falls out of kept manifests: after the
    // content-changing commit, asOf=1 must read the ORIGINAL table
    "lake_snapshot_timetravel" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_tt/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      def half(p: Int) = docs.filter(col("doc_id") % 2 === p)
        .withColumn("p", lit(p))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> half(0), "p=1" -> half(1)))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> half(0).filter(col("doc_id") % 7 =!= 0),
          "p=1" -> half(1).filter(col("doc_id") % 7 =!= 0)))
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root, asOf = Some(1))
        .select(col("doc_id"), col("lang"), col("source"), col("p"))
        .orderBy("doc_id")
    }),
    // schema-on-manifest evolution: one partition gains a column; the
    // committed schema widens and the carried partition's old files
    // null-fill it at read — no footer merging, the epoch owns its shape
    "lake_snapshot_evolve" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_ev/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
      def half(p: Int) = docs.filter(col("doc_id") % 2 === p)
        .select(col("doc_id"), col("lang"), lit(p).as("p"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> half(0), "p=1" -> half(1)))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"), lit(0).as("p"),
            col("n_chars"))))
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .select(col("doc_id"), col("lang"), col("p"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // partition-pruned atomic MERGE: the delta (updates + inserts,
    // partition value key-determined) rewrites ONLY touched partitions,
    // untouched manifest entries carry over with zero I/O, one flip
    "lake_snapshot_merge" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_mg/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val base = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          (col("doc_id") % 3).cast("int").as("p"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        (0 to 2).map(i => s"p=$i" -> base.filter(col("p") === i)))
      val delta = base.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("revised"))
        .unionByName(T(s, d, "documents")
          .filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            lit("xx").as("lang"), lit("new").as("source"),
            ((col("doc_id") + 10000000L) % 3).cast("int").as("p")))
      _root_.graft.pipeline.Lakehouse.mergeSnapshot(s, root, delta,
        Seq("doc_id"), "p")
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .select(col("doc_id"), col("lang"), col("source"), col("p"))
        .orderBy("doc_id")
    }),
    // per-file min/max stats in the manifest (the Iceberg/Delta skip
    // layer): the read declares the range its filter implies and plans
    // ONLY the files whose committed stats can match — the answer must
    // be identical to filtering the whole table (skipping is a strict
    // superset guarantee); files get disjoint doc_id ranges via a
    // range-partitioned write, the layout skipping exists for
    "lake_snapshot_stats" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_fs/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("doc_id") % 2).cast("int").as("p"))
      def half(p: Int) = docs.filter(col("p") === p)
        .repartitionByRange(4, col("doc_id"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> half(0), "p=1" -> half(1)),
        statsCols = Seq("doc_id"))
      val hi = docs.agg(max(col("doc_id"))).head.getLong(0) / 4
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root,
        fileRanges = Seq(_root_.graft.pipeline.Lakehouse.ColRange(
          "doc_id", Some(0L), Some(hi))))
        .filter(col("doc_id").between(0L, hi))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("p"))
        .orderBy("doc_id")
    }),
    // the snapshot lake as an ENGINE source: SPARQL over a documents
    // concept whose table is the lake's CURRENT manifest (takedowns
    // applied) — the reference's query-where-it-lives point extended to
    // a mutable lake
    "sparql_lake_snapshot" -> ((s, d) =>
      graftOverDocLake(s, d, asOf = None).sparql(SPARQL_LAKE_DOCS)),
    // same concept pinned to epoch 1: file-level time travel surfaced
    // through the SPARQL surface — the query reads the ORIGINAL table
    "sparql_lake_snapshot_timetravel" -> ((s, d) =>
      graftOverDocLake(s, d, asOf = Some(1)).sparql(SPARQL_LAKE_DOCS)),
    // tag-pinned engine read: the SPARQL concept resolves 'pre-takedown'
    // through the immutable tag registry — the ORIGINAL table by name
    "sparql_lake_snapshot_tag" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val root = snapshotDocLake(s, d)
      if (!_root_.graft.pipeline.Lakehouse.listTags(s, root)
        .exists(_._1 == "pre-takedown"))
        _root_.graft.pipeline.Lakehouse.tagSnapshot(s, root,
          "pre-takedown", 1)
      new Graft(TpchCatalog.catalog, t =>
        if (t == "documents")
          _root_.graft.sources.SnapshotSource(root,
            tag = Some("pre-takedown")).load(s)
        else s.read.parquet(s"$d/$t.parquet")).sparql(SPARQL_LAKE_DOCS)
    }),
    // FILTERed SPARQL over the lake: the pushed predicate reaches the
    // manifest FileIndex (automatic file skipping) — the gate checks the
    // ANSWER is identical to the unskipped truth, the spec pins the
    // file-count mechanics
    "sparql_lake_snapshot_filtered" -> ((s, d) =>
      graftOverDocLake(s, d, asOf = None).sparql(
        """PREFIX g: <urn:g:>
          |SELECT ?d ?src ?lang WHERE {
          |  ?d a g:Document ; g:source ?src ; g:lang ?lang .
          |  FILTER (?lang = "en")
          |} ORDER BY ?d""".stripMargin)),
    // per-file BLOOM sidecars at the gate: a point lookup on a
    // high-cardinality md5 key over a shuffled (min/max-useless) layout —
    // the ANSWER must equal the plain filter; the spec pins that the
    // bloom actually pruned
    "lake_snapshot_bloom" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_bl/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          md5(col("doc_id").cast("string")).as("uid"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("" -> docs.repartition(8)),
        statsCols = Seq("doc_id"), bloomCols = Seq("uid"))
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .filter(col("uid") === md5(lit("42")))
        .orderBy("doc_id")
    }),
    // the PROBED catalog over a snapshot lake (create_rdfmts.py discovery
    // against the committed manifest state): keys/cardinalities are
    // discovered from what queries will actually see — current epoch =
    // the takedown pass, same answer as the declared-catalog row
    "autogen_lake_snapshot" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val root = snapshotDocLake(s, d)
      val sources: Map[String, _root_.graft.sources.SourceSpec] =
        autogenTables.map { t =>
          t -> (if (t == "documents")
            _root_.graft.sources.SnapshotSource(root)
              : _root_.graft.sources.SourceSpec
          else _root_.graft.sources.ParquetSource(s"$d/$t.parquet"))
        }.toMap
      Graft.overProbedSources(sources, autogenAliases)
        .sparql(SPARQL_LAKE_DOCS)
    }),
    // OPTIMIZE ZORDER on a snapshot lake: rewrite along the Morton curve
    // of (doc_id, n_chars) as ONE committed snapshot, then answer a 2-d
    // box through the auto-skip read — the layout change must be
    // invisible to the ANSWER (the spec pins the file-skip mechanics)
    "lake_snapshot_zorder" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_zo/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("" -> docs.repartition(8)),
        statsCols = Seq("doc_id", "n_chars"))
      _root_.graft.pipeline.Lakehouse.zorderSnapshot(s, root,
        "doc_id", "n_chars", bits = 10, targetBytes = 4096)
      val hi = docs.agg(max(col("doc_id"))).head.getLong(0) / 4
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .filter(col("doc_id").between(0L, hi) && col("n_chars") <= 300L)
        .orderBy("doc_id")
    }),
    // AUTOMATIC skip path end to end at the gate: NO declared ranges —
    // the plain filter below must prune through the FileIndex and the
    // answer must equal the whole-table filter truth
    "lake_snapshot_autoskip" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_as/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("doc_id") % 2).cast("int").as("p"))
      def half(p: Int) = docs.filter(col("p") === p)
        .repartitionByRange(4, col("doc_id"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> half(0), "p=1" -> half(1)),
        statsCols = Seq("doc_id"))
      val hi = docs.agg(max(col("doc_id"))).head.getLong(0) / 4
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .filter(col("doc_id").between(0L, hi))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("p"))
        .orderBy("doc_id")
    }),
    // row-level DELETE on the snapshot lake: the predicate-pruned scan
    // finds touched partitions, only those rewrite, one manifest flip —
    // readers see ANSI DELETE semantics (TRUE deletes; FALSE/NULL keep)
    "lake_snapshot_delete" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_dl/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          (col("doc_id") % 3).cast("int").as("p"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        (0 to 2).map(i => s"p=$i" -> docs.filter(col("p") === i)),
        statsCols = Seq("doc_id"))
      _root_.graft.pipeline.Lakehouse.deleteSnapshot(s, root,
        col("doc_id") % 7 === 0 || col("lang") === "zh")
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .select(col("doc_id"), col("lang"), col("source"), col("p"))
        .orderBy("doc_id")
    }),
    // row-level UPDATE: SET expressions evaluate against the OLD row,
    // only predicate-TRUE rows change, touched partitions rewrite under
    // one flip with the manifest's stats layer recomputed
    "lake_snapshot_update" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_up/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          (col("doc_id") % 3).cast("int").as("p"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        (0 to 2).map(i => s"p=$i" -> docs.filter(col("p") === i)),
        statsCols = Seq("doc_id"))
      _root_.graft.pipeline.Lakehouse.updateSnapshot(s, root,
        col("doc_id") % 5 === 0,
        Seq("source" -> lit("redacted"),
          "n_chars" -> (col("n_chars") + 1000L)))
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("p"))
        .orderBy("doc_id")
    }),
    // ROLLBACK (RESTORE): after a bad delete, roll the lake back to
    // snapshot 1 by committing a new snapshot with 1's manifest —
    // metadata-only, zero data I/O, history preserved; the CURRENT read
    // (not time travel) must be the original table again
    "lake_snapshot_rollback" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_rb/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          (col("doc_id") % 2).cast("int").as("p"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> docs.filter(col("p") === 0),
          "p=1" -> docs.filter(col("p") === 1)))
      _root_.graft.pipeline.Lakehouse.deleteSnapshot(s, root,
        col("doc_id") % 7 === 0)
      _root_.graft.pipeline.Lakehouse.rollbackSnapshot(s, root, toId = 1)
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .select(col("doc_id"), col("lang"), col("source"), col("p"))
        .orderBy("doc_id")
    }),
    // incremental changes feed between epochs: merge (U+I) then delete
    // (D) land as snapshots 2 and 3; the 1->3 extract must report ANSI
    // I/U/D with old_/new_ values, reading only manifest-changed
    // partitions (pruning spec-pinned; here all change)
    "lake_snapshot_changes" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_ch/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val base = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          (col("doc_id") % 3).cast("int").as("p"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        (0 to 2).map(i => s"p=$i" -> base.filter(col("p") === i)))
      val delta = base.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("revised"))
        .unionByName(T(s, d, "documents")
          .filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            lit("xx").as("lang"), lit("new").as("source"),
            ((col("doc_id") + 10000000L) % 3).cast("int").as("p")))
      _root_.graft.pipeline.Lakehouse.mergeSnapshot(s, root, delta,
        Seq("doc_id"), "p")
      _root_.graft.pipeline.Lakehouse.deleteSnapshot(s, root,
        col("doc_id") % 11 === 3)
      _root_.graft.pipeline.Lakehouse.snapshotChanges(s, root,
        fromId = 1, toId = 3, keys = Seq("doc_id"))
        .orderBy("doc_id")
    }),
    // partition-layout evolution: doc_id%3 layout rewritten to lang=
    // dirs in ONE staged pass + renames, one flip; content identical,
    // the old layout stays time-travelable (spec pins pruning + epochs)
    "lake_snapshot_repartition" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_rp/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          (col("doc_id") % 3).cast("int").as("p"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        (0 to 2).map(i => s"p=$i" -> docs.filter(col("p") === i)),
        statsCols = Seq("doc_id"))
      _root_.graft.pipeline.Lakehouse.repartitionSnapshot(s, root, "lang")
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .select(col("doc_id"), col("lang"), col("source"), col("p"))
        .orderBy("doc_id")
    }),
    // tags pin epochs against GC: tag epoch 1, delete rows, GC down to
    // ONE kept snapshot — the tagged original must still read in full
    "lake_snapshot_tag" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_tg/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          (col("doc_id") % 2).cast("int").as("p"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> docs.filter(col("p") === 0),
          "p=1" -> docs.filter(col("p") === 1)))
      _root_.graft.pipeline.Lakehouse.tagSnapshot(s, root, "audited", 1)
      _root_.graft.pipeline.Lakehouse.deleteSnapshot(s, root,
        col("doc_id") % 7 === 0)
      _root_.graft.pipeline.Lakehouse.snapshotGc(s, root, keepSnapshots = 1)
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root,
        asOf = Some(_root_.graft.pipeline.Lakehouse.tagSnapshotId(
          s, root, "audited")))
        .select(col("doc_id"), col("lang"), col("source"), col("p"))
        .orderBy("doc_id")
    }),
    // write-audit-publish: the takedown stages invisibly, the audit
    // read must pass (row count + no banned source), THEN it publishes
    // — the committed table is the audited bytes
    "lake_snapshot_wap" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_wp/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          (col("doc_id") % 2).cast("int").as("p"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> docs.filter(col("p") === 0),
          "p=1" -> docs.filter(col("p") === 1)))
      def took(p: Int) = docs.filter(col("p") === p)
        .filter(col("doc_id") % 7 =!= 0)
      val token = _root_.graft.pipeline.Lakehouse.stageSnapshot(s, root,
        Seq("p=0" -> took(0), "p=1" -> took(1)))
      // the AUDIT gate: staged rows must be fewer and takedown-clean
      val audit = _root_.graft.pipeline.Lakehouse.readStaged(s, root, token)
      require(audit.filter(col("doc_id") % 7 === 0).count() == 0L,
        "audit failed: staged snapshot still carries takedown rows")
      _root_.graft.pipeline.Lakehouse.publishStaged(s, root, token)
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .select(col("doc_id"), col("lang"), col("source"), col("p"))
        .orderBy("doc_id")
    }),
    // branch lineage end to end: two takedown commits land on a branch
    // (main readers never see them), then fast-forward publishes both
    // epochs contiguously onto main — the read is main's new head
    "lake_snapshot_branch" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_br/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          (col("doc_id") % 2).cast("int").as("p"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> docs.filter(col("p") === 0),
          "p=1" -> docs.filter(col("p") === 1)))
      _root_.graft.pipeline.Lakehouse.createBranch(s, root, "takedown")
      def took(p: Int) = docs.filter(col("p") === p)
        .filter(col("doc_id") % 7 =!= 0)
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=0" -> took(0)), branch = "takedown")
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        Seq("p=1" -> took(1)), branch = "takedown")
      _root_.graft.pipeline.Lakehouse.fastForward(s, root, "takedown")
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .select(col("doc_id"), col("lang"), col("source"), col("p"))
        .orderBy("doc_id")
    }),
    // the pending change set of a branch BEFORE publish: branch-side
    // merge (U+I) and delete (D) reviewed as I/U/D against main's head
    // via the cross-lineage manifest-pruned diff
    "lake_snapshot_branch_diff" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_bd/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val base = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          (col("doc_id") % 3).cast("int").as("p"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        (0 to 2).map(i => s"p=$i" -> base.filter(col("p") === i)))
      _root_.graft.pipeline.Lakehouse.createBranch(s, root, "rev")
      val delta = base.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("revised"))
        .unionByName(T(s, d, "documents")
          .filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            lit("xx").as("lang"), lit("new").as("source"),
            ((col("doc_id") + 10000000L) % 3).cast("int").as("p")))
      _root_.graft.pipeline.Lakehouse.mergeSnapshot(s, root, delta,
        Seq("doc_id"), "p", branch = "rev")
      _root_.graft.pipeline.Lakehouse.deleteSnapshot(s, root,
        col("doc_id") % 11 === 3, branch = "rev")
      _root_.graft.pipeline.Lakehouse.branchDiff(s, root, "rev",
        Seq("doc_id")).orderBy("doc_id")
    }),
    // SHARDED manifests under the driver oracle: the same merge+delete
    // pipeline with the shard threshold forced low — every commit's
    // manifest is content-addressed part files behind a #shard root —
    // must read back identical to the plain-manifest truth
    "lake_snapshot_sharded" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_shd/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      s.conf.set("graft.lake.manifestShardLines", "4")
      try {
        val base = T(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            (col("doc_id") % 3).cast("int").as("p"))
        _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
          (0 to 2).map(i => s"p=$i" -> base.filter(col("p") === i)),
          statsCols = Seq("doc_id"))
        _root_.graft.pipeline.Lakehouse.mergeSnapshot(s, root,
          base.filter(col("doc_id") % 10 === 0)
            .withColumn("source", lit("revised")),
          Seq("doc_id"), "p")
        _root_.graft.pipeline.Lakehouse.deleteSnapshot(s, root,
          col("doc_id") % 11 === 3)
        _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
          .select(col("doc_id"), col("lang"), col("source"), col("p"))
          .orderBy("doc_id")
      } finally s.conf.unset("graft.lake.manifestShardLines")
    }),
    // OBJECT-STORE commit protocol end-to-end: the same DML pipeline as
    // lake_snapshot_sharded, but on a scheme with NO exclusive rename
    // and NO setTimes — every metadata put-if-absent (manifests, shards)
    // rides the shipped HttpSnapshotCas provider's conditional PUT
    // against a loopback mock object store (the house pattern for
    // endpoint wires), proving the SPI has a concrete, contract-tested
    // implementation a raw-S3/GCS/Azure deployment can copy
    "lake_snapshot_cas_http" -> ((s, d) => {
      val root0 = s"/tmp/graft_lake_snap_cas/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root0)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      // the store REJECTS unauthenticated requests: every metadata put
      // on the wire must carry the conf-driven auth header (the
      // provider's decorate hook), or the whole pipeline 401s
      val store = new _root_.graft.tools.MockObjectStore(
        requireAuth = Some(("x-graft-auth", "gate-secret")))
      val base = store.start()
      s.sparkContext.hadoopConfiguration.set("fs.gos.impl",
        classOf[_root_.graft.tools.ObjectStoreFs].getName)
      s.conf.set("graft.lake.casProvider",
        classOf[_root_.graft.pipeline.HttpSnapshotCas].getName)
      s.conf.set("graft.lake.cas.http.base", base)
      s.conf.set("graft.lake.cas.http.headers", "x-graft-auth: gate-secret")
      s.conf.set("graft.lake.manifestShardLines", "4")
      try {
        val root = s"gos:$root0"
        val docs = T(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            (col("doc_id") % 3).cast("int").as("p"))
        _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
          (0 to 2).map(i => s"p=$i" -> docs.filter(col("p") === i)),
          statsCols = Seq("doc_id"))
        _root_.graft.pipeline.Lakehouse.mergeSnapshot(s, root,
          docs.filter(col("doc_id") % 10 === 0)
            .withColumn("source", lit("revised")),
          Seq("doc_id"), "p")
        _root_.graft.pipeline.Lakehouse.deleteSnapshot(s, root,
          col("doc_id") % 11 === 3)
        val rows = _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
          .select(col("doc_id"), col("lang"), col("source"), col("p"))
          .orderBy("doc_id")
        // materialize before the store stops: reads resolve manifests
        // through the shard cache whose fetches need the mock alive
        val out = rows.collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1),
          rows.schema)
      } finally {
        s.conf.unset("graft.lake.manifestShardLines")
        s.conf.unset("graft.lake.cas.http.headers")
        s.conf.unset("graft.lake.cas.http.base")
        s.conf.unset("graft.lake.casProvider")
        store.stop()
      }
    }),
    // INCREMENTAL VIEW MAINTENANCE over the changes feed: a per-lang
    // (rows, Σlen) aggregate maintained by folding each epoch's
    // manifest-pruned I/U/D delta — never re-aggregating the lake. The
    // merge MOVES rows between groups (lang rewritten to 'zz'), the
    // exact case a naive new-values-only fold corrupts; the maintained
    // table must equal a full groupBy recompute of the final snapshot
    "lake_ivm_agg" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_ivm/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val L = _root_.graft.pipeline.Lakehouse
      val base = T(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("len"),
          (col("doc_id") % 3).cast("int").as("p"))
      L.commitSnapshot(s, root,
        (0 to 2).map(i => s"p=$i" -> base.filter(col("p") === i)))
      L.mergeSnapshot(s, root,
        base.filter(col("doc_id") % 10 === 0)
          .withColumn("lang", lit("zz")), Seq("doc_id"), "p")
      L.deleteSnapshot(s, root, col("doc_id") % 11 === 3)
      val gc = Seq("lang")
      val sc = Seq("len")
      // bootstrap epoch in the changes shape (all-I), then fold each
      // committed epoch's delta
      val snap1 = L.readSnapshot(s, root, asOf = Some(1))
      val boot = snap1.select(col("doc_id"),
        lit("I").as("change_type"),
        lit(null).cast("string").as("old_lang"),
        col("lang").as("new_lang"),
        lit(null).cast("long").as("old_len"),
        col("len").as("new_len"))
      var agg = L.applyAggregateDelta(L.emptyAggregate(base, gc, sc),
        L.aggregateDelta(boot, gc, sc), gc, sc)
      (2 to 3).foreach { e =>
        val diff = L.snapshotChanges(s, root, e - 1, e, Seq("doc_id"))
        agg = L.applyAggregateDelta(agg,
          L.aggregateDelta(diff, gc, sc), gc, sc)
      }
      // drop the nn_* null-bookkeeping column the fold carries
      agg.select(col("lang"), col("n_rows"), col("sum_len"))
        .orderBy("lang")
    }),
    // the STREAMING face of the same fold (18th replay gate): the
    // maintainAggregate production entry point drives changesStream
    // end-to-end — commits land WHILE the maintainer runs, the
    // maintained parquet table after the last epoch must equal the
    // same full-recompute oracle as the batch row above
    "q_stream_lake_ivm" -> ((s, d) => {
      val base0 = s"/tmp/graft_lake_ivm_stream/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(base0)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val root = s"$base0/lake"
      val tableDir = s"$base0/agg"
      val L = _root_.graft.pipeline.Lakehouse
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("len"),
          (col("doc_id") % 3).cast("int").as("p"))
      L.commitSnapshot(s, root,
        (0 to 2).map(i => s"p=$i" -> docs.filter(col("p") === i)))
      val q = L.maintainAggregate(s, root, Seq("doc_id"), Seq("lang"),
        Seq("len"), tableDir, s"$base0/ckpt")
      try {
        q.processAllAvailable() // the bootstrap epoch
        L.mergeSnapshot(s, root,
          docs.filter(col("doc_id") % 10 === 0)
            .withColumn("lang", lit("zz")), Seq("doc_id"), "p")
        q.processAllAvailable()
        L.deleteSnapshot(s, root, col("doc_id") % 11 === 3)
        q.processAllAvailable()
      } finally q.stop()
      L.readAggregate(s, tableDir)
        .select(col("lang"), col("n_rows"), col("sum_len"))
        .orderBy("lang")
    }),
    // MIN/MAX IVM by affected-group recompute: the maintainer's epochs
    // DELETE every lang's maximum-length doc (ties included — the case
    // a monotone fold cannot express) and then MOVE every lang's
    // remaining minimum to lang 'zz' (the old group loses its min, the
    // new one gains rows); only the affected groups re-aggregate from
    // the snapshot, and the maintained table must equal a full
    // groupBy min/max recompute of the final state
    "lake_ivm_minmax" -> ((s, d) => {
      val base0 =
        s"/tmp/graft_lake_ivm_minmax/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(base0)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val root = s"$base0/lake"
      val tableDir = s"$base0/agg"
      val L = _root_.graft.pipeline.Lakehouse
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("len"),
          (col("doc_id") % 3).cast("int").as("p"))
      L.commitSnapshot(s, root,
        (0 to 2).map(i => s"p=$i" -> docs.filter(col("p") === i)))
      val q = L.maintainAggregate(s, root, Seq("doc_id"), Seq("lang"),
        Seq("len"), tableDir, s"$base0/ckpt",
        minCols = Seq("len"), maxCols = Seq("len"))
      try {
        q.processAllAvailable() // bootstrap
        // epoch 2: delete every row holding its lang's MAX len
        val maxes = L.readSnapshot(s, root).groupBy("lang")
          .agg(max(col("len")).as("m")).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        L.deleteSnapshot(s, root, maxes.map { case (l, m) =>
          col("lang") === l && col("len") === m }.reduce(_ || _))
        q.processAllAvailable()
        // epoch 3: move every row holding its lang's (new) MIN to 'zz'
        val mins = L.readSnapshot(s, root).groupBy("lang")
          .agg(min(col("len")).as("m")).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        val movePred = mins.map { case (l, m) =>
          col("lang") === l && col("len") === m }.reduce(_ || _)
        L.mergeSnapshot(s, root,
          L.readSnapshot(s, root).filter(movePred)
            .withColumn("lang", lit("zz")),
          Seq("doc_id"), "p")
        q.processAllAvailable()
      } finally q.stop()
      L.readAggregate(s, tableDir)
        .select(col("lang"), col("n_rows"), col("sum_len"),
          col("min_len"), col("max_len"))
        .orderBy("lang")
    }),
    // REBASE: main advances (disjoint-key update) after the branch
    // forks; fastForward would refuse, rebaseBranch replays the branch's
    // pending I/U/D onto the new head, then the fast-forward publishes —
    // final main = main's own fix ∪ the branch's merged+deleted intent
    "lake_snapshot_rebase" -> ((s, d) => {
      val root = s"/tmp/graft_lake_snap_rbs/${new java.io.File(d).getName}"
      val p0 = new org.apache.hadoop.fs.Path(root)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p0, true)
      val base = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          (col("doc_id") % 3).cast("int").as("p"))
      _root_.graft.pipeline.Lakehouse.commitSnapshot(s, root,
        (0 to 2).map(i => s"p=$i" -> base.filter(col("p") === i)))
      _root_.graft.pipeline.Lakehouse.createBranch(s, root, "rev")
      val delta = base.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("revised"))
        .unionByName(T(s, d, "documents")
          .filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            lit("xx").as("lang"), lit("new").as("source"),
            ((col("doc_id") + 10000000L) % 3).cast("int").as("p")))
      _root_.graft.pipeline.Lakehouse.mergeSnapshot(s, root, delta,
        Seq("doc_id"), "p", branch = "rev")
      _root_.graft.pipeline.Lakehouse.deleteSnapshot(s, root,
        col("doc_id") % 11 === 3, branch = "rev")
      // main moves since the fork — keys DISJOINT from the branch's
      _root_.graft.pipeline.Lakehouse.updateSnapshot(s, root,
        col("doc_id") % 10 === 7 && col("doc_id") % 11 =!= 3,
        Seq("source" -> lit("mainfix")))
      _root_.graft.pipeline.Lakehouse.rebaseBranch(s, root, "rev",
        Seq("doc_id"), "p")
      _root_.graft.pipeline.Lakehouse.fastForward(s, root, "rev")
      _root_.graft.pipeline.Lakehouse.readSnapshot(s, root)
        .select(col("doc_id"), col("lang"), col("source"), col("p"))
        .orderBy("doc_id")
    }),
    // fuzzy string join (edit distance <= 1): 10-char md5-hex keys vs
    // their deterministic one-char deletions — q-gram blocked candidates
    // + the exact codegen'd levenshtein verify, never a cross join. q=4
    // because the fixture's alphabet is hex: candidate volume is
    // sum_g df_l*df_r, so the gram space (16^q) must outgrow the corpus
    // (16^3 saturates at ~50k rows and went quadratic — measured, see
    // SCALE.md). The gate LIFTS the df cap explicitly: blocked recall is
    // then exact by the count-filter theorem at ANY sf, so the
    // brute-force oracle is always the truth (a default cap would start
    // dropping true pairs once corpus growth pushes gram df past it, and
    // the gate would break without a regression). The cap-drop contract
    // itself is spec-pinned on an adversarial boilerplate fixture
    "q_fuzzy_join" -> ((s, d) => {
      val hex = expr("substring(md5(cast(doc_id as string)), 1, 10)")
      val leftN = T(s, d, "documents")
        .select(col("doc_id").as("id"), hex.as("name"))
      val rightN = T(s, d, "documents")
        .select((col("doc_id") + 10000000L).as("id"),
          expr("concat(substring(substring(md5(cast(doc_id as string)), 1, 10), " +
            "1, cast(doc_id % 9 as int)), " +
            "substring(substring(md5(cast(doc_id as string)), 1, 10), " +
            "cast(doc_id % 9 as int) + 2, 10))").as("name"))
      _root_.graft.pipeline.FuzzyJoin
        .join(leftN, rightN, "id", "name", maxDist = 1, q = 4,
          maxGramDf = 1 << 20)
        .orderBy("id_l", "id_r")
    }),
    // end-to-end entity resolution: fuzzy blocking + levenshtein verify
    // + connected components — originals and their one-edit variants
    // collapse into min-id entity clusters, unmatched records keep their
    // own id (transitive match-graph semantics, recursive-closure oracle)
    "q_entity_resolution" -> ((s, d) => {
      val hex = expr("substring(md5(cast(doc_id as string)), 1, 10)")
      val recs = T(s, d, "documents")
        .select(col("doc_id").as("id"), hex.as("name"))
        .unionByName(T(s, d, "documents")
          .select((col("doc_id") + 10000000L).as("id"),
            expr("concat(substring(substring(md5(cast(doc_id as string)), 1, 10), " +
              "1, cast(doc_id % 9 as int)), " +
              "substring(substring(md5(cast(doc_id as string)), 1, 10), " +
              "cast(doc_id % 9 as int) + 2, 10))").as("name")))
      _root_.graft.pipeline.FuzzyJoin
        .entityClusters(recs, "id", "name", maxDist = 1, q = 4,
          maxGramDf = 1 << 20)
        .orderBy("id")
    }),
    // multi-pass blocked ER (r14 ask #6a): fuzzy name edges UNION an
    // exact-equality pass on a sparse second attribute (10% of records
    // carry a key over 7 values); transitive closure merges ACROSS
    // passes — oracle re-derives both edge sets brute-force and closes
    // recursively
    "q_entity_resolution_multi" -> ((s, d) => {
      _root_.graft.pipeline.FuzzyJoin
        .entityClustersMulti(erRecords(s, d), "id", "name",
          exactCols = Seq("xkey"), maxDist = 1, q = 4,
          maxGramDf = 1 << 20)
        .orderBy("id")
    }),
    // incremental ER (r14 ask #6b): the SAME records admitted in two
    // batches against a persistent edge store — per batch one blocked
    // join of batch × (store ∪ batch) — must label identically to the
    // one-shot corpus run, so this row shares q_entity_resolution's
    // recursive-closure oracle verbatim
    "q_entity_resolution_incremental" -> ((s, d) => {
      val store = s"/tmp/graft_er_store/${new java.io.File(d).getName}"
      val p = new org.apache.hadoop.fs.Path(store)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val recs = erRecords(s, d)
      val batch1 = recs.filter(col("id") < 10000000L).select("id", "name")
      val batch2 = recs.filter(col("id") >= 10000000L).select("id", "name")
      _root_.graft.pipeline.FuzzyJoin.erAdmit(batch1, store, "id", "name",
        maxDist = 1, q = 4, maxGramDf = 1 << 20)
      _root_.graft.pipeline.FuzzyJoin.erAdmit(batch2, store, "id", "name",
        maxDist = 1, q = 4, maxGramDf = 1 << 20)
      _root_.graft.pipeline.FuzzyJoin.erLabels(s, store, "id").orderBy("id")
    }),
    // token-weighted cosine join (integer-exact: idf-like integer
    // weights over the union corpus, dot²·10⁶ ≥ τ²·‖l‖²·‖r‖² — no sqrt,
    // no FP). Fixture law (the q_fuzzy_join lesson, re-measured here):
    // candidate volume is Σ_t df_l·df_r, so every fixture token rides a
    // LARGE mod space (65521/32749/16381) that keeps df near-constant as
    // the corpus grows — a fixed-vocabulary token (lang/source) has df ∝
    // N and went quadratic at sf0.1g (26 s, measured before rebasing).
    // Same-doc pairs share e+g always, h on 2 of 3 ids — τ=800 keeps the
    // full sharers and drops the cos≈2/3 perturbed third
    "q_cosine_join" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val l = docs.select(col("doc_id").as("id"),
        concat_ws(" ",
          concat(lit("e"), (col("doc_id") % 65521).cast("string")),
          concat(lit("g"), (col("doc_id") % 32749).cast("string")),
          concat(lit("h"), (col("doc_id") % 16381).cast("string")))
          .as("name"))
      val r = docs.select((col("doc_id") + 10000000L).as("id"),
        concat_ws(" ",
          concat(lit("e"), (col("doc_id") % 65521).cast("string")),
          concat(lit("g"), (col("doc_id") % 32749).cast("string")),
          concat(lit("h"), ((col("doc_id") +
            when(col("doc_id") % 3 === 0, 1L).otherwise(0L)) % 16381)
            .cast("string"))).as("name"))
      _root_.graft.pipeline.FuzzyJoin
        .cosineJoin(l, r, "id", "name", tauMilli = 800)
        .orderBy("id_l", "id_r")
    }),
    // cosine-matcher entity resolution: originals + h-perturbed variants
    // under the token-cosine self-join at τ=800 — 2/3 of id pairs (full
    // token-set sharers) cluster, perturbed thirds stay singletons
    // except accidental mod collisions, which the closure and the
    // brute-force oracle both absorb
    "q_entity_resolution_cosine" -> ((s, d) => {
      val docs = T(s, d, "documents")
      def nm(hPerturb: Boolean) = concat_ws(" ",
        concat(lit("e"), (col("doc_id") % 65521).cast("string")),
        concat(lit("g"), (col("doc_id") % 32749).cast("string")),
        concat(lit("h"), ((col("doc_id") + (if (hPerturb)
          when(col("doc_id") % 3 === 0, 1L).otherwise(0L)
          else lit(0L))) % 16381).cast("string")))
      val recs = docs.select(col("doc_id").as("id"), nm(false).as("name"))
        .unionByName(docs.select((col("doc_id") + 10000000L).as("id"),
          nm(true).as("name")))
      _root_.graft.pipeline.FuzzyJoin
        .entityClustersCosine(recs, "id", "name", tauMilli = 800)
        .orderBy("id")
    }),
    // the incremental ER store consumed as a STREAM (13th replay gate):
    // micro-batches admit via foreachBatch → erAdmit, final labels must
    // equal the one-shot corpus run (shares q_entity_resolution's
    // recursive-closure oracle verbatim)
    "q_stream_er" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val store = s"/tmp/graft_er_stream/${new java.io.File(d).getName}"
      val p = new org.apache.hadoop.fs.Path(store)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      _root_.graft.streaming.EventStreams
        .erAdmitReplayed(erRecords(s, d), store, "id", "name",
          maxDist = 1, qgram = 4, maxGramDf = 1 << 20)
        .orderBy("id")
    }),
    // the ER pipeline composed end to end: multi-pass blocking →
    // transitive clusters → survivorship (modal name per entity) +
    // member counts — the full raw-records→golden-records path one gate
    // row, oracle re-derives closure AND survivorship
    "q_entity_golden" -> ((s, d) => {
      val recs = erRecords(s, d)
      val ent = _root_.graft.pipeline.FuzzyJoin
        .entityClustersMulti(recs, "id", "name",
          exactCols = Seq("xkey"), maxDist = 1, q = 4,
          maxGramDf = 1 << 20)
      val withEnt = recs.join(ent, Seq("id"))
      val golden = _root_.graft.pipeline.FuzzyJoin
        .goldenRecords(withEnt, "entity_id", Seq("name"))
      golden.join(
          withEnt.groupBy("entity_id").agg(count(lit(1)).as("n_records")),
          Seq("entity_id"))
        .select(col("entity_id"), col("n_records"), col("name"))
        .orderBy("entity_id")
    }),
    // golden-record survivorship (the post-clustering MDM step): per
    // synthetic entity the most frequent non-null value per attribute,
    // ties to the largest value — window-rank oracle
    "q_golden_records" -> ((s, d) => {
      val recs = T(s, d, "documents")
        .select((col("doc_id") % 97).as("entity"), col("lang"),
          col("source"))
      _root_.graft.pipeline.FuzzyJoin
        .goldenRecords(recs, "entity", Seq("lang", "source"))
        .orderBy("entity")
    }),
    // streaming survivorship (14th replay gate): the SAME records
    // consumed as micro-batches through the goldenCounts streaming
    // aggregate, finished batch-side — must equal the batch golden
    // records row-for-row (shares q_golden_records' oracle verbatim)
    "q_stream_golden" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val recs = T(s, d, "documents")
        .select((col("doc_id") % 97).as("entity"), col("lang"),
          col("source"))
      _root_.graft.streaming.EventStreams.goldenReplayed(recs)
        .orderBy("entity")
    }),
    // deterministic seeded training-order shuffle: md5(seed:id) keys +
    // hex-nibble shards; first 200 of the permutation (the full op never
    // sorts globally — writers partition by shard, sort within)
    "doc_seeded_shuffle" -> ((s, d) =>
      _root_.graft.pipeline.Mixture
        .seededShuffle(T(s, d, "documents").select("doc_id"),
          "doc_id", "seed42", shards = 16)
        .orderBy("shuffle_key")
        .limit(200)),
    // hive-partitioned round trip: documents written partitionBy(lang) and
    // read back must aggregate identically to the source table — gates
    // partition-column extraction/restoration (value↔directory encoding);
    // the pruning behavior itself is plan-audited in Round11Spec
    "doc_partitioned_roundtrip" -> ((s, d) => {
      // fixed per-lake path, overwrite mode: repeated invocations (bench
      // iterations) rewrite ONE copy instead of accumulating temp dirs
      val path = "target/part_roundtrip/" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
      _root_.graft.sources.Partitioned.writePartitioned(
        T(s, d, "documents"), "lang", path)
      s.read.parquet(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    }),
    // Morton z-value parity: the interleaved-bit layout key behind
    // Zorder.writeZordered (locality itself is gated in Round11Spec; this
    // row pins the bit-shuffle expression against an unrolled SQL twin)
    "q_zorder" -> ((s, d) =>
      events(s, d).select(col("event_id"),
        _root_.graft.sources.Zorder.zValue(
          col("user_id"), expr("ts div 3600000000000")).as("z"))
        .orderBy("event_id")),
    // robust volume-anomaly flags over hourly event counts: an hour spikes
    // when its count reaches 2× the event type's MEDIAN hourly count —
    // median (not mean) so the detector is robust to the spikes it hunts,
    // derived from the per-type count histogram with the same all-integer
    // type-1 rule as doc_length_quantiles (cum·2 ≥ n ⇔ pm=500); the flag
    // test `cnt ≥ 2·med` is integer too, so no float crosses an engine
    "q_events_anomaly" -> ((s, d) => {
      val hourly = hourlyCountsOf(events(s, d))
      hourly.join(hourlyTypeMedians(hourly), "event_type")
        .select(col("event_type"), col("h"), col("cnt"),
          (col("cnt") >= col("med") * 2).as("is_spike"))
        .orderBy("event_type", "h")
    }),
    // MAD-thresholded variant: median absolute deviation is the robust
    // dispersion the 2×median rule lacks — an hour is anomalous past
    // med + 3·MAD; both statistics from integer histogram medians, so
    // the full robust z-score pipeline stays engine-exact
    "q_events_mad" -> ((s, d) => {
      val hourly = hourlyCountsOf(events(s, d))
      val dev = hourly.join(hourlyTypeMedians(hourly), "event_type")
        .withColumn("absdev", abs(col("cnt") - col("med")))
      dev.join(typeMedian(dev, "absdev", "mad"), "event_type")
        .select(col("event_type"), col("h"), col("cnt"), col("med"),
          col("mad"), (col("cnt") > col("med") + col("mad") * 3).as("is_anomaly"))
        .orderBy("event_type", "h")
    }),
    // the same flags produced STREAMING: watermarked hourly windows
    // stream-static-joined to the batch medians, replayed as real
    // micro-batches — eighth replay gate
    "q_stream_anomaly" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val ev = events(s, d)
      _root_.graft.streaming.EventStreams
        .spikeFlagsReplayed(ev, hourlyTypeMedians(hourlyCountsOf(ev)))
        .orderBy("event_type", "hour")
    }),
    // salted-join parity gate: the skew tool must return exactly the plain
    // equi-join's answer (salting redistributes hot keys, never rows) —
    // events fact side salted on its unique event_id, customer dim
    // replicated salts ways, aggregated to an exact-integer segment rollup
    "q_skew_join" -> ((s, d) => {
      val ev = events(s, d).withColumnRenamed("user_id", "c_custkey")
      val cust = T(s, d, "customer").select("c_custkey", "c_mktsegment")
      _root_.graft.operators.SkewJoin.salted(ev, cust, key = "c_custkey",
        leftUnique = "event_id", salts = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value")).cast("long")).as("vfloor"))
        .orderBy("c_mktsegment")
    }),
    // event-time RANGE-frame rolling aggregation: per user, count and
    // floor-sum of value over the trailing 24 h INCLUSIVE of the frame
    // edge — a true range frame (peer rows with equal timestamps all
    // join the frame in both engines), keyed by nanos so sub-second
    // precision cannot drift between engines; floor(value) keeps the
    // windowed sum exact-integer (double sums are order-dependent)
    "q_rolling_24h" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"))
        .rangeBetween(-86400L * 1000000000L, 0L)
      events(s, d)
        .withColumn("n_24h", count(lit(1)).over(w))
        .withColumn("vfloor_24h", sum(floor(col("value")).cast("long")).over(w))
        .select("event_id", "user_id", "n_24h", "vfloor_24h")
        .orderBy("event_id")
    }),
    "q_semi_exists" -> ((s, d) =>
      T(s, d, "customer")
        .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")),
    "q_anti_not_exists" -> ((s, d) =>
      T(s, d, "customer")
        .join(T(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")),
    "q_intersect" -> ((s, d) =>
      T(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(T(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")),
    "q_except" -> ((s, d) =>
      T(s, d, "customer").select(col("c_custkey").as("k"))
        .except(T(s, d, "orders").filter(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("k")))
        .orderBy("k")),
    "q_rollup" -> ((s, d) =>
      T(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    // argmax WITHOUT a window: latest order per customer as one
    // aggregation of max(struct(date, key)). Struct max is not
    // hash-aggregable (Spark plans SortAggregate), but the property that
    // matters at scale survives: map-side partial_max runs before the
    // exchange, so the shuffle carries ONE struct per key — where a
    // row_number window ships every row and sorts whole partitions
    "q_latest_order" -> ((s, d) =>
      T(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
        .select(col("o_custkey"), col("m.o_orderdate").as("o_orderdate"),
          col("m.o_orderkey").as("o_orderkey"))
        .orderBy("o_custkey")),
    // full grouping-set lattice (cube): all four (flag, status) slices
    "q_cube" -> ((s, d) =>
      T(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).cast("double").as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    // big⋈big over pre-bucketed tables: the shuffle is paid once at
    // materialize (ingest), the join itself plans Exchange-free — the
    // co-located layout for queries repeated against the same fact tables
    // (BucketingSpec pins the plan shape; this row gates the results)
    "q_bucketed_join" -> ((s, d) => {
      val o = Bucketing.bucketedTable(s, d, "orders", Seq("o_orderkey"), buckets = 16)
      val l = Bucketing.bucketedTable(s, d, "lineitem", Seq("l_orderkey"), buckets = 16)
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(discPrice).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    }),
    // ordered funnel: how far each user got through view → click →
    // purchase with strictly increasing event time
    "q_event_funnel" -> ((s, d) =>
      Funnels.funnelDepth(events(s, d),
        Seq("view", "click", "purchase")).orderBy("user_id")),
    // the groupBy(depth) conversion report over the same funnel — the
    // at-a-glance observability row (n_reached = classic funnel bars)
    "q_funnel_report" -> ((s, d) =>
      Funnels.funnelReport(events(s, d), Seq("view", "click", "purchase"))),
    // streaming twin replayed over the WHOLE events table through real
    // micro-batches — the oracle checks flatMapGroupsWithState funnel
    // state against the batch SQL at table scale, not toy fixtures
    "q_stream_funnel" -> ((s, d) => {
      implicit val sp: SparkSession = s
      _root_.graft.streaming.EventStreams.funnelDepthsReplayed(
        events(s, d), Seq("view", "click", "purchase")).orderBy("user_id")
    }),
    // streaming per-source cap replayed over the WHOLE documents table in
    // id-ordered micro-batches: keyed-counter state must reproduce the
    // batch bounded-aggregator cap row-for-row (same oracle SQL shape)
    "q_stream_source_cap" -> ((s, d) => {
      implicit val sp: SparkSession = s
      _root_.graft.streaming.EventStreams.sourceCapReplayed(
        T(s, d, "documents"), n = 10).orderBy("source", "doc_id")
    }),
    // streaming per-source token budget replayed in id-ordered
    // micro-batches: keyed running-sum state admits the id-ordered prefix
    // (crossing doc included), which the oracle expresses as one window
    "q_stream_token_budget" -> ((s, d) => {
      implicit val sp: SparkSession = s
      _root_.graft.streaming.EventStreams.tokenBudgetReplayed(
        T(s, d, "documents"),
        Seq("src0" -> 700L, "src1" -> 1540L, "src2" -> 10000L, "src3" -> 400L))
        .orderBy("source", "doc_id")
    }),
    "q_retention" -> ((s, d) =>
      Funnels.retention(events(s, d)).orderBy("cohort", "offset_weeks")),
    // keyed cohort state replayed in event-time order: the streamed
    // first-seen-week hits aggregate to the batch retention triangle
    "q_stream_retention" -> ((s, d) => {
      implicit val sp: SparkSession = s
      _root_.graft.streaming.EventStreams.retentionReplayed(events(s, d))
        .orderBy("cohort", "offset_weeks")
    }),
    // stateful streaming sessionization replayed in event-time order:
    // keyed (session_id, last_ts, count) state must reproduce the batch
    // window form row-for-row, sessions spanning micro-batches included
    // watermarked stream-stream interval join replayed in event-time
    // order: the emitted pair set must equal the batch inequality join
    // (the streaming twin of the new batch band join q_interval_join)
    "q_stream_interval" -> ((s, d) => {
      implicit val sp: SparkSession = s
      _root_.graft.streaming.EventStreams.intervalJoinReplayed(events(s, d))
        .orderBy("user_id", "purchase_id", "click_id")
    }),
    "q_stream_sessions" -> ((s, d) => {
      implicit val sp: SparkSession = s
      _root_.graft.streaming.EventStreams.sessionsReplayed(events(s, d))
        .orderBy("user_id", "event_id")
    }),
    // streaming ingest dedup (first-digest-occurrence admission) replayed
    // id-ordered: must equal the batch min-id-per-md5 keeper set
    "q_stream_dedup" -> ((s, d) => {
      implicit val sp: SparkSession = s
      _root_.graft.streaming.EventStreams.dedupReplayed(T(s, d, "documents"))
        .orderBy("doc_id")
    }),
    // the SAME ingest-dedup gate over a real file source: parquet drop
    // files replayed via readStream + maxFilesPerTrigger=1 — proves the
    // operator on the production source class, not just MemoryStream
    "q_stream_file_dedup" -> ((s, d) => {
      implicit val sp: SparkSession = s
      _root_.graft.streaming.EventStreams.dedupFileReplayed(T(s, d, "documents"))
        .orderBy("doc_id")
    }),
    // gap-based sessionization, batch form (streaming twin lives in
    // graft.streaming.EventStreams.sessionize)
    "q_sessions" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .withColumn("new_session",
          when(col("ts") - lag("ts", 1).over(w) > lit(1800000000000L), 1).otherwise(0))
        .withColumn("session_id",
          sum(col("new_session")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
        .select("user_id", "event_id", "session_id")
        .orderBy("user_id", "event_id")
    }),
    // as-of join composed from window ops: attribute each purchase to the
    // user's most recent prior click
    "q_asof_attribution" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .withColumn("attributed_click",
          last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "attributed_click")
        .orderBy("user_id", "event_id")
    }),
    // first-touch complement of the as-of row: each purchase attributes
    // to the user's EARLIEST preceding click — the two ends of the
    // marketing-attribution spectrum share one window shape
    "q_first_touch" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .withColumn("first_click",
          first(when(col("event_type") === "click", col("event_id")), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "first_click")
        .orderBy("user_id", "event_id")
    }),
    // batch interval (band) join: per purchase, same-user clicks in the
    // trailing 30 minutes. BandJoin turns the non-equi time window into a
    // (user, time-band)-bucketed equi-join — bounded per-key fan-out at
    // scale instead of a per-user cross product behind a filter
    "q_interval_join" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"))
      val matched = BandJoin.trailing(purchases, clicks, Seq("user_id"),
        "p_ts", "c_ts", window = 30L * 60L * 1000000000L)
      purchases.join(
          matched.groupBy("event_id").agg(count(lit(1)).as("clicks_30m")),
          Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("clicks_30m"), lit(0L)).as("clicks_30m"))
        .orderBy("event_id")
    }),
    // pivoted per-user event-type counts (groupBy().pivot() — explicit
    // value list keeps the schema static; one shuffle, map-side partial
    // aggregation per (user, type) before the pivot columns form)
    "q_events_pivot" -> ((s, d) =>
      events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("user_id"), col("view").cast("long").as("view"),
          col("click").cast("long").as("click"),
          col("purchase").cast("long").as("purchase"),
          col("signup").cast("long").as("signup"),
          col("error").cast("long").as("error"))
        .orderBy("user_id")),
    // semi-structured path extraction over the events.props JSON column
    // (get_json_object — native codegen'd expression, no UDF): parse once,
    // bucket, integer-exact aggregates (sums of doubles would not
    // hash-match across engines)
    "q_events_json" -> ((s, d) =>
      events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("event_type"))
        .groupBy((col("k") % 10L).as("k_bucket"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"), max("k").as("max_k"))
        .orderBy("k_bucket", "event_type")),
    "q_events_hourly" -> ((s, d) =>
      events(s, d)
        .groupBy(date_trunc("hour",
          timestamp_micros(expr("ts div 1000"))).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("user_id")).as("users"))
        .orderBy("hour", "event_type")),

    // LLM-data-pipeline operators (dedup / similarity / text / multimodal)
    "doc_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(T(s, d, "documents")).orderBy("text_hash")),
    "doc_near_dup_minhash" -> ((s, d) =>
      Dedup.verifiedNearDups(T(s, d, "documents"), threshold = 0.7)
        .select("a", "b").orderBy("a", "b")),
    "doc_near_dup_simhash" -> ((s, d) =>
      Dedup.simhashNearDups(T(s, d, "documents"), maxHamming = 3)
        .orderBy("a", "b")),
    "doc_dedup_clusters" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Dedup.canonicalIds(docs, Dedup.verifiedNearDups(docs, threshold = 0.7))
        .filter(col("canonical_id") =!= col("doc_id"))
        .orderBy("doc_id")
    }),
    // the whole dedup pipeline in one call: exact → near-dup over exact
    // survivors → components → canonical survivors; the oracle recomputes
    // every stage in SQL (md5 grouping, exact 3-gram Jaccard, recursive
    // reachability) so the composition is gate-checked end-to-end
    "doc_corpus_dedup" -> ((s, d) =>
      Dedup.dedupCorpus(T(s, d, "documents")).select("doc_id").orderBy("doc_id")),
    // same composition with the asymmetric containment edges unioned in:
    // the oracle recomputes the closure over the union of both edge sets
    "doc_corpus_dedup_cont" -> ((s, d) =>
      Dedup.dedupCorpusWithContainment(T(s, d, "documents"))
        .select("doc_id").orderBy("doc_id")),
    "doc_tokens" -> ((s, d) =>
      TextAnalysis.tokenStats(T(s, d, "documents")).orderBy("doc_id")),
    "doc_quality" -> ((s, d) =>
      TextAnalysis.qualityStats(T(s, d, "documents")).orderBy("doc_id")),
    "doc_langid" -> ((s, d) =>
      TextAnalysis.langId(T(s, d, "documents")).orderBy("doc_id")),
    "doc_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprints(T(s, d, "documents")).orderBy("doc_id")),
    "doc_pii_redact" -> ((s, d) =>
      TextAnalysis.redactPii(T(s, d, "documents")).orderBy("doc_id")),
    "doc_pack_bins" -> ((s, d) =>
      TextAnalysis.packBins(T(s, d, "documents")).orderBy("doc_id")),
    "doc_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(T(s, d, "documents")).orderBy("doc_id")),
    "doc_sketch_stats" -> ((s, d) =>
      TextAnalysis.sketchStats(T(s, d, "documents")).orderBy("source")),
    // deflate-ratio quality signal: no oracle (a codec is not SQL) →
    // rows-only driver check; semantics spec-gated on known plaintexts.
    // PERMANENTLY rows-only (BASELINE.md note): its engine-portable
    // integer twin is doc_ngram_redundancy below, which the oracle
    // recomputes exactly
    "doc_compress_ratio" -> ((s, d) =>
      TextAnalysis.compressionRatio(T(s, d, "documents")).orderBy("doc_id")),
    // the ORACLED compressibility face: distinct vs total 4-char windows
    // per doc (md5-prefix digest contract), integer redundancy_milli
    "doc_ngram_redundancy" -> ((s, d) =>
      TextAnalysis.ngramRedundancy(T(s, d, "documents")).orderBy("doc_id")),
    // sentence spans with byte offsets (". "-portable splitter)
    "doc_sentences" -> ((s, d) =>
      TextAnalysis.sentences(T(s, d, "documents"))
        .orderBy("doc_id", "pos")),
    // exact per-source length quantiles from the value histogram (type-1
    // inverse CDF, all-integer threshold test — see lengthQuantiles doc)
    "doc_length_quantiles" -> ((s, d) =>
      TextAnalysis.lengthQuantiles(T(s, d, "documents"))
        .orderBy("source", "pm")),
    // decontamination fixture: the first 25 documents stand in for the
    // benchmark suite, the rest are the corpus
    "doc_filter_funnel" -> ((s, d) =>
      TextAnalysis.filterFunnel(T(s, d, "documents")).orderBy("doc_id")),
    "doc_mixture_sample" -> ((s, d) =>
      Mixture.mixtureSample(T(s, d, "documents"),
        Seq("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25),
        defaultRate = 0.1, salt = "mix1").orderBy("doc_id")),
    // blocklist screening via the native Aho–Corasick expression: one
    // codegen'd pass over the text regardless of blocklist size (the
    // OR-chain rescans per term); distinct-term count + flag per doc
    "doc_blocklist" -> ((s, d) =>
      T(s, d, "documents")
        .select(col("doc_id"),
          _root_.graft.functions.GraftFunctions.blocklist_terms(
            lower(col("text")),
            Seq("slow", "merge", "fingerprint")).as("n_terms"))
        .withColumn("flagged", col("n_terms") > 0)
        .orderBy("doc_id")),
    // DSIR importance resampling: hashed-unigram (1024-bucket) importance
    // log-weights of every raw doc against the in-corpus English target,
    // Gumbel-top-k selection keyed by the md5 coin — weights and keys as
    // milli-nat integers so the oracle derives identical values
    "doc_dsir_sample" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Mixture.importanceResample(docs, docs.filter(col("lang") === "en"),
        n = 200).orderBy(col("key_milli").desc, col("doc_id"))
    }),
    // temperature (α=1/2) source reweighting: integer-sqrt weights, exact
    // integer quota/threshold arithmetic, keyed-coin keep — emits the
    // per-source mixing ledger
    "doc_temperature_mix" -> ((s, d) =>
      Mixture.temperatureMixture(T(s, d, "documents"), totalBudget = 300L,
        salt = "tmix").orderBy("source")),
    // cross-split near-dup leakage: wide val/test fractions so the sf0.01
    // near-dup pair set actually straddles boundaries; the oracle rebuilds
    // the verified Jaccard pairs AND the split coin in SQL
    "doc_split_leakage" -> ((s, d) =>
      Mixture.splitLeakage(T(s, d, "documents"),
        valFrac = 0.3, testFrac = 0.3, salt = "leak1").orderBy("a", "b")),
    // the deployable composition: funnel -> full dedup -> split in one
    // call; the oracle chains all three stages' SQL end-to-end
    "doc_prepare_corpus" -> ((s, d) =>
      Prepare.prepareCorpus(T(s, d, "documents"),
        valFrac = 0.1, testFrac = 0.1, salt = "prep1").orderBy("doc_id")),
    "doc_rarity" -> ((s, d) =>
      Mixture.rarityProfile(T(s, d, "documents"), rareMax = 100)
        .orderBy("doc_id")),
    // canonical text normalization: NFC (native expression) + control
    // chars to spaces + space-run collapse + trim
    "doc_normalize" -> ((s, d) =>
      TextAnalysis.normalizeText(T(s, d, "documents")).orderBy("doc_id")),
    // snapshot diff: prev = ids [0,400), next = ids [100,500) with a
    // deterministic content edit on [200,250) — added/removed/changed
    "doc_corpus_diff" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val prev = docs.filter(col("doc_id") < 400).select("doc_id", "text")
      val next = docs.filter(col("doc_id") >= 100)
        .select(col("doc_id"),
          when(col("doc_id").between(200, 249), concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      Prepare.corpusDiff(prev, next).orderBy("doc_id")
    }),
    // MERGE round trip: the same prev/next construction as doc_corpus_diff,
    // merged via applyDiff(prev, adds ∪ changes, removals). The oracle is
    // `next` itself — the engine must reproduce it exactly THROUGH the
    // merge path (deletes staged first, upserts replace-or-insert)
    "doc_apply_diff" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val prev = docs.filter(col("doc_id") < 400).select("doc_id", "text")
      val next = docs.filter(col("doc_id") >= 100)
        .select(col("doc_id"),
          when(col("doc_id").between(200, 249), concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      val upserts = next.filter(col("doc_id") >= 400 ||
        col("doc_id").between(200, 249))
      val deletes = prev.select("doc_id").filter(col("doc_id") < 100)
      Prepare.applyDiff(prev, upserts, deletes)
        .select(col("doc_id"), md5(col("text")).as("digest"),
          octet_length(col("text")).cast("long").as("len"))
        .orderBy("doc_id")
    }),
    // n-gram LM perplexity filter (CCNet/Gopher-style quality signal):
    // self-trained bigram model, integer milli-nat scores
    "doc_perplexity" -> ((s, d) =>
      TextAnalysis.perplexity(T(s, d, "documents")).orderBy("doc_id")),
    // CCNet head/middle/tail stratification per lang (type-1 tertiles
    // over the milli-nat histogram)
    "doc_perplexity_buckets" -> ((s, d) =>
      TextAnalysis.perplexityBuckets(T(s, d, "documents"))
        .orderBy("doc_id")),
    // the stratification APPLIED: per-stratum keep rates via the keyed
    // coin — head kept whole, middle halved, tail decimated
    "doc_quality_mix" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Mixture.qualityMixtureSample(docs,
        TextAnalysis.perplexityBuckets(docs),
        Seq("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.1),
        defaultRate = 0.0, salt = "qmix1")
        .orderBy("doc_id")
    }),
    "doc_bigram_novelty" -> ((s, d) =>
      Mixture.bigramNovelty(T(s, d, "documents")).orderBy("doc_id")),
    // BPE tokenizer: distributed word-count training + map-only apply.
    // The oracle pins what DuckDB CAN compute (whitespace counts) plus the
    // contract flags that must come back true: decode∘encode identity per
    // word, and the token count inside its provable [n_words,
    // n_words + n_chars] envelope (every word is 1..len(word)+1 tokens) —
    // the honest-contract shape of the ANN/sketch rows
    "doc_bpe" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val merges = trainedMerges(s, d)
      Bpe.tokenize(docs, merges).select(
        col("doc_id"), col("n_ws_tokens"), col("round_trip_ok"),
        (col("n_bpe_tokens") >= col("n_ws_tokens") &&
          col("n_bpe_tokens") <= col("n_ws_tokens") + col("n_word_chars"))
          .as("bounds_ok"))
        .orderBy("doc_id")
    }),
    // BPE id stream: contract row — DuckDB cannot run BPE, so the oracle
    // pins the DuckDB-computable whitespace count while the Spark side
    // proves its own contracts as booleans that must all come back true:
    // the id stream has exactly n_bpe_tokens rows per doc (count parity
    // with tokenize), every id is in [1, |vocab|] (no UNK on the corpus
    // the vocab was trained on), and the per-doc id-stream digest is
    // identical across two independent encode runs (determinism)
    "doc_bpe_ids" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val merges = trainedMerges(s, d)
      val v = Bpe.vocab(docs, merges)
      val vocabSize = v.size
      def digests(run: DataFrame) = run.groupBy("doc_id").agg(
        count(lit(1)).as("n_ids"),
        min("token_id").as("min_id"),
        max("token_id").as("max_id"),
        md5(concat_ws(",", expr(
          "transform(array_sort(collect_list(named_struct(" +
            "'pos', pos, 'id', token_id))), s -> cast(s.id AS string))"))).as("dig"))
      val a = digests(Bpe.encodeIds(docs, merges, v))
      val b = digests(Bpe.encodeIds(docs, merges, v))
        .select(col("doc_id"), col("dig").as("dig2"))
      val counts = Bpe.tokenize(docs, merges).select("doc_id", "n_ws_tokens", "n_bpe_tokens")
      // counts is the base (one row per DOCUMENT, like the oracle) with
      // the digest runs LEFT-joined: a zero-token doc emits no id rows,
      // and an inner join would drop it while the oracle keeps it
      counts.join(a, Seq("doc_id"), "left_outer")
        .join(b, Seq("doc_id"), "left_outer").select(
          col("doc_id"), col("n_ws_tokens"),
          (coalesce(col("n_ids"), lit(0L)) === col("n_bpe_tokens")).as("count_ok"),
          coalesce(col("min_id") >= 1 && col("max_id") <= vocabSize, lit(true))
            .as("ids_in_range"),
          coalesce(col("dig") === col("dig2"), lit(true)).as("det_ok"))
        .orderBy("doc_id")
    }),
    // sequence packing over MODEL-token counts (the packBins twin that a
    // training run actually uses): bins must never mix token lengths and
    // must respect the budget unless the doc alone exceeds it
    "doc_bpe_pack" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val merges = trainedMerges(s, d)
      val counts = Bpe.tokenize(docs, merges)
        .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"),
          col("n_ws_tokens"))
      val packed = TextAnalysis.packBinsByCount(
        counts.select("doc_id", "n_tokens"), budget = 256)
      val binStats = packed.groupBy("bin_id").agg(
        countDistinct("n_tokens").as("n_lengths"),
        sum("n_tokens").as("bin_tokens"),
        count(lit(1)).as("bin_docs"))
      packed.join(binStats, "bin_id")
        .join(counts.select("doc_id", "n_ws_tokens"), "doc_id")
        .select(col("doc_id"), col("n_ws_tokens"),
          (col("n_lengths") === 1).as("uniform_bin"),
          (col("bin_tokens") <= 256 || col("bin_docs") === 1).as("budget_ok"))
        .orderBy("doc_id")
    }),
    "doc_split_assign" -> ((s, d) =>
      Mixture.splitAssign(T(s, d, "documents"),
        valFrac = 0.1, testFrac = 0.1, salt = "split1").orderBy("doc_id")),
    // exact heavy hitters through a Misra-Gries candidate sketch: the
    // sketch (bounded state) decides WHAT to count, the counts are exact —
    // so the full-group-by DuckDB oracle must match token-for-token
    "doc_heavy_hitters" -> ((s, d) =>
      Sketches.heavyHitters(T(s, d, "documents"), k = 50)),
    "doc_chunks" -> ((s, d) =>
      TextAnalysis.chunk(T(s, d, "documents"), size = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")),
    "doc_boilerplate" -> ((s, d) =>
      Dedup.boilerplateClean(T(s, d, "documents"), window = 4, minDf = 5)
        .orderBy("doc_id")),
    "doc_vocab" -> ((s, d) =>
      Mixture.vocabStats(T(s, d, "documents")).orderBy("tok")),
    // per-source cap via the bounded typed Aggregator — the oracle
    // recomputes it as the row_number window DuckDB can afford at sf scale
    "doc_source_cap" -> ((s, d) =>
      Mixture.capPerSource(T(s, d, "documents"), n = 10)
        .orderBy("source", "doc_id")),
    // exact n-per-stratum sample: keyed-coin order through the bounded
    // aggregator; the oracle affords the window form at sf scale
    "doc_stratified_sample" -> ((s, d) =>
      Mixture.stratifiedSampleExact(T(s, d, "documents"), n = 7, salt = "strat1")
        .orderBy("source", "doc_id")),
    // global exact n-sample: one stratum, corpus-wide n smallest coins
    "doc_sample_exact" -> ((s, d) =>
      Mixture.sampleExact(T(s, d, "documents"), n = 25, salt = "g1")
        .orderBy("doc_id")),
    // token-budget mixture: histogram -> threshold -> map filter; budgets
    // hit interior, boundary (= total), and exceeds-total thresholds
    "doc_token_budget" -> ((s, d) =>
      Mixture.mixtureByTokenBudget(T(s, d, "documents"),
        Seq("src0" -> 700L, "src1" -> 1540L, "src2" -> 10000L, "src3" -> 400L),
        salt = "tb1").orderBy("doc_id")),
    // the same op keyed on the lang column: language-balanced mixture
    "doc_lang_budget" -> ((s, d) =>
      Mixture.mixtureByTokenBudget(T(s, d, "documents"),
        Seq("en" -> 8000L, "fr" -> 3000L, "es" -> 100000L, "de" -> 2000L,
          "zh" -> 1500L),
        salt = "lb1", keyCol = "lang").orderBy("doc_id")),
    // salient terms: integer-only (tf desc, df asc, term) ranking, per-doc
    // window (bounded partitions — not the corpus-key window pathology)
    "doc_top_terms" -> ((s, d) =>
      TextAnalysis.topTerms(T(s, d, "documents"), k = 3, maxDf = 390)
        .orderBy("doc_id", "rk")),
    // duplicated positional 8-gram spans, exhaustive digest-level oracle
    "doc_dup_spans" -> ((s, d) =>
      Dedup.dupSpans(T(s, d, "documents"), k = 8, minDf = 2)
        .orderBy("doc_id")),
    // span-level decontamination: merged char spans of corpus text that
    // occurs verbatim (>=40 chars) in the benchmark split — no
    // keep-first, every occurrence marked
    "doc_decontam_spans" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Decontaminate.contaminatedSpans(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0), window = 40, stride = 1)
        .orderBy("doc_id", "span_start")
    }),
    // the removal itself: benchmark-verbatim spans cut out of the corpus
    "doc_decontam_clean" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Decontaminate.decontaminateText(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0), window = 40, stride = 1)
        .orderBy("doc_id")
    }),
    // exact-substring duplicate spans (Lee et al. ExactSubstr): stride-1
    // 40-char windows, keep-first-occurrence, per-doc merged [start,end)
    // char offsets; identity is the contractual 64-bit md5 prefix
    "doc_exact_substr_spans" -> ((s, d) =>
      Dedup.exactSubstrSpans(T(s, d, "documents"), window = 40, stride = 1)
        .orderBy("doc_id", "span_start")),
    // the removal itself: every later occurrence of a duplicated
    // >=40-char span cut out, first occurrences and clean docs verbatim
    "doc_exact_substr_dedup" -> ((s, d) =>
      Dedup.exactSubstrClean(T(s, d, "documents"), window = 40, stride = 1)
        .orderBy("doc_id")),
    // TWO-PASS exact-substring (winnowed sound prefilter -> stride-1 on
    // survivor docs only): output must be BIT-IDENTICAL to the
    // single-pass stride-1 row above — same oracle, by the winnowing
    // locality theorem (r17's stride-both-sides prefilter was UNSOUND:
    // occurrences aligned mod stride only; winnowing anchors by local
    // content, so both occurrences anchor at the same offsets)
    "doc_exact_substr_twopass" -> ((s, d) =>
      Dedup.exactSubstrSpansTwoPass(T(s, d, "documents"), window = 40)
        .orderBy("doc_id", "span_start")),
    // regime-steered face: at window 40 the dispatcher must pick the
    // measured-better SINGLE-pass plan (SCALE.md: two-pass loses below
    // the twoPassMinWindow boundary) and land on the same truth — the
    // oracle is doc_exact_substr_spans verbatim; the window-80 dispatch
    // to two-pass is spec-pinned (Round19Spec)
    "doc_exact_substr_auto" -> ((s, d) =>
      Dedup.exactSubstrSpansAuto(T(s, d, "documents"), window = 40)
        .orderBy("doc_id", "span_start")),
    // asymmetric containment dedup, exhaustive digest-level oracle (the
    // maxDf index cap is part of the contract and mirrored in SQL)
    "doc_containment" -> ((s, d) =>
      Dedup.containmentPairs(T(s, d, "documents")).orderBy("a", "b")),
    // BM25 retrieval skeleton: integer-exact (tf, df, dl) per (doc, term)
    // — the float BM25 combination is a pure map over these plus two
    // corpus scalars, spec-checked in SearchSpec against hand-computed
    // values (float sums would not hash-match across engines)
    "doc_bm25" -> ((s, d) =>
      Search.keywordStats(T(s, d, "documents"), Seq("join", "stream", "dup"))
        .orderBy("doc_id", "term")),
    // hybrid retrieval: integer-exact lexical arm (Σtf/dl/doc_id keys) ⊕
    // exact cosine arm (doc_id ≡ vec_id), fused by integer-milli RRF
    "doc_hybrid_search" -> ((s, d) => {
      val lex = Search.lexicalTopK(
        T(s, d, "documents"), Seq("join", "stream", "dup"), k = 20)
      val sem = Similarity.bruteForceTopK(
        T(s, d, "embeddings"), k = 20, numQueries = 1)
        .select(col("vec_id").as("doc_id"), col("rank"))
      Search.rrfFuse(lex, sem, k = 10)
    }),
    // the same stats served from the persisted term-bucketed inverted
    // index: ingest shuffle paid once, the probe is a bucket-pruned scan
    // (plan shape pinned in Round8Spec; this row gates result parity)
    "doc_bm25_indexed" -> ((s, d) => {
      val idx = Search.buildTermIndex(s, T(s, d, "documents"), d)
      Search.indexedKeywordStats(idx, Seq("join", "stream", "dup"))
        .orderBy("doc_id", "term")
    }),
    "doc_decontaminate" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Decontaminate.flagged(
        docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25), k = 5)
        .orderBy("doc_id")
    }),
    // Bloom-filter decontamination: no-false-negative contract per corpus
    // doc; the exact contaminated flag is recomputed by the oracle
    "doc_decontaminate_bloom" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Decontaminate.bloomContract(
        docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
        k = 5, gramFpp = 1e-4)
        .orderBy("doc_id")
    }),
    // Count-Min-Sketch frequency contract over the exact top-20 tokens:
    // never undercounts, overcounts by at most eps*N
    "doc_cms_heavy_hitters" -> ((s, d) =>
      Sketches.cmsHeavyHitters(T(s, d, "documents"), topN = 20)
        .orderBy("tok")),
    "doc_media_features" -> ((s, d) => {
      implicit val sp: SparkSession = s
      Multimodal.extractFeatures(T(s, d, "documents")).toDF().orderBy("doc_id")
    }),
    "doc_media_resize" -> ((s, d) => {
      implicit val sp: SparkSession = s
      Multimodal.resize(T(s, d, "documents")).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          length(col("payload")).cast("long").as("out_len"))
        .orderBy("doc_id")
    }),
    "doc_media_frames" -> ((s, d) => {
      implicit val sp: SparkSession = s
      Multimodal.sampleFrames(T(s, d, "documents")).toDF()
        .select(col("doc_id"), col("frame_no"), col("offset"),
          length(col("payload")).cast("long").as("flen"))
        .orderBy("doc_id", "frame_no")
    }),
    "emb_knn_brute" -> ((s, d) =>
      Similarity.bruteForceTopK(T(s, d, "embeddings"), k = 5, numQueries = 3)
        .orderBy("q_id", "rank")),
    // the approximate kNN paths emit their approximation contract: each ANN
    // hit joined against the exact kNN (exact_rank, per-query overlap and
    // recall) — deterministic under the fixed seeds, so the oracle pins the
    // achieved recall and gate-checks bucketing/quantizer/scoring
    "emb_knn_lsh" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.annContract(
        Similarity.lshTopK(emb, k = 5, numQueries = 3, planes = 8),
        Similarity.bruteForceTopK(emb, k = 5, numQueries = 3), k = 5)
        .orderBy("q_id", "vec_id")
    }),
    "emb_knn_ivf" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.annContract(
        Similarity.ivfTopK(emb, k = 5, numQueries = 3),
        Similarity.bruteForceTopK(emb, k = 5, numQueries = 3), k = 5)
        .orderBy("q_id", "vec_id")
    }),
    "emb_knn_filtered" -> ((s, d) =>
      Similarity.filteredTopK(T(s, d, "embeddings"), col("label") === 1,
        k = 5, numQueries = 3).orderBy("q_id", "rank")),
    "emb_knn_ivfpq" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.annContract(
        Similarity.ivfpqTopK(emb, k = 5, numQueries = 3, nProbe = 4, m = 16, ksub = 32),
        Similarity.bruteForceTopK(emb, k = 5, numQueries = 3), k = 5)
        .orderBy("q_id", "vec_id")
    }),
    // SQ8 scalar-quantized kNN: int8 codes + per-vector scale (4× smaller
    // than float32 at rest), integer-dot candidate generation, exact
    // re-rank of the top rerank·k — contract-gated like the other ANN rows
    "emb_knn_sq8" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.annContract(
        Similarity.sq8TopK(emb, k = 5, numQueries = 3, rerank = 4),
        Similarity.bruteForceTopK(emb, k = 5, numQueries = 3), k = 5)
        .orderBy("q_id", "vec_id")
    }),
    "emb_top_pairs" -> ((s, d) =>
      Similarity.topSimilarPairs(T(s, d, "embeddings"), n = 50).orderBy("a", "b")),
    // embedding-cosine near-dup: the exact pair set above the threshold
    // (the fifth dedup mode beside exact/MinHash/SimHash/n-gram Jaccard)
    "emb_near_dup" -> ((s, d) =>
      Similarity.thresholdPairs(T(s, d, "embeddings"), tau = 0.44)),
    // SemDeDup: deterministic under the seeded quantizer, so the removal
    // set is pinned (the ANN convention) while sim_ok is DERIVED in DuckDB
    // from the data — a removal without a genuine >= tau justifier fails
    // the gate even if the pinned ids matched
    "emb_semdedup" -> ((s, d) =>
      Similarity.semDedup(T(s, d, "embeddings"), tau = 0.44, cells = 8)
        .orderBy("vec_id")),
    // first-class corpus clustering: the IVF quantizer's assignment as the
    // product (cluster-aware mixing / quota sampling start here); oracle
    // derives the same quantizer + census in SQL
    "emb_kmeans" -> ((s, d) =>
      Similarity.kmeansClusters(T(s, d, "embeddings"), cells = 16)
        .orderBy("vec_id")),
    // cluster-balanced subsample: lowest perCluster vec_ids of every cell
    // via bounded per-partition heaps (no corpus-wide window on a k-value
    // key) — the diversity quota of a curated subset
    "emb_cluster_sample" -> ((s, d) =>
      Similarity.clusterBalancedSample(T(s, d, "embeddings"),
        perCluster = 8, cells = 16).orderBy("vec_id")),
    // contrastive negatives: coin-ordered non-neighbors per query (a
    // "random" negative inside the true top-20 would poison the loss)
    "emb_negatives" -> ((s, d) =>
      Similarity.negativeSamples(T(s, d, "embeddings"))
        .orderBy("q_id", "rank")),
    // semantic decontamination: corpus vectors within cosine 0.45 of any
    // benchmark vector (benchmark = the vec_id % 11 == 0 held-out split;
    // tau sits >= 3.8e-4 from every pairwise cosine at all three scales,
    // so cross-engine double rounding cannot flip a boundary row)
    "emb_decontaminate" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") % 11 =!= 0),
        emb.filter(col("vec_id") % 11 === 0), tau = 0.45)
        .orderBy("vec_id")
    }),
    // exact symmetric n-gram Jaccard pairs: recall-1.0 inverted-index
    // complement of the LSH row (df cap is the oracle-mirrored contract)
    "doc_near_dup_jaccard" -> ((s, d) =>
      Dedup.exactJaccardPairs(T(s, d, "documents"), threshold = 0.5, k = 4)
        .orderBy("a", "b")),
    // cross-source duplication matrix over the exact pair list: which
    // sources mirror each other / double-count in a mixture
    "doc_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlapMatrix(T(s, d, "documents"), threshold = 0.5, k = 4)
        .orderBy("src_a", "src_b")),
    // model-based quality filter: hashing-trick linear scorer (integer
    // weights — exact cross-engine sums), deterministic weight stub
    "doc_quality_model" -> ((s, d) =>
      TextAnalysis.modelQuality(T(s, d, "documents")).orderBy("doc_id")),
    // one-call corpus health report: tall (metric, value), exact integer
    // ratios only — the curator's first look at an unfamiliar lake
    "doc_corpus_report" -> ((s, d) =>
      TextAnalysis.corpusReport(T(s, d, "documents")).orderBy("metric"))
  )

  // ---- DuckDB oracles -------------------------------------------------------

  private val DISC_SQL =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  def oracleSql: Map[String, String] = baseOracles ++ autogenOracles

  private lazy val baseOracles: Map[String, String] = Map(
    "sparql_scan_filter" ->
      """SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS c, c_name AS name,
        | c_acctbal AS bal FROM customer WHERE c_acctbal > 5000 ORDER BY c""".stripMargin,
    "sparql_star_const" ->
      """SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS c, c_name AS name,
        | c_acctbal AS bal FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c""".stripMargin,
    "sparql_union" ->
      """SELECT * FROM (
        | SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS ent, c_name AS n FROM customer
        | UNION ALL
        | SELECT 'urn:g:supp:' || CAST(s_suppkey AS VARCHAR), s_name FROM supplier
        |) ORDER BY ent""".stripMargin,
    "sparql_join_chain" ->
      """SELECT 'urn:g:line:' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS l,
        | c_name AS cname, l_quantity AS qty
        |FROM customer JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' ORDER BY l""".stripMargin,
    "sparql_optional" ->
      """SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS c,
        | CASE WHEN o_orderkey IS NULL THEN NULL
        |      ELSE 'urn:g:order:' || CAST(o_orderkey AS VARCHAR) END AS o,
        | o_totalprice AS tp
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 200000) oo
        | ON oo.o_custkey = c_custkey
        |WHERE c_mktsegment = 'MACHINERY' ORDER BY c, o NULLS FIRST""".stripMargin,
    "sparql_distinct_mod" ->
      "SELECT DISTINCT c_mktsegment AS seg FROM customer ORDER BY seg LIMIT 3 OFFSET 1",
    "sparql_theta_str" ->
      """SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS c,
        | 'urn:g:supp:' || CAST(s_suppkey AS VARCHAR) AS s
        |FROM customer, supplier WHERE c_nationkey = s_nationkey ORDER BY c, s""".stripMargin,
    "sparql_ask" ->
      "SELECT EXISTS(SELECT 1 FROM customer WHERE c_mktsegment = 'BUILDING') AS ask",
    "sparql_construct" ->
      """SELECT '<urn:g:cust:' || CAST(c_custkey AS VARCHAR) || '>' AS s,
        | '<urn:g:label>' AS p, '"' || c_name || '"' AS o
        |FROM customer ORDER BY s""".stripMargin,
    "sparql_topk" ->
      """SELECT * FROM (
        | SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS ent, c_acctbal AS bal FROM customer
        | UNION ALL
        | SELECT 'urn:g:supp:' || CAST(s_suppkey AS VARCHAR), s_acctbal FROM supplier
        |) ORDER BY bal DESC NULLS LAST, ent LIMIT 20""".stripMargin,
    "sparql_agg_group" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status,
        | SUM(l_quantity) AS sum_qty, COUNT(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY flag, status""".stripMargin,
    "sparql_builtins" ->
      """SELECT 'urn:g:part:' || CAST(p_partkey AS VARCHAR) AS p, p_name AS pname
        |FROM part WHERE strpos(upper(p_name), 'RED') > 0 AND length(p_name) > 5
        |ORDER BY p""".stripMargin,
    "sparql_regex" ->
      """SELECT 'urn:g:part:' || CAST(p_partkey AS VARCHAR) AS p, p_type AS ptype
        |FROM part WHERE regexp_matches(p_type, '(?i)^eco') ORDER BY p""".stripMargin,
    "sparql_region_chain" ->
      """SELECT 'urn:g:supp:' || CAST(s_suppkey AS VARCHAR) AS s, s_name AS sname,
        | n_name AS nname
        |FROM supplier JOIN nation ON n_nationkey = s_nationkey
        | JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'ASIA' ORDER BY s""".stripMargin,

    "sparql_pruned_chain" ->
      """SELECT * FROM (
        | SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS ent, c_name AS ename,
        |        n_name AS nname
        | FROM customer JOIN nation ON n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n_regionkey WHERE r_name = 'ASIA'
        | UNION ALL
        | SELECT 'urn:g:supp:' || CAST(s_suppkey AS VARCHAR), s_name, n_name
        | FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |  JOIN region ON r_regionkey = n_regionkey WHERE r_name = 'ASIA'
        |) ORDER BY ent""".stripMargin,

    "autogen_join_chain" ->
      """SELECT 'urn:g:line:' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS l,
        | c_name AS cname, l_quantity AS qty
        |FROM customer JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' ORDER BY l""".stripMargin,
    "autogen_pruned_chain" ->
      """SELECT * FROM (
        | SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS ent, c_name AS ename,
        |        n_name AS nname
        | FROM customer JOIN nation ON n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n_regionkey WHERE r_name = 'ASIA'
        | UNION ALL
        | SELECT 'urn:g:supp:' || CAST(s_suppkey AS VARCHAR), s_name, n_name
        | FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |  JOIN region ON r_regionkey = n_regionkey WHERE r_name = 'ASIA'
        |) ORDER BY ent""".stripMargin,

    "sparql_minus" ->
      """SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS c FROM customer
        |WHERE NOT EXISTS(SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c""".stripMargin,
    "sparql_exists" ->
      """SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS c, c_name AS name
        |FROM customer
        |WHERE EXISTS(SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c""".stripMargin,
    "sparql_values" ->
      """SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS c, c_mktsegment AS seg
        |FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |ORDER BY c""".stripMargin,
    "sparql_agg_full" ->
      """SELECT l_returnflag AS flag, AVG(l_quantity) AS avg_qty,
        | MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty, COUNT(*) AS cnt,
        | string_agg(l_linestatus, '|' ORDER BY l_linestatus) AS statuses
        |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin,

    "sparql_path" ->
      """SELECT 'urn:g:supp:' || CAST(s_suppkey AS VARCHAR) AS s, s_name AS sname,
        | r_name AS rname
        |FROM supplier JOIN nation ON n_nationkey = s_nationkey
        | JOIN region ON r_regionkey = n_regionkey ORDER BY s""".stripMargin,

    "sparql_lang" ->
      """SELECT 'urn:g:doc:' || CAST(doc_id AS VARCHAR) AS d, text AS txt
        |FROM documents WHERE lower(lang) = 'en' ORDER BY d""".stripMargin,

    "sparql_having" ->
      """SELECT 'urn:g:cust:' || CAST(o_custkey AS VARCHAR) AS cust, COUNT(*) AS n
        |FROM orders GROUP BY 1 HAVING COUNT(*) > 12 ORDER BY cust""".stripMargin,

    "sparql_construct_typed" ->
      """SELECT DISTINCT * FROM (
        | SELECT '<urn:g:line:' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) || '>' AS s,
        |        '<urn:g:qty>' AS p,
        |        '"' || CAST(l_quantity AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#double>' AS o
        | FROM lineitem WHERE l_quantity > 45
        | UNION ALL
        | SELECT '<urn:g:line:' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) || '>',
        |        '<urn:g:ship>',
        |        '"' || CAST(l_shipdate AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#dateTime>'
        | FROM lineitem WHERE l_quantity > 45
        |) ORDER BY s, p""".stripMargin,

    "sparql_varpred" ->
      """SELECT * FROM (
        | SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p, 'urn:g:Customer' AS o
        |  FROM customer WHERE c_custkey = 1
        | UNION ALL SELECT 'urn:g:acctbal', CAST(c_acctbal AS VARCHAR) FROM customer WHERE c_custkey = 1
        | UNION ALL SELECT 'urn:g:mktsegment', c_mktsegment FROM customer WHERE c_custkey = 1
        | UNION ALL SELECT 'urn:g:name', c_name FROM customer WHERE c_custkey = 1
        | UNION ALL SELECT 'urn:g:nation', 'urn:g:nation:' || CAST(c_nationkey AS VARCHAR)
        |  FROM customer WHERE c_custkey = 1
        |) ORDER BY p, o""".stripMargin,

    "sparql_bind_in" ->
      """SELECT 'urn:g:line:' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS l,
        | l_extendedprice * (1 - l_discount) AS rev
        |FROM lineitem WHERE l_returnflag IN ('A', 'R') ORDER BY l, rev""".stripMargin,

    "sparql_group_expr" ->
      """SELECT CAST(date_part('month', l_shipdate) AS INTEGER) AS m,
        | CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 ORDER BY m""".stripMargin,
    "sparql_bnode" ->
      """SELECT s_name AS sname
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3' ORDER BY sname""".stripMargin,
    "sparql_agg_expr" ->
      """SELECT l_returnflag AS flag,
        | SUM(l_quantity) / COUNT(*) AS avg_qty,
        | SUM(l_quantity) + 1 AS plus
        |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin,
    "sparql_datefuncs" ->
      """SELECT 'urn:g:line:' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS l,
        | CAST(date_part('year', l_shipdate) AS INTEGER) AS y,
        | CAST(date_part('month', l_shipdate) AS INTEGER) AS m,
        | CAST(date_part('day', l_shipdate) AS INTEGER) AS dom,
        | 'Z' AS tz, 'PT0S' AS tzd
        |FROM lineitem WHERE date_part('month', l_shipdate) = 1
        |ORDER BY l, y, m, dom""".stripMargin,
    "sparql_strfuncs" ->
      """SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS c,
        | upper(substr(c_name, 1, 8)) AS prefix,
        | regexp_replace(c_name, 'Customer', 'C', 'g') AS short,
        | c_mktsegment || '-' || c_name AS tag,
        | CAST(length(c_name) AS INTEGER) AS len
        |FROM customer ORDER BY c""".stripMargin,

    "sparql_cq1" ->
      """SELECT 'urn:g:line:' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS l,
        | c_name AS cname, l_quantity AS qty, p_retailprice AS rp
        |FROM customer
        | JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | LEFT JOIN (SELECT * FROM part WHERE p_retailprice > 1500) pp
        |   ON pp.p_partkey = l_partkey
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY l, qty, rp NULLS FIRST""".stripMargin,

    "sparql_cq5_optional" ->
      """SELECT 'urn:g:order:' || CAST(a.o_orderkey AS VARCHAR) AS o,
        | a.o_orderdate AS od, b.o_totalprice AS tp, b.o_orderstatus AS st
        |FROM orders a LEFT JOIN
        | (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') b
        | ON b.o_orderkey = a.o_orderkey
        |ORDER BY o""".stripMargin,

    "sparql_describe" ->
      """SELECT * FROM (
        | SELECT '<urn:g:cust:1>' AS s,
        |        '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS p,
        |        '<urn:g:Customer>' AS o FROM customer WHERE c_custkey = 1
        | UNION ALL SELECT '<urn:g:cust:1>', '<urn:g:acctbal>',
        |   '"' || CAST(c_acctbal AS VARCHAR) || '"' FROM customer WHERE c_custkey = 1
        | UNION ALL SELECT '<urn:g:cust:1>', '<urn:g:mktsegment>',
        |   '"' || c_mktsegment || '"' FROM customer WHERE c_custkey = 1
        | UNION ALL SELECT '<urn:g:cust:1>', '<urn:g:name>',
        |   '"' || c_name || '"' FROM customer WHERE c_custkey = 1
        | UNION ALL SELECT '<urn:g:cust:1>', '<urn:g:nation>',
        |   '<urn:g:nation:' || CAST(c_nationkey AS VARCHAR) || '>'
        |   FROM customer WHERE c_custkey = 1
        |) ORDER BY p, o""".stripMargin,

    "sparql_hashfuncs" ->
      """SELECT 'urn:g:doc:' || CAST(doc_id AS VARCHAR) AS d, md5(source) AS h,
        | sha256(lang) AS h2,
        | CASE WHEN strpos(source, 'src') > 0
        |      THEN substr(source, strpos(source, 'src') + 3) ELSE '' END AS num,
        | CASE WHEN strpos(source, 'rc') > 0
        |      THEN substr(source, 1, strpos(source, 'rc') - 1) ELSE '' END AS pre
        |FROM documents ORDER BY d""".stripMargin,

    "sparql_subquery" ->
      """SELECT 'urn:g:cust:' || CAST(o_custkey AS VARCHAR) AS cust, n, c_name AS name
        |FROM (SELECT o_custkey, COUNT(*) AS n FROM orders
        |      GROUP BY 1 HAVING COUNT(*) > 14) agg
        |JOIN customer ON c_custkey = o_custkey ORDER BY cust""".stripMargin,

    "sparql_path_closure" ->
      """SELECT x, y FROM (
        | SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR) AS x,
        |        'urn:g:nation:' || CAST(c_nationkey AS VARCHAR) AS y FROM customer
        | UNION SELECT 'urn:g:supp:' || CAST(s_suppkey AS VARCHAR),
        |        'urn:g:nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
        | UNION SELECT 'urn:g:nation:' || CAST(n_nationkey AS VARCHAR),
        |        'urn:g:region:' || CAST(n_regionkey AS VARCHAR) FROM nation
        | UNION SELECT 'urn:g:cust:' || CAST(c_custkey AS VARCHAR),
        |        'urn:g:region:' || CAST(n_regionkey AS VARCHAR)
        |  FROM customer JOIN nation ON n_nationkey = c_nationkey
        | UNION SELECT 'urn:g:supp:' || CAST(s_suppkey AS VARCHAR),
        |        'urn:g:region:' || CAST(n_regionkey AS VARCHAR)
        |  FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |) ORDER BY x, y""".stripMargin,

    // deep-chain closure: recursive CTE over the same derived successor
    // edges — the oracle for the doubling code path
    "sparql_path_closure_deep" ->
      """WITH RECURSIVE k AS (
        |  SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 257),
        |e AS (SELECT x, y FROM (
        |  SELECT o_orderkey AS x,
        |         LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS y FROM k)
        |  WHERE y IS NOT NULL),
        |r(x, y) AS (
        |  SELECT x, y FROM e
        |  UNION
        |  SELECT r.x, e.y FROM r JOIN e ON e.x = r.y)
        |SELECT 'urn:g:order:' || CAST(x AS VARCHAR) AS x,
        |       'urn:g:order:' || CAST(y AS VARCHAR) AS y
        |FROM r ORDER BY x, y""".stripMargin,

    "sparql_varpred_star" ->
      """SELECT 'urn:g:cust:' || CAST(u.c_custkey AS VARCHAR) AS c, p, o FROM (
        | SELECT c_custkey, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
        |        'urn:g:Customer' AS o FROM customer
        | UNION ALL SELECT c_custkey, 'urn:g:acctbal', CAST(c_acctbal AS VARCHAR) FROM customer
        | UNION ALL SELECT c_custkey, 'urn:g:mktsegment', c_mktsegment FROM customer
        | UNION ALL SELECT c_custkey, 'urn:g:name', c_name FROM customer
        | UNION ALL SELECT c_custkey, 'urn:g:nation',
        |   'urn:g:nation:' || CAST(c_nationkey AS VARCHAR) FROM customer
        |) u JOIN customer cc ON cc.c_custkey = u.c_custkey
        |WHERE cc.c_mktsegment = 'AUTOMOBILE' ORDER BY c, p, o""".stripMargin,

    "sparql_having_distinct" ->
      """SELECT 'urn:g:order:' || CAST(l_orderkey AS VARCHAR) AS o,
        | COUNT(DISTINCT l_partkey) AS nparts
        |FROM lineitem GROUP BY 1 HAVING COUNT(DISTINCT l_partkey) > 5
        |ORDER BY o""".stripMargin,

    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
         | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
         | CAST(SUM($DISC_SQL) AS DOUBLE) AS sum_disc, COUNT(*) AS cnt
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_topk" ->
      s"""SELECT o_orderkey, CAST(SUM($DISC_SQL) AS DOUBLE) AS revenue
         |FROM customer JOIN orders ON o_custkey = c_custkey
         | JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY 1 ORDER BY revenue DESC NULLS LAST, o_orderkey LIMIT 10""".stripMargin,
    "q5_region_rev" ->
      s"""SELECT n_name, CAST(SUM($DISC_SQL) AS DOUBLE) AS revenue
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         | JOIN nation ON s_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA' GROUP BY 1 ORDER BY n_name""".stripMargin,
    "q_window_rank" ->
      """SELECT * FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_window_running" ->
      """SELECT user_id, event_id,
        | ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS seq,
        | COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) OVER (
        |   PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_purchases
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_stream_manifest" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT), 0)
        |    AS BIGINT) AS xor_digest FROM documents""".stripMargin,
    // file-source replay of the continuous fingerprint shares the batch
    // manifest oracle — byte identity across source classes
    "q_stream_file_manifest" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT), 0)
        |    AS BIGINT) AS xor_digest FROM documents""".stripMargin,
    "lake_manifest" ->
      """SELECT table_name, n_rows, xor_digest FROM (
        |  SELECT 'documents' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COALESCE(bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT), 0)
        |      AS BIGINT) AS xor_digest FROM documents
        |  UNION ALL SELECT 'events', CAST(COUNT(*) AS BIGINT),
        |    CAST(COALESCE(bit_xor(('0x' || substr(md5(props), 1, 15))::BIGINT), 0)
        |      AS BIGINT) FROM events
        |  UNION ALL SELECT 'orders', CAST(COUNT(*) AS BIGINT),
        |    CAST(COALESCE(bit_xor(('0x' || substr(md5(
        |        CAST(o_orderkey AS VARCHAR) || o_orderstatus), 1, 15))::BIGINT), 0)
        |      AS BIGINT) FROM orders)
        |ORDER BY table_name""".stripMargin,
    "lake_partition_manifest" ->
      """SELECT lang AS part, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT), 0)
        |    AS BIGINT) AS xor_digest
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_json_keys" ->
      """SELECT k AS key, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events, unnest(json_keys(props)) AS t(k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "lake_skew_report" ->
      """SELECT key, cnt, cnt * 1000 // total AS share_milli FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |    CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
        |  FROM events GROUP BY 1)
        |ORDER BY cnt DESC, key LIMIT 5""".stripMargin,
    "lake_profile" ->
      """SELECT col_name, n, n_null, n_distinct, min_s, max_s FROM (
        |  SELECT 'o_orderkey' AS col_name,
        |    CAST(COUNT(o_orderkey) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_s FROM orders
        |  UNION ALL SELECT 'o_custkey',
        |    CAST(COUNT(o_custkey) AS BIGINT),
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
        |    CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_orderstatus',
        |    CAST(COUNT(o_orderstatus) AS BIGINT),
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
        |    MIN(o_orderstatus), MAX(o_orderstatus) FROM orders
        |  UNION ALL SELECT 'o_orderpriority',
        |    CAST(COUNT(o_orderpriority) AS BIGINT),
        |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
        |    MIN(o_orderpriority), MAX(o_orderpriority) FROM orders)
        |ORDER BY col_name""".stripMargin,
    // the endpoint-probed catalog answers a 3-star region rollup: the
    // paged-HTTP federation must agree with the plain relational join
    "autogen_endpoint_join" ->
      """SELECT r_name AS rname, CAST(COUNT(*) AS BIGINT) AS ncust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the ambiguous-star row: ?n is typed by nothing but the probed link
    // ranges — the relational truth is the plain customer⋈nation rollup
    "autogen_endpoint_pruned" ->
      """SELECT n_name AS nname, CAST(COUNT(*) AS BIGINT) AS ncust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // approx profile contract: exact metrics recomputed; nd_ok TRUE means
    // the HLL++ sketch landed within max(5% of exact, 8) — DuckDB asserts
    // the claim shape (the sketch value itself is engine-specific)
    "lake_profile_approx" ->
      """SELECT col_name, n, n_null, true AS nd_ok, min_s, max_s FROM (
        |  SELECT 'o_orderkey' AS col_name,
        |    CAST(COUNT(o_orderkey) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_s FROM orders
        |  UNION ALL SELECT 'o_custkey',
        |    CAST(COUNT(o_custkey) AS BIGINT),
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_orderstatus',
        |    CAST(COUNT(o_orderstatus) AS BIGINT),
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    MIN(o_orderstatus), MAX(o_orderstatus) FROM orders
        |  UNION ALL SELECT 'o_orderpriority',
        |    CAST(COUNT(o_orderpriority) AS BIGINT),
        |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    MIN(o_orderpriority), MAX(o_orderpriority) FROM orders)
        |ORDER BY col_name""".stripMargin,
    "lake_integrity" ->
      """SELECT check_name, n_checked, n_violations FROM (
        |  SELECT 'pk_orders_orderkey' AS check_name,
        |    CAST(SUM(c) AS BIGINT) AS n_checked,
        |    CAST(COALESCE(SUM(c) FILTER (c > 1), 0) AS BIGINT) AS n_violations
        |  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
        |  UNION ALL SELECT 'fk_lineitem_orders',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(COUNT(*) FILTER (NOT EXISTS (SELECT 1 FROM orders o
        |      WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        |  FROM lineitem l
        |  UNION ALL SELECT 'fk_orders_customer',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(COUNT(*) FILTER (NOT EXISTS (SELECT 1 FROM customer c
        |      WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        |  FROM orders o)
        |ORDER BY check_name""".stripMargin,
    // MERGE = survivors (anti join) ∪ source
    "lake_merge_upsert" ->
      """WITH target AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice FROM orders),
        |src AS (
        |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |    o_totalprice + 100.0 AS o_totalprice
        |  FROM target WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice
        |  FROM target WHERE o_orderkey % 97 = 0)
        |SELECT * FROM (
        |  SELECT t.* FROM target t WHERE NOT EXISTS (
        |    SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey)
        |  UNION ALL SELECT * FROM src)
        |ORDER BY o_orderkey""".stripMargin,
    // CDC apply: drop every touched key, re-add the non-delete payloads
    "lake_cdc_apply" ->
      """WITH target AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice FROM orders),
        |touched AS (SELECT * FROM target WHERE o_orderkey % 7 = 0),
        |changes AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    'D' AS op FROM touched WHERE o_orderkey % 3 = 0
        |  UNION ALL SELECT o_orderkey, o_custkey, 'U',
        |    o_totalprice + 50.0, 'U' FROM touched WHERE o_orderkey % 3 = 1
        |  UNION ALL SELECT o_orderkey + 20000000, o_custkey, 'I',
        |    o_totalprice, 'I' FROM touched WHERE o_orderkey % 3 = 2)
        |SELECT * FROM (
        |  SELECT t.* FROM target t WHERE NOT EXISTS (
        |    SELECT 1 FROM changes c WHERE c.o_orderkey = t.o_orderkey)
        |  UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice FROM changes WHERE op <> 'D')
        |ORDER BY o_orderkey""".stripMargin,
    // SCD2: unchanged stay open, real changes close at ts=100 and open a
    // new version, no-ops (the %11-only keys) leave history untouched
    "lake_scd2" ->
      """WITH dim AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 50.0
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_acctbal FROM customer
        |  WHERE c_custkey % 13 = 0),
        |changed AS (
        |  SELECT d.c_custkey FROM dim d JOIN upd u USING (c_custkey)
        |  WHERE u.c_name IS DISTINCT FROM d.c_name
        |     OR u.c_acctbal IS DISTINCT FROM d.c_acctbal)
        |SELECT * FROM (
        |  SELECT d.c_custkey, d.c_name, d.c_acctbal,
        |    CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |  FROM dim d WHERE d.c_custkey NOT IN (SELECT c_custkey FROM changed)
        |  UNION ALL
        |  SELECT d.c_custkey, d.c_name, d.c_acctbal,
        |    CAST(0 AS BIGINT), CAST(100 AS BIGINT)
        |  FROM dim d WHERE d.c_custkey IN (SELECT c_custkey FROM changed)
        |  UNION ALL
        |  SELECT u.c_custkey, u.c_name, u.c_acctbal,
        |    CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
        |  FROM upd u WHERE u.c_custkey IN (SELECT c_custkey FROM changed)
        |     OR u.c_custkey NOT IN (SELECT c_custkey FROM dim))
        |ORDER BY c_custkey, valid_from""".stripMargin,
    // snapshot diff: full outer join, keep only I/U/D keys
    "lake_snapshot_diff" ->
      """WITH olds AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |    FROM orders),
        |news AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM olds WHERE o_orderkey % 17 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 30000000, 'I', o_totalprice FROM olds
        |  WHERE o_orderkey % 23 = 0)
        |SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'I'
        |       WHEN n.o_orderkey IS NULL THEN 'D'
        |       ELSE 'U' END AS change_type,
        |  o.o_orderstatus AS old_o_orderstatus,
        |  n.o_orderstatus AS new_o_orderstatus,
        |  o.o_totalprice AS old_o_totalprice,
        |  n.o_totalprice AS new_o_totalprice
        |FROM olds o FULL OUTER JOIN news n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |ORDER BY o_orderkey""".stripMargin,
    // integer PageRank, 3 unrolled damped iterations — integral division
    // makes every engine derive bit-identical micro-ranks
    "q_pagerank" ->
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |    CAST(o_custkey + 1000000 AS BIGINT) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
        |r1 AS (SELECT n.id, CAST(150000 + COALESCE(
        |    SUM((r.pr * 85) // (100 * od.d)), 0) AS BIGINT) AS pr
        |  FROM nodes n LEFT JOIN e ON e.dst = n.id
        |  LEFT JOIN r0 r ON r.id = e.src LEFT JOIN od ON od.src = e.src
        |  GROUP BY n.id),
        |r2 AS (SELECT n.id, CAST(150000 + COALESCE(
        |    SUM((r.pr * 85) // (100 * od.d)), 0) AS BIGINT) AS pr
        |  FROM nodes n LEFT JOIN e ON e.dst = n.id
        |  LEFT JOIN r1 r ON r.id = e.src LEFT JOIN od ON od.src = e.src
        |  GROUP BY n.id),
        |r3 AS (SELECT n.id, CAST(150000 + COALESCE(
        |    SUM((r.pr * 85) // (100 * od.d)), 0) AS BIGINT) AS pr
        |  FROM nodes n LEFT JOIN e ON e.dst = n.id
        |  LEFT JOIN r2 r ON r.id = e.src LEFT JOIN od ON od.src = e.src
        |  GROUP BY n.id)
        |SELECT id, pr AS rank_micro FROM r3
        |ORDER BY pr DESC, id LIMIT 100""".stripMargin,
    // ordered 2-path triangle enumeration over the capped basket
    // projection; each triangle counted once, exploded to its 3 corners
    "q_triangles" ->
      """WITH bip AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS member
        |  FROM lineitem WHERE l_partkey % 2 = 0),
        |ok AS (SELECT b.grp, b.member FROM bip b
        |  JOIN (SELECT grp FROM bip GROUP BY grp HAVING COUNT(*) <= 8) g
        |  USING (grp)),
        |edges AS (SELECT DISTINCT l.member AS a, r.member AS b
        |  FROM ok l JOIN ok r ON l.grp = r.grp AND l.member < r.member),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM edges e1 JOIN edges e2 ON e1.b = e2.a
        |  JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b),
        |corners AS (SELECT x AS id FROM tri
        |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles FROM corners
        |GROUP BY id ORDER BY id""".stripMargin,
    // min reachable id per node via recursive closure over the same edges
    "q_components" ->
      """WITH RECURSIVE bip AS (SELECT DISTINCT o_custkey AS grp,
        |    l_suppkey AS member
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ok AS (SELECT b.grp, b.member FROM bip b
        |  JOIN (SELECT grp FROM bip GROUP BY grp HAVING COUNT(*) <= 40) g
        |  USING (grp)),
        |pairs AS (SELECT DISTINCT l.member AS a, r.member AS b
        |  FROM ok l JOIN ok r ON l.grp = r.grp AND l.member < r.member),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (SELECT a AS x, b AS y FROM edges
        |  UNION SELECT r.x, e.b AS y FROM reach r JOIN edges e ON e.a = r.y)
        |SELECT CAST(x AS BIGINT) AS id,
        |  CAST(least(x, MIN(y)) AS BIGINT) AS component
        |FROM reach GROUP BY x ORDER BY id""".stripMargin,
    // last-op-per-key: the max-seq row wins (row_number twin of max_by)
    "lake_compact_log" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice FROM orders WHERE o_orderkey % 5 = 0),
        |log AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    'I' AS op, CAST(1 AS BIGINT) AS seq FROM base
        |  UNION ALL SELECT o_orderkey, o_custkey, 'U',
        |    o_totalprice + 5.0, 'U', 2 FROM base WHERE o_orderkey % 10 = 0
        |  UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice, 'D', 3 FROM base WHERE o_orderkey % 20 = 0)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, op
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |    ORDER BY seq DESC) AS rn FROM log)
        |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,
    // as-of 50 = the pre-batch dim; as-of 150 = the post-batch snapshot
    "lake_scd2_asof" ->
      """WITH dim AS (SELECT c_custkey, c_name, c_acctbal FROM customer)
        |SELECT c_custkey, c_name, c_acctbal, 'before' AS snap FROM dim
        |UNION ALL
        |SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 50.0
        |       ELSE c_acctbal END AS c_acctbal, 'after' FROM dim
        |UNION ALL
        |SELECT c_custkey + 1000000, c_name, c_acctbal, 'after' FROM dim
        |WHERE c_custkey % 13 = 0
        |ORDER BY snap, c_custkey""".stripMargin,
    // the compacted lake must be indistinguishable from the table
    "lake_compact_files" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // the COMMITTED table: takedowns (doc_id%7=0) gone and revisions
    // (doc_id%5=0) applied across BOTH partitions at once
    "lake_snapshot" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'revised' ELSE source END AS source,
        |  CAST(doc_id % 2 AS INTEGER) AS p
        |FROM documents WHERE doc_id % 7 <> 0 ORDER BY doc_id""".stripMargin,
    // asOf the pre-change snapshot: the ORIGINAL table, untouched
    "lake_snapshot_timetravel" ->
      """SELECT doc_id, lang, source, CAST(doc_id % 2 AS INTEGER) AS p
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the widened table: even doc_ids carry n_chars (the evolved
    // partition), odd ones null-fill it (their files predate the column)
    "lake_snapshot_evolve" ->
      """SELECT doc_id, lang, CAST(doc_id % 2 AS INTEGER) AS p,
        |  CASE WHEN doc_id % 2 = 0 THEN n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // ANSI MERGE semantics over the partitioned lake: key-matched rows
    // replaced by the delta, unmatched inserted, the rest survive
    "lake_snapshot_merge" ->
      """WITH delta AS (
        |  SELECT doc_id, lang, 'revised' AS source,
        |    CAST(doc_id % 3 AS INTEGER) AS p
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, 'xx', 'new',
        |    CAST((doc_id + 10000000) % 3 AS INTEGER)
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT doc_id, lang, source, CAST(doc_id % 3 AS INTEGER) AS p
        |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM delta)
        |UNION ALL SELECT doc_id, lang, source, p FROM delta
        |ORDER BY doc_id""".stripMargin,
    // file-skipped read ≡ plain filter over the whole table (the skip
    // layer is semantically invisible; the spec pins that files WERE
    // skipped)
    "lake_snapshot_stats" ->
      """SELECT doc_id, lang, n_chars, CAST(doc_id % 2 AS INTEGER) AS p
        |FROM documents
        |WHERE doc_id >= 0
        |  AND doc_id <= (SELECT CAST(FLOOR(MAX(doc_id) / 4) AS BIGINT)
        |                 FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // ANSI DELETE semantics: rows where the predicate is TRUE vanish
    "lake_snapshot_delete" ->
      """SELECT doc_id, lang, source, CAST(doc_id % 3 AS INTEGER) AS p
        |FROM documents
        |WHERE NOT (doc_id % 7 = 0 OR lang = 'zh')
        |ORDER BY doc_id""".stripMargin,
    // ANSI UPDATE semantics: SET against the OLD row, others untouched
    "lake_snapshot_update" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'redacted' ELSE source END
        |    AS source,
        |  CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000 ELSE n_chars END
        |    AS n_chars,
        |  CAST(doc_id % 3 AS INTEGER) AS p
        |FROM documents ORDER BY doc_id""".stripMargin,
    // rollback restores snapshot 1's content as CURRENT: original table
    "lake_snapshot_rollback" ->
      """SELECT doc_id, lang, source, CAST(doc_id % 2 AS INTEGER) AS p
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the branch's pending set = the same merged+deleted truth as the
    // in-lineage changes row (the pipeline ran on a branch instead)
    "lake_snapshot_branch_diff" ->
      """WITH old AS (
        |  SELECT doc_id, lang, source, CAST(doc_id % 3 AS INTEGER) AS p
        |  FROM documents),
        |merged AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 10 = 0 THEN 'revised' ELSE source END
        |      AS source,
        |    CAST(doc_id % 3 AS INTEGER) AS p
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, 'xx', 'new',
        |    CAST((doc_id + 10000000) % 3 AS INTEGER)
        |  FROM documents WHERE doc_id % 13 = 0),
        |new AS (SELECT * FROM merged WHERE doc_id % 11 <> 3),
        |j AS (
        |  SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'I'
        |         WHEN n.doc_id IS NULL THEN 'D'
        |         WHEN o.lang IS NOT DISTINCT FROM n.lang
        |          AND o.source IS NOT DISTINCT FROM n.source
        |          AND o.p IS NOT DISTINCT FROM n.p THEN NULL
        |         ELSE 'U' END AS change_type,
        |    o.lang AS old_lang, n.lang AS new_lang,
        |    o.source AS old_source, n.source AS new_source,
        |    o.p AS old_p, n.p AS new_p
        |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
        |SELECT * FROM j WHERE change_type IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    // sharded manifests answer identically to plain ones
    "lake_snapshot_sharded" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 10 = 0 THEN 'revised' ELSE source END
        |    AS source,
        |  CAST(doc_id % 3 AS INTEGER) AS p
        |FROM documents WHERE doc_id % 11 <> 3
        |ORDER BY doc_id""".stripMargin,
    // the same pipeline routed through the HTTP conditional-PUT
    // provider on an object-store scheme must land on the same truth
    "lake_snapshot_cas_http" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 10 = 0 THEN 'revised' ELSE source END
        |    AS source,
        |  CAST(doc_id % 3 AS INTEGER) AS p
        |FROM documents WHERE doc_id % 11 <> 3
        |ORDER BY doc_id""".stripMargin,
    // the maintained aggregate equals a full recompute of the final
    // state: %10 keys moved to lang 'zz' (group move), %11==3 deleted
    "lake_ivm_agg" ->
      """WITH fin AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN 'zz' ELSE lang END AS lang,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM documents WHERE doc_id % 11 <> 3)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(len) AS BIGINT) AS sum_len
        |FROM fin GROUP BY lang ORDER BY lang""".stripMargin,
    // the streaming maintainer lands on the same truth
    "q_stream_lake_ivm" ->
      """WITH fin AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN 'zz' ELSE lang END AS lang,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM documents WHERE doc_id % 11 <> 3)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(len) AS BIGINT) AS sum_len
        |FROM fin GROUP BY lang ORDER BY lang""".stripMargin,
    // MIN/MAX maintenance: epoch 2 deletes every lang's max-length rows
    // (ties included), epoch 3 moves every lang's remaining min rows to
    // lang 'zz'; the maintained table equals the final recompute
    "lake_ivm_minmax" ->
      """WITH v1 AS (
        |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS len
        |  FROM documents),
        |v2 AS (
        |  SELECT a.* FROM v1 a
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM (SELECT lang, max(len) AS m FROM v1
        |                   GROUP BY lang) b
        |    WHERE a.lang = b.lang AND a.len = b.m)),
        |mins AS (SELECT lang, min(len) AS m FROM v2 GROUP BY lang),
        |v3 AS (
        |  SELECT v2.doc_id,
        |    CASE WHEN v2.len = mins.m THEN 'zz' ELSE v2.lang END AS lang,
        |    v2.len
        |  FROM v2 LEFT JOIN mins ON v2.lang = mins.lang)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(len) AS BIGINT) AS sum_len,
        |  CAST(min(len) AS BIGINT) AS min_len,
        |  CAST(max(len) AS BIGINT) AS max_len
        |FROM v3 GROUP BY lang ORDER BY lang""".stripMargin,
    // rebase + fast-forward: main's disjoint fix survives, the branch's
    // merged (%10==0 → 'revised'), inserted (%13==0 keys +10M) and
    // deleted (%11==3) intent replays on top
    "lake_snapshot_rebase" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 10 = 0 THEN 'revised'
        |       WHEN doc_id % 10 = 7 AND doc_id % 11 <> 3 THEN 'mainfix'
        |       ELSE source END AS source,
        |  CAST(doc_id % 3 AS INTEGER) AS p
        |FROM documents WHERE doc_id % 11 <> 3
        |UNION ALL
        |SELECT doc_id + 10000000, 'xx', 'new',
        |  CAST((doc_id + 10000000) % 3 AS INTEGER)
        |FROM documents
        |WHERE doc_id % 13 = 0 AND (doc_id + 10000000) % 11 <> 3
        |ORDER BY doc_id""".stripMargin,
    // I/U/D between epochs 1 and 3 (merge then delete), old_/new_ values
    "lake_snapshot_changes" ->
      """WITH old AS (
        |  SELECT doc_id, lang, source, CAST(doc_id % 3 AS INTEGER) AS p
        |  FROM documents),
        |merged AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 10 = 0 THEN 'revised' ELSE source END
        |      AS source,
        |    CAST(doc_id % 3 AS INTEGER) AS p
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, 'xx', 'new',
        |    CAST((doc_id + 10000000) % 3 AS INTEGER)
        |  FROM documents WHERE doc_id % 13 = 0),
        |new AS (SELECT * FROM merged WHERE doc_id % 11 <> 3),
        |j AS (
        |  SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'I'
        |         WHEN n.doc_id IS NULL THEN 'D'
        |         WHEN o.lang IS NOT DISTINCT FROM n.lang
        |          AND o.source IS NOT DISTINCT FROM n.source
        |          AND o.p IS NOT DISTINCT FROM n.p THEN NULL
        |         ELSE 'U' END AS change_type,
        |    o.lang AS old_lang, n.lang AS new_lang,
        |    o.source AS old_source, n.source AS new_source,
        |    o.p AS old_p, n.p AS new_p
        |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
        |SELECT * FROM j WHERE change_type IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    // a layout rewrite is semantically invisible: same table
    "lake_snapshot_repartition" ->
      """SELECT doc_id, lang, source, CAST(doc_id % 3 AS INTEGER) AS p
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the tagged epoch survives GC: the ORIGINAL table, untouched
    "lake_snapshot_tag" ->
      """SELECT doc_id, lang, source, CAST(doc_id % 2 AS INTEGER) AS p
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the fast-forwarded branch IS the takedown table
    "lake_snapshot_branch" ->
      """SELECT doc_id, lang, source, CAST(doc_id % 2 AS INTEGER) AS p
        |FROM documents WHERE doc_id % 7 <> 0
        |ORDER BY doc_id""".stripMargin,
    // the published stage IS the audited takedown
    "lake_snapshot_wap" ->
      """SELECT doc_id, lang, source, CAST(doc_id % 2 AS INTEGER) AS p
        |FROM documents WHERE doc_id % 7 <> 0
        |ORDER BY doc_id""".stripMargin,
    // engine over the lake's CURRENT snapshot: the takedown pass applied
    "sparql_lake_snapshot" ->
      """SELECT 'urn:g:doc:' || CAST(doc_id AS VARCHAR) AS d,
        |  source AS src, lang
        |FROM documents WHERE doc_id % 7 <> 0 ORDER BY d""".stripMargin,
    // the tag resolves to epoch 1: the ORIGINAL table, by stable name
    "sparql_lake_snapshot_tag" ->
      """SELECT 'urn:g:doc:' || CAST(doc_id AS VARCHAR) AS d,
        |  source AS src, lang
        |FROM documents ORDER BY d""".stripMargin,
    // engine pinned to epoch 1: the ORIGINAL table, untouched
    "sparql_lake_snapshot_timetravel" ->
      """SELECT 'urn:g:doc:' || CAST(doc_id AS VARCHAR) AS d,
        |  source AS src, lang
        |FROM documents ORDER BY d""".stripMargin,
    // skipped read ≡ plain filter: the FileIndex may drop files, the
    // ANSWER may not change
    "sparql_lake_snapshot_filtered" ->
      """SELECT 'urn:g:doc:' || CAST(doc_id AS VARCHAR) AS d,
        |  source AS src, lang
        |FROM documents WHERE doc_id % 7 <> 0 AND lang = 'en'
        |ORDER BY d""".stripMargin,
    "lake_snapshot_autoskip" ->
      """SELECT doc_id, lang, n_chars, CAST(doc_id % 2 AS INTEGER) AS p
        |FROM documents
        |WHERE doc_id >= 0
        |  AND doc_id <= (SELECT CAST(FLOOR(MAX(doc_id) / 4) AS BIGINT)
        |                 FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // bloom-skipped point lookup ≡ plain filter (the skip layer is
    // semantically invisible; false positives only cost a read)
    "lake_snapshot_bloom" ->
      """SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS uid
        |FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) = md5('42')
        |ORDER BY doc_id""".stripMargin,
    // probed-catalog twin of sparql_lake_snapshot: same current-epoch truth
    "autogen_lake_snapshot" ->
      """SELECT 'urn:g:doc:' || CAST(doc_id AS VARCHAR) AS d,
        |  source AS src, lang
        |FROM documents WHERE doc_id % 7 <> 0 ORDER BY d""".stripMargin,
    // the z-order rewrite is content-preserving: a 2-d box over the
    // optimized lake ≡ the same box over the plain table
    "lake_snapshot_zorder" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id >= 0
        |  AND doc_id <= (SELECT CAST(FLOOR(MAX(doc_id) / 4) AS BIGINT)
        |                 FROM documents)
        |  AND n_chars <= 300
        |ORDER BY doc_id""".stripMargin,
    // brute-force edit-distance truth: the blocked join must find exactly
    // the pairs the full quadratic scan finds
    "q_fuzzy_join" ->
      """WITH h AS (SELECT doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 10) AS hx FROM documents),
        |l AS (SELECT doc_id AS id_l, hx AS s_l FROM h),
        |r AS (SELECT doc_id + 10000000 AS id_r,
        |    substr(hx, 1, CAST(doc_id % 9 AS INTEGER)) ||
        |    substr(hx, CAST(doc_id % 9 AS INTEGER) + 2) AS s_r
        |  FROM h)
        |SELECT id_l, id_r, CAST(levenshtein(s_l, s_r) AS INTEGER) AS dist
        |FROM l, r
        |WHERE abs(length(s_l) - length(s_r)) <= 1
        |  AND levenshtein(s_l, s_r) <= 1
        |ORDER BY id_l, id_r""".stripMargin,
    // match graph from the brute pairs, min reachable id per record,
    // singletons pad with their own id
    "q_entity_resolution" ->
      """WITH RECURSIVE h AS (SELECT doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 10) AS hx FROM documents),
        |recs AS (SELECT doc_id AS id, hx AS s FROM h
        |  UNION ALL SELECT doc_id + 10000000,
        |    substr(hx, 1, CAST(doc_id % 9 AS INTEGER)) ||
        |    substr(hx, CAST(doc_id % 9 AS INTEGER) + 2) FROM h),
        |pairs AS (SELECT x.id AS a, y.id AS b FROM recs x, recs y
        |  WHERE x.id < y.id AND abs(length(x.s) - length(y.s)) <= 1
        |    AND levenshtein(x.s, y.s) <= 1),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (SELECT a AS x, b AS y FROM edges
        |  UNION SELECT r.x, e.b FROM reach r JOIN edges e ON e.a = r.y),
        |canon AS (SELECT x AS id, least(x, MIN(y)) AS entity_id
        |  FROM reach GROUP BY x)
        |SELECT r.id, CAST(COALESCE(c.entity_id, r.id) AS BIGINT) AS entity_id
        |FROM recs r LEFT JOIN canon c USING (id) ORDER BY r.id""".stripMargin,
    // multi-pass truth: fuzzy pairs UNION exact-key pairs, one closure
    "q_entity_resolution_multi" ->
      """WITH RECURSIVE h AS (SELECT doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 10) AS hx FROM documents),
        |recs AS (SELECT doc_id AS id, hx AS s,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN 'k' || CAST(doc_id % 7 AS VARCHAR) END AS xkey FROM h
        |  UNION ALL SELECT doc_id + 10000000,
        |    substr(hx, 1, CAST(doc_id % 9 AS INTEGER)) ||
        |    substr(hx, CAST(doc_id % 9 AS INTEGER) + 2), NULL FROM h),
        |fpairs AS (SELECT x.id AS a, y.id AS b FROM recs x, recs y
        |  WHERE x.id < y.id AND abs(length(x.s) - length(y.s)) <= 1
        |    AND levenshtein(x.s, y.s) <= 1),
        |xpairs AS (SELECT x.id AS a, y.id AS b FROM recs x, recs y
        |  WHERE x.id < y.id AND x.xkey IS NOT NULL AND x.xkey = y.xkey),
        |edges AS (SELECT a, b FROM fpairs UNION SELECT b, a FROM fpairs
        |  UNION SELECT a, b FROM xpairs UNION SELECT b, a FROM xpairs),
        |reach AS (SELECT a AS x, b AS y FROM edges
        |  UNION SELECT r.x, e.b FROM reach r JOIN edges e ON e.a = r.y),
        |canon AS (SELECT x AS id, least(x, MIN(y)) AS entity_id
        |  FROM reach GROUP BY x)
        |SELECT r.id, CAST(COALESCE(c.entity_id, r.id) AS BIGINT) AS entity_id
        |FROM recs r LEFT JOIN canon c USING (id) ORDER BY r.id""".stripMargin,
    // the incremental replay must label exactly like the one-shot run —
    // the oracle is q_entity_resolution's verbatim
    "q_entity_resolution_incremental" ->
      """WITH RECURSIVE h AS (SELECT doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 10) AS hx FROM documents),
        |recs AS (SELECT doc_id AS id, hx AS s FROM h
        |  UNION ALL SELECT doc_id + 10000000,
        |    substr(hx, 1, CAST(doc_id % 9 AS INTEGER)) ||
        |    substr(hx, CAST(doc_id % 9 AS INTEGER) + 2) FROM h),
        |pairs AS (SELECT x.id AS a, y.id AS b FROM recs x, recs y
        |  WHERE x.id < y.id AND abs(length(x.s) - length(y.s)) <= 1
        |    AND levenshtein(x.s, y.s) <= 1),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (SELECT a AS x, b AS y FROM edges
        |  UNION SELECT r.x, e.b FROM reach r JOIN edges e ON e.a = r.y),
        |canon AS (SELECT x AS id, least(x, MIN(y)) AS entity_id
        |  FROM reach GROUP BY x)
        |SELECT r.id, CAST(COALESCE(c.entity_id, r.id) AS BIGINT) AS entity_id
        |FROM recs r LEFT JOIN canon c USING (id) ORDER BY r.id""".stripMargin,
    // cosine ER truth: the same integer cosine pipeline as a SELF-join
    // (df and N double — ratios unchanged), τ-pairs → recursive closure
    "q_entity_resolution_cosine" ->
      """WITH RECURSIVE docsrc AS (SELECT doc_id,
        |    'e' || CAST(doc_id % 65521 AS VARCHAR) ||
        |    ' g' || CAST(doc_id % 32749 AS VARCHAR) AS eg,
        |    doc_id % 16381 AS h0,
        |    (doc_id + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |      % 16381 AS h1
        |  FROM documents),
        |recs AS (SELECT doc_id AS id,
        |    eg || ' h' || CAST(h0 AS VARCHAR) AS nm FROM docsrc
        |  UNION ALL SELECT doc_id + 10000000,
        |    eg || ' h' || CAST(h1 AS VARCHAR) FROM docsrc),
        |tt AS (SELECT DISTINCT id, t FROM (SELECT id,
        |    unnest(string_split_regex(lower(nm), '[^a-z0-9]+')) AS t
        |  FROM recs) WHERE t <> ''),
        |dfs AS (SELECT t, 2*COUNT(*) AS df FROM tt GROUP BY t),
        |nn AS (SELECT 2*COUNT(*) AS n FROM (SELECT DISTINCT id FROM tt)),
        |w AS (SELECT t, LEAST(1000000, (n * 1000) // df) AS w FROM dfs, nn),
        |nrm AS (SELECT id, SUM(w*w) AS nq FROM tt JOIN w USING (t)
        |  GROUP BY 1),
        |dots AS (SELECT a.id AS ia, b.id AS ib, SUM(w.w*w.w) AS dot
        |  FROM tt a JOIN tt b ON a.t = b.t AND a.id < b.id
        |  JOIN w ON w.t = a.t GROUP BY 1, 2),
        |pairs AS (SELECT ia AS a, ib AS b FROM dots d
        |  JOIN nrm x ON x.id = d.ia JOIN nrm y ON y.id = d.ib
        |  WHERE CAST(dot AS HUGEINT)*dot*1000000 >=
        |        CAST(800 AS HUGEINT)*800*x.nq*y.nq),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (SELECT a AS x, b AS y FROM edges
        |  UNION SELECT r.x, e.b FROM reach r JOIN edges e ON e.a = r.y),
        |canon AS (SELECT x AS id, least(x, MIN(y)) AS entity_id
        |  FROM reach GROUP BY x)
        |SELECT r.id, CAST(COALESCE(c.entity_id, r.id) AS BIGINT) AS entity_id
        |FROM recs r LEFT JOIN canon c USING (id) ORDER BY r.id""".stripMargin,
    // the full integer cosine pipeline re-derived: tokenize, union df,
    // capped integer idf weights, norms, token-join dot, HUGEINT test
    "q_cosine_join" ->
      """WITH l0 AS (SELECT doc_id AS id_l,
        |    'e' || CAST(doc_id % 65521 AS VARCHAR) ||
        |    ' g' || CAST(doc_id % 32749 AS VARCHAR) ||
        |    ' h' || CAST(doc_id % 16381 AS VARCHAR) AS nm
        |  FROM documents),
        |r0 AS (SELECT doc_id + 10000000 AS id_r,
        |    'e' || CAST(doc_id % 65521 AS VARCHAR) ||
        |    ' g' || CAST(doc_id % 32749 AS VARCHAR) ||
        |    ' h' || CAST((doc_id + CASE WHEN doc_id % 3 = 0
        |      THEN 1 ELSE 0 END) % 16381 AS VARCHAR) AS nm
        |  FROM documents),
        |lt AS (SELECT DISTINCT id_l, t FROM (SELECT id_l,
        |    unnest(string_split_regex(lower(nm), '[^a-z0-9]+')) AS t
        |  FROM l0) WHERE t <> ''),
        |rt AS (SELECT DISTINCT id_r, t FROM (SELECT id_r,
        |    unnest(string_split_regex(lower(nm), '[^a-z0-9]+')) AS t
        |  FROM r0) WHERE t <> ''),
        |u AS (SELECT id_l AS rid, 'l' AS sd, t FROM lt
        |  UNION ALL SELECT id_r, 'r', t FROM rt),
        |dfs AS (SELECT t, COUNT(*) AS df FROM u GROUP BY t),
        |nn AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT sd, rid FROM u)),
        |w AS (SELECT t, LEAST(1000000, (n * 1000) // df) AS w FROM dfs, nn),
        |nl AS (SELECT id_l, SUM(w*w) AS norm_l FROM lt JOIN w USING (t)
        |  GROUP BY 1),
        |nr AS (SELECT id_r, SUM(w*w) AS norm_r FROM rt JOIN w USING (t)
        |  GROUP BY 1),
        |dots AS (SELECT id_l, id_r, SUM(w*w) AS dot
        |  FROM lt JOIN rt USING (t) JOIN w USING (t) GROUP BY 1, 2)
        |SELECT d.id_l, d.id_r, CAST(dot AS BIGINT) AS dot_w2,
        |  CAST(norm_l AS BIGINT) AS norm_l, CAST(norm_r AS BIGINT) AS norm_r
        |FROM dots d JOIN nl USING (id_l) JOIN nr USING (id_r)
        |WHERE CAST(dot AS HUGEINT) * dot * 1000000 >=
        |      CAST(800 AS HUGEINT) * 800 * norm_l * norm_r
        |ORDER BY id_l, id_r""".stripMargin,
    // closure (multi-pass edges) + survivorship re-derived: modal name
    // per entity, ties to the larger, plus member counts
    "q_entity_golden" ->
      """WITH RECURSIVE h AS (SELECT doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 10) AS hx FROM documents),
        |recs AS (SELECT doc_id AS id, hx AS s,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN 'k' || CAST(doc_id % 7 AS VARCHAR) END AS xkey FROM h
        |  UNION ALL SELECT doc_id + 10000000,
        |    substr(hx, 1, CAST(doc_id % 9 AS INTEGER)) ||
        |    substr(hx, CAST(doc_id % 9 AS INTEGER) + 2), NULL FROM h),
        |fpairs AS (SELECT x.id AS a, y.id AS b FROM recs x, recs y
        |  WHERE x.id < y.id AND abs(length(x.s) - length(y.s)) <= 1
        |    AND levenshtein(x.s, y.s) <= 1),
        |xpairs AS (SELECT x.id AS a, y.id AS b FROM recs x, recs y
        |  WHERE x.id < y.id AND x.xkey IS NOT NULL AND x.xkey = y.xkey),
        |edges AS (SELECT a, b FROM fpairs UNION SELECT b, a FROM fpairs
        |  UNION SELECT a, b FROM xpairs UNION SELECT b, a FROM xpairs),
        |reach AS (SELECT a AS x, b AS y FROM edges
        |  UNION SELECT r.x, e.b FROM reach r JOIN edges e ON e.a = r.y),
        |canon AS (SELECT x AS id, least(x, MIN(y)) AS entity_id
        |  FROM reach GROUP BY x),
        |labeled AS (SELECT r.id, r.s,
        |    CAST(COALESCE(c.entity_id, r.id) AS BIGINT) AS entity_id
        |  FROM recs r LEFT JOIN canon c USING (id)),
        |cnts AS (SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_records
        |  FROM labeled GROUP BY 1),
        |nm AS (SELECT entity_id, s AS name FROM (
        |  SELECT entity_id, s,
        |    ROW_NUMBER() OVER (PARTITION BY entity_id
        |      ORDER BY COUNT(*) DESC, s DESC) AS rn
        |  FROM labeled GROUP BY entity_id, s) WHERE rn = 1)
        |SELECT c.entity_id, c.n_records, nm.name
        |FROM cnts c JOIN nm USING (entity_id)
        |ORDER BY c.entity_id""".stripMargin,
    // survivorship: per attribute the modal non-null value, ties to the
    // largest (deterministic on any engine)
    "q_golden_records" ->
      """WITH recs AS (SELECT doc_id % 97 AS entity, lang, source
        |  FROM documents),
        |lc AS (SELECT entity, lang, COUNT(*) AS n FROM recs
        |  WHERE lang IS NOT NULL GROUP BY 1, 2),
        |lw AS (SELECT entity, lang FROM (SELECT entity, lang,
        |    ROW_NUMBER() OVER (PARTITION BY entity
        |      ORDER BY n DESC, lang DESC) AS rn FROM lc) WHERE rn = 1),
        |sc AS (SELECT entity, source, COUNT(*) AS n FROM recs
        |  WHERE source IS NOT NULL GROUP BY 1, 2),
        |sw AS (SELECT entity, source FROM (SELECT entity, source,
        |    ROW_NUMBER() OVER (PARTITION BY entity
        |      ORDER BY n DESC, source DESC) AS rn FROM sc) WHERE rn = 1)
        |SELECT e.entity, lw.lang, sw.source
        |FROM (SELECT DISTINCT entity FROM recs) e
        |LEFT JOIN lw USING (entity) LEFT JOIN sw USING (entity)
        |ORDER BY e.entity""".stripMargin,
    // md5(seed:id) keys + hex-nibble shard arithmetic, first 200 in order
    "doc_seeded_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |    md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, shuffle_key,
        |  CAST(((strpos('0123456789abcdef', substr(shuffle_key, 1, 1)) - 1)
        |    * 16 + strpos('0123456789abcdef', substr(shuffle_key, 2, 1))
        |    - 1) % 16 AS INTEGER) AS shard
        |FROM k ORDER BY shuffle_key LIMIT 200""".stripMargin,
    // the partitioned lake must be indistinguishable from the table
    "doc_partitioned_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // 16 disjoint-bit Morton terms OR'd via SUM over a lateral range
    "q_zorder" ->
      """WITH e AS (SELECT event_id, user_id & 65535 AS a,
        |    (epoch_ns(ts) // 3600000000000) & 65535 AS b FROM events)
        |SELECT event_id, CAST(SUM(
        |    (((a >> i) & 1) << (2*i+1)) | (((b >> i) & 1) << (2*i))
        |  ) AS BIGINT) AS z
        |FROM e, range(16) t(i)
        |GROUP BY event_id ORDER BY event_id""".stripMargin,
    // same hourly histogram → integer median → 2× flag, in SQL
    "q_events_anomaly" ->
      """WITH hourly AS (SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |hist AS (SELECT event_type, cnt AS v, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM hourly GROUP BY 1, 2),
        |c AS (SELECT event_type, v,
        |  SUM(k) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |  SUM(k) OVER (PARTITION BY event_type) AS n FROM hist),
        |med AS (SELECT event_type, MIN(v) AS med FROM c
        |  WHERE cum * 2 >= n GROUP BY 1)
        |SELECT hourly.event_type, h, cnt, (cnt >= med * 2) AS is_spike
        |FROM hourly JOIN med USING (event_type)
        |ORDER BY event_type, h""".stripMargin,
    // med and MAD both as integer histogram medians, flag past med+3·MAD
    "q_events_mad" ->
      """WITH hourly AS (SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |h1 AS (SELECT event_type, cnt AS v, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM hourly GROUP BY 1, 2),
        |c1 AS (SELECT event_type, v,
        |  SUM(k) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |  SUM(k) OVER (PARTITION BY event_type) AS n FROM h1),
        |med AS (SELECT event_type, MIN(v) AS med FROM c1
        |  WHERE cum * 2 >= n GROUP BY 1),
        |dev AS (SELECT hourly.*, med, abs(cnt - med) AS absdev
        |  FROM hourly JOIN med USING (event_type)),
        |h2 AS (SELECT event_type, absdev AS v, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM dev GROUP BY 1, 2),
        |c2 AS (SELECT event_type, v,
        |  SUM(k) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |  SUM(k) OVER (PARTITION BY event_type) AS n FROM h2),
        |mad AS (SELECT event_type, MIN(v) AS mad FROM c2
        |  WHERE cum * 2 >= n GROUP BY 1)
        |SELECT dev.event_type, h, cnt, med, mad,
        |  (cnt > med + mad * 3) AS is_anomaly
        |FROM dev JOIN mad USING (event_type)
        |ORDER BY event_type, h""".stripMargin,
    // streaming twin: identical flags, hour as the window-start timestamp
    "q_stream_anomaly" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |hist AS (SELECT event_type, cnt AS v, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM hourly GROUP BY 1, 2),
        |c AS (SELECT event_type, v,
        |  SUM(k) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |  SUM(k) OVER (PARTITION BY event_type) AS n FROM hist),
        |med AS (SELECT event_type, MIN(v) AS med FROM c
        |  WHERE cum * 2 >= n GROUP BY 1)
        |SELECT hourly.event_type, hour, cnt, (cnt >= med * 2) AS is_spike
        |FROM hourly JOIN med USING (event_type)
        |ORDER BY event_type, hour""".stripMargin,
    // the salted join must be invisible in the answer: plain-join oracle
    "q_skew_join" ->
      """SELECT c.c_mktsegment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(FLOOR(e.value) AS BIGINT)) AS BIGINT) AS vfloor
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rolling_24h" ->
      """SELECT event_id, user_id,
        |  COUNT(*) OVER w AS n_24h,
        |  CAST(SUM(CAST(FLOOR(value) AS BIGINT)) OVER w AS BIGINT) AS vfloor_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |  RANGE BETWEEN 86400000000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_semi_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_not_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS(SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin,
    "q_except" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY k""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    // the window form is the oracle's job; orderkey uniqueness makes the
    // (date desc, key desc) first row identical to max(struct(date, key))
    "q_latest_order" ->
      """SELECT o_custkey, o_orderdate, o_orderkey FROM (
        |  SELECT o_custkey, o_orderdate, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        | CAST(SUM(l_quantity) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_bucketed_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         | CAST(SUM($DISC_SQL) AS DOUBLE) AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // earliest-completion ordered funnel; survivor sets nest, so summing
    // the non-null flags is the ordered depth (strict > on event time
    // matches the Spark side's nanosecond comparison)
    "q_event_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT u.user_id,
        |  CAST((s1.user_id IS NOT NULL)::INT + (s2.user_id IS NOT NULL)::INT
        |     + (s3.user_id IS NOT NULL)::INT AS INTEGER) AS depth
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |       LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q_funnel_report" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |d AS (SELECT u.user_id,
        |  CAST((s1.user_id IS NOT NULL)::INT + (s2.user_id IS NOT NULL)::INT
        |     + (s3.user_id IS NOT NULL)::INT AS INTEGER) AS depth
        |  FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |         LEFT JOIN s3 USING (user_id))
        |SELECT depth, CAST(count(*) AS BIGINT) AS n_at_depth,
        |  CAST(SUM(count(*)) OVER (ORDER BY depth DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_reached
        |FROM d GROUP BY depth ORDER BY depth""".stripMargin,
    // the streaming replay emits one row per user that progressed, with
    // their final depth — the batch funnel restricted to depth > 0
    "q_stream_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT s1.user_id,
        |  CAST(1 + (s2.user_id IS NOT NULL)::INT
        |         + (s3.user_id IS NOT NULL)::INT AS INTEGER) AS depth
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // streaming cap replay: id-ordered micro-batches make first-n admits
    // equal the batch lowest-n-per-source, so the oracle is the same
    // window form as doc_source_cap
    // id-ordered replay of first-digest-occurrence admission equals the
    // batch min-doc_id-per-md5 keeper set
    "q_stream_dedup" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, md5(text) AS digest
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    // file-source replay shares the batch keeper-set oracle: the transport
    // (drop files vs MemoryStream) must not change a single admission
    "q_stream_file_dedup" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, md5(text) AS digest
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "q_stream_source_cap" ->
      """SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY source, doc_id""".stripMargin,
    // id-ordered replay admits the prefix whose PRE-doc running token sum
    // is below the source's budget (crossing doc admitted)
    "q_stream_token_budget" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b(source, budget) AS (VALUES
        |  ('src0', 700), ('src1', 1540), ('src2', 10000), ('src3', 400)),
        |c AS (SELECT t.doc_id, t.source, t.n_tokens, b.budget,
        |    SUM(t.n_tokens) OVER (PARTITION BY t.source ORDER BY t.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t JOIN b USING (source))
        |SELECT source, doc_id, n_tokens FROM c
        |WHERE cum - n_tokens < budget ORDER BY source, doc_id""".stripMargin,

    // retention triangle over the deduplicated (user, week) grid; weeks
    // are raw integer division of nanosecond time — identical arithmetic
    // on both engines, no calendar functions to disagree
    "q_retention" ->
      """WITH w AS (SELECT DISTINCT user_id,
        |    epoch_ns(ts) // 604800000000000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort FROM w GROUP BY 1)
        |SELECT c.cohort, w.wk - c.cohort AS offset_weeks,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM w JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the in-order streamed triangle must equal the batch form exactly
    "q_stream_retention" ->
      """WITH w AS (SELECT DISTINCT user_id,
        |    epoch_ns(ts) // 604800000000000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort FROM w GROUP BY 1)
        |SELECT c.cohort, w.wk - c.cohort AS offset_weeks,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM w JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sessions" ->
      """SELECT user_id, event_id,
        | CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        | SELECT user_id, event_id, ts,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |            > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
        | FROM events)
        |ORDER BY user_id, event_id""".stripMargin,
    // the streaming replay must reproduce the batch window form exactly
    // stream-stream interval join vs the batch inequality join: inclusive
    // upper bound (click_ts <= purchase_ts) per the streaming operator's
    // contract — note the batch band-join row is strictly-before
    "q_stream_interval" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c ON c.user_id = p.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_stream_sessions" ->
      """SELECT user_id, event_id,
        | CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        | SELECT user_id, event_id, ts,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |            > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
        | FROM events)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_asof_attribution" ->
      """SELECT user_id, event_id, attributed_click FROM (
        | SELECT user_id, event_id, event_type,
        |  last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attributed_click
        | FROM events)
        |WHERE event_type = 'purchase' ORDER BY user_id, event_id""".stripMargin,

    "q_first_touch" ->
      """SELECT user_id, event_id, first_click FROM (
        | SELECT user_id, event_id, event_type,
        |  first_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_click
        | FROM events)
        |WHERE event_type = 'purchase' ORDER BY user_id, event_id""".stripMargin,

    // trailing-window interval join: DuckDB states the non-equi predicate
    // directly; the engine's band-bucketed equi-join must reproduce it
    // exactly (engine timestamps are epoch nanos = micros * 1000, so the
    // 30-minute boundary is the same integer instant on both sides)
    "q_interval_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, CAST(COUNT(c.ts) AS BIGINT) AS clicks_30m
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |  AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | COUNT(*) AS cnt, COUNT(DISTINCT user_id) AS users
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_events_json" ->
      """SELECT k % 10 AS k_bucket, event_type, COUNT(*) AS cnt,
        | CAST(SUM(k) AS BIGINT) AS sum_k, MAX(k) AS max_k
        |FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |        event_type FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_events_pivot" ->
      """SELECT user_id,
        | CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        | CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        | CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        | CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        | CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "doc_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY text_hash""".stripMargin,
    "doc_tokens" ->
      """SELECT doc_id, length(regexp_extract_all(text, '\S+')) AS n_tokens,
        | length(text) AS n_chars FROM documents ORDER BY doc_id""".stripMargin,
    "doc_quality" ->
      """SELECT doc_id, length(text) AS n_chars,
        | length(regexp_extract_all(text, '\S+')) AS n_tokens,
        | length(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
        | length(regexp_extract_all(lower(text), '\b(the|a|an|of|to|in|and|is|it|for)\b')) AS n_stopwords,
        | (length(regexp_extract_all(text, '\S+')) >= 10 AND length(text) >= 50
        |  AND length(regexp_extract_all(text, '[.,!?;:]')) * 4
        |      <= length(regexp_extract_all(text, '\S+'))) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_langid" ->
      """SELECT doc_id,
        | CASE WHEN zh_n > 0 THEN 'zh'
        |      WHEN en_n >= de_n AND en_n >= fr_n AND en_n >= es_n THEN 'en'
        |      WHEN de_n >= fr_n AND de_n >= es_n THEN 'de'
        |      WHEN fr_n >= es_n THEN 'fr' ELSE 'es' END AS lang_pred,
        | en_n, de_n, fr_n, es_n, zh_n
        |FROM (SELECT doc_id,
        |  length(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh_n,
        |  length(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|it|with)\b')) AS en_n,
        |  length(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit|ein)\b')) AS de_n,
        |  length(regexp_extract_all(lower(text), '\b(le|les|et|est|une|dans|que|pour)\b')) AS fr_n,
        |  length(regexp_extract_all(lower(text), '\b(el|los|y|es|un|una|en|por)\b')) AS es_n
        | FROM documents) ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_media_features" ->
      """SELECT doc_id, strlen(text) AS byte_len, strlen(text) % 640 AS width,
        | strlen(text) % 480 AS height, 'stub/raw' AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_pii_redact" ->
      """SELECT doc_id,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'),
        |   '\b[0-9]{7,}\b', '[NUM]', 'g')) AS redacted_hash,
        | length(regexp_extract_all(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        | length(regexp_extract_all(text,
        |   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
        | length(regexp_extract_all(text, '\b[0-9]{7,}\b')) AS n_digit_runs
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_pack_bins" ->
      """SELECT doc_id, n_tokens,
        | (n_tokens << 32) | ((row_number() OVER (PARTITION BY n_tokens ORDER BY doc_id) - 1)
        |   // greatest(1, 1024 // greatest(n_tokens, 1))) AS bin_id
        |FROM (SELECT doc_id,
        |        CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // the resize / frame-sample transforms are deterministic stub formulas
    // over byte lengths (decode itself is stubbed — no codecs in the
    // container), so the full plumbing is oracle-checkable
    "doc_media_resize" ->
      """WITH b AS (SELECT doc_id, strlen(text) AS len,
        |            strlen(text) % 640 AS w, strlen(text) % 480 AS h,
        |            greatest(strlen(text) % 640, strlen(text) % 480) AS mx
        |           FROM documents),
        |s AS (SELECT doc_id, len, w, h,
        |       CASE WHEN mx <= 256 OR mx = 0 THEN 1.0 ELSE 256.0 / mx END AS scale FROM b)
        |SELECT doc_id, CAST(FLOOR(w * scale) AS BIGINT) AS width,
        |  CAST(FLOOR(h * scale) AS BIGINT) AS height,
        |  greatest(1, CAST(FLOOR(len * scale * scale) AS BIGINT)) AS out_len
        |FROM s ORDER BY doc_id""".stripMargin,
    "doc_media_frames" ->
      """WITH d AS (SELECT doc_id, strlen(text) AS len FROM documents)
        |SELECT doc_id, i // 4 AS frame_no, i * 256 AS "offset",
        |  least(len, i * 256 + 256) - i * 256 AS flen
        |FROM d, UNNEST(range(0, greatest(1, len // 256), 4)) AS t(i)
        |ORDER BY doc_id, frame_no""".stripMargin,

    // MinHash-LSH emits candidate pairs verified by exact Jaccard ≥ t, so
    // its *output* is SQL-expressible: the exact word-3-gram Jaccard pair
    // set (LSH recall is verified exhaustively by this oracle — any pair a
    // band misses fails the gate). Shingle construction mirrors
    // Dedup.withShingles: distinct 3-gram windows, short docs → one
    // truncated shingle.
    "doc_near_dup_minhash" -> (JACCARD_PAIRS_SQL + "\nSELECT a, b FROM pairs ORDER BY a, b"),

    // dup clusters = connected components of the verified pair graph;
    // min-label via recursive reachability closure (components are tiny —
    // the closure is bounded by cluster size, not corpus size)
    "doc_dedup_clusters" -> (JACCARD_PAIRS_SQL +
      """,
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (SELECT a AS x, b AS y FROM edges
        |  UNION SELECT r.x, e.b AS y FROM reach r JOIN edges e ON e.a = r.y)
        |SELECT x AS doc_id, least(x, MIN(y)) AS canonical_id FROM reach GROUP BY x
        |HAVING least(x, MIN(y)) <> x ORDER BY doc_id""".stripMargin),
    "doc_corpus_dedup" -> (jaccardPairsSql(
      from = "documents JOIN exact_keep USING (doc_id)",
      prefixCtes =
        """exact_keep AS (
          |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
          |""".stripMargin) +
      """,
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (SELECT a AS x, b AS y FROM edges
        |  UNION SELECT r.x, e.b AS y FROM reach r JOIN edges e ON e.a = r.y),
        |canon AS (SELECT x AS doc_id, least(x, MIN(y)) AS canonical_id
        |  FROM reach GROUP BY x)
        |SELECT k.doc_id FROM exact_keep k LEFT JOIN canon c USING (doc_id)
        |WHERE c.canonical_id IS NULL OR c.canonical_id = k.doc_id
        |ORDER BY doc_id""".stripMargin),
    // union of the Jaccard pair set and the asymmetric containment pair
    // set (both over exact survivors — `toks` is already that relation),
    // one reachability closure over the merged edges
    "doc_corpus_dedup_cont" -> (jaccardPairsSql(
      from = "documents JOIN exact_keep USING (doc_id)",
      prefixCtes =
        """exact_keep AS (
          |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
          |""".stripMargin) +
      """,
        |g0 AS (SELECT doc_id, unnest(list_distinct(
        |    [substr(md5(array_to_string(w[i:i+7], ' ')), 1, 16)
        |     FOR i IN range(1, greatest(len(w)-7, 1) + 1)])) AS g FROM toks),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS b_size FROM g0 GROUP BY 1),
        |el AS (SELECT g0.* FROM g0
        |  JOIN (SELECT g FROM g0 GROUP BY g HAVING count(*) <= 256) e USING (g)),
        |cs AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
        |  FROM el a JOIN el b USING (g) WHERE a.doc_id <> b.doc_id GROUP BY 1, 2),
        |cpairs AS (SELECT a, b FROM cs JOIN sz ON sz.doc_id = cs.b
        |  WHERE b_size >= 3 AND shared >= ceil(0.9 * b_size)),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
        |  UNION SELECT a, b FROM cpairs UNION SELECT b, a FROM cpairs),
        |reach AS (SELECT a AS x, b AS y FROM edges
        |  UNION SELECT r.x, e.b AS y FROM reach r JOIN edges e ON e.a = r.y),
        |canon AS (SELECT x AS doc_id, least(x, MIN(y)) AS canonical_id
        |  FROM reach GROUP BY x)
        |SELECT k.doc_id FROM exact_keep k LEFT JOIN canon c USING (doc_id)
        |WHERE c.canonical_id IS NULL OR c.canonical_id = k.doc_id
        |ORDER BY doc_id""".stripMargin),

    // integer-only outputs (q_id, vec_id, rank): double-precision cosine
    // ranks identically in DuckDB (verified bitwise at sf0.01 and sf0.1)
    "emb_knn_brute" ->
      (EXACT_KNN_CTE + "\nSELECT q_id, vec_id, rank FROM exact ORDER BY q_id, rank"),

    // approximate-kNN recall gates: every ANN trainer is deterministic
    // (splitmix64 SRP planes, stride-seeded Lloyd k-means over an
    // ORDER BY vec_id sample), so the expected hit sets are DERIVED from
    // the data by unrolling the same computation into DuckDB SQL
    // (AnnOracleSql — bit-exact, validated at sf0.01 and sf0.001); a
    // testdata regeneration can no longer redden these rows without an
    // engine bug (r11 verdict ask #3)
    "emb_knn_lsh" -> AnnOracleSql.lsh(planes = 8, k = 5),
    "emb_knn_ivf" -> AnnOracleSql.ivf(cells = 16, nProbe = 2),
    // filtered kNN: exact, pre-filter semantics (restrict THEN rank) —
    // fully recomputable in DuckDB, no pinned hits needed
    "emb_knn_filtered" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 3),
        |exact AS (SELECT q_id, vec_id, rank FROM (
        |  SELECT q_id, e.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY list_cosine_similarity(qe, CAST(e.embedding AS DOUBLE[])) DESC,
        |               e.vec_id) AS rank
        |  FROM q, embeddings e WHERE e.vec_id <> q_id AND e.label = 1)
        |WHERE rank <= 5)
        |SELECT q_id, vec_id, rank FROM exact ORDER BY q_id, rank""".stripMargin,

    // IVF-PQ: same derived convention; ADC quantization on the
    // near-uniform synthetic embeddings costs recall vs plain IVF — the
    // contract records the achieved overlap honestly (cf. the LSH row,
    // where in-bucket candidates can be scarce)
    "emb_knn_ivfpq" -> AnnOracleSql.ivfpq(nProbe = 4, m = 16, ksub = 32),
    "emb_knn_sq8" -> AnnOracleSql.sq8(k = 5, rerank = 4),
    "emb_top_pairs" ->
      """SELECT a, b FROM (
        |  SELECT e1.vec_id AS a, e2.vec_id AS b,
        |    list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
        |                           CAST(e2.embedding AS DOUBLE[])) AS c
        |  FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
        |) ORDER BY c DESC, a, b LIMIT 50""".stripMargin,
    // exhaustive threshold oracle: the Spark side must find EVERY pair at
    // cosine >= tau (near-dup removal has no recall budget); 0.44 sits in
    // a wide gap of the sf0.01 cosine distribution, so double-rounding
    // differences between engines cannot flip a boundary pair
    "emb_near_dup" ->
      """SELECT a, b FROM (
        |  SELECT e1.vec_id AS a, e2.vec_id AS b,
        |    list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
        |                           CAST(e2.embedding AS DOUBLE[])) AS c
        |  FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
        |) WHERE c >= 0.44 ORDER BY a, b""".stripMargin,

    // SemDeDup: removal set DERIVED end-to-end (AnnOracleSql unrolls the
    // cells=8 quantizer, then applies the removal rule verbatim: removed
    // iff any lower-id same-cell vector has cosine >= tau, kept_id the
    // highest-cosine justifier with ties to the lowest id). Removals stay
    // a subset of the exhaustive emb_near_dup pair set by construction
    // (within-cell only — the documented SemDeDup trade), and Round7Spec
    // anchors one-cell-equals-exhaustive semantics.
    "emb_semdedup" -> AnnOracleSql.semDedup(tau = 0.44, cells = 8),

    // first-class clustering + cluster-balanced quota sample: assignment,
    // census, and quota all derived from the data by the same unrolled
    // Lloyd chain the IVF rows validated bit-exact
    "emb_kmeans" -> AnnOracleSql.kmeansClusters(cells = 16),
    "emb_cluster_sample" ->
      AnnOracleSql.clusterBalancedSample(perCluster = 8, cells = 16),

    // exclusion list = the exact top-20 (emb_knn_brute convention); coin
    // and ordering mirrored exactly
    "emb_negatives" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 3),
        |exact AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, e.vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY list_cosine_similarity(qe,
        |        CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rnk
        |  FROM q, embeddings e WHERE e.vec_id <> q_id) WHERE rnk <= 20),
        |cand AS (SELECT q.q_id, e.vec_id,
        |    ('0x' || substr(md5('neg1' || CAST(q.q_id AS VARCHAR) || ':' ||
        |      CAST(e.vec_id AS VARCHAR)), 1, 8))::BIGINT AS coin
        |  FROM q, embeddings e
        |  WHERE e.vec_id <> q.q_id
        |    AND NOT EXISTS (SELECT 1 FROM exact x
        |      WHERE x.q_id = q.q_id AND x.vec_id = e.vec_id))
        |SELECT q_id, vec_id, rank FROM (
        |  SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY coin, vec_id) AS rank FROM cand)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // semantic decontamination: every (corpus, benchmark) cosine >= tau,
    // counted per corpus vector; best justifier = argmax cosine, ties to
    // the lowest benchmark id (mirrors the strict-> ascending-id scan)
    "emb_decontaminate" ->
      """WITH b AS (SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS be
        |  FROM embeddings WHERE vec_id % 11 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
        |  FROM embeddings WHERE vec_id % 11 <> 0),
        |s AS (SELECT c.vec_id, b.bench_id,
        |  list_cosine_similarity(ce, be) AS cos FROM c, b),
        |h AS (SELECT vec_id, bench_id, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY cos DESC, bench_id) AS rn
        |  FROM s WHERE cos >= 0.45)
        |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
        |  MIN(CASE WHEN rn = 1 THEN bench_id END) AS best_bench_id
        |FROM h GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // exact n-gram Jaccard (k=4, tau=0.5): same tokenize/digest/df-cap
    // contract as doc_containment, symmetric intersection over uncapped
    // union sizes — conservative by construction
    "doc_near_dup_jaccard" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_distinct(
        |    [substr(md5(array_to_string(w[i:i+3], ' ')), 1, 16)
        |     FOR i IN range(1, greatest(len(w)-3, 1) + 1)])) AS g FROM t),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM g0 GROUP BY 1),
        |el AS (SELECT g0.* FROM g0
        |  JOIN (SELECT g FROM g0 GROUP BY g HAVING count(*) <= 256) e USING (g)),
        |sh AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
        |  FROM el a JOIN el b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a, b, CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) AS jaccard
        |FROM sh JOIN sz sa ON sa.doc_id = sh.a JOIN sz sb ON sb.doc_id = sh.b
        |WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.5
        |ORDER BY a, b""".stripMargin,

    // source-pair overlap matrix over the same exact-Jaccard pair list
    "doc_source_overlap" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_distinct(
        |    [substr(md5(array_to_string(w[i:i+3], ' ')), 1, 16)
        |     FOR i IN range(1, greatest(len(w)-3, 1) + 1)])) AS g FROM t),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM g0 GROUP BY 1),
        |el AS (SELECT g0.* FROM g0
        |  JOIN (SELECT g FROM g0 GROUP BY g HAVING count(*) <= 256) e USING (g)),
        |sh AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
        |  FROM el a JOIN el b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pr AS (SELECT a, b FROM sh
        |  JOIN sz sa ON sa.doc_id = sh.a JOIN sz sb ON sb.doc_id = sh.b
        |  WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.5)
        |SELECT least(da.source, db.source) AS src_a,
        |  greatest(da.source, db.source) AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM pr JOIN documents da ON da.doc_id = pr.a
        |  JOIN documents db ON db.doc_id = pr.b
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // hashing-trick linear quality scorer: md5 low-32 slot hash (mixture
    // convention), slot-id-derived integer weights, exact integer sums
    "doc_quality_model" ->
      """WITH t AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS tok FROM t),
        |n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM t),
        |ws AS (SELECT doc_id, CAST(SUM(
        |    (('0x' || substr(md5('qw' || CAST(
        |        ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS VARCHAR)),
        |      1, 4))::BIGINT % 17) - 8) AS BIGINT) AS w_sum
        |  FROM tok GROUP BY 1)
        |SELECT n.doc_id, n.n_tokens, COALESCE(ws.w_sum, 0) AS w_sum,
        |  CASE WHEN n.n_tokens > 0
        |       THEN CAST(COALESCE(ws.w_sum, 0) AS DOUBLE) / n.n_tokens
        |       ELSE 0.0 END AS score,
        |  COALESCE(ws.w_sum, 0) * 2 >= n.n_tokens AS keep
        |FROM n LEFT JOIN ws USING (doc_id) ORDER BY doc_id""".stripMargin,

    // corpus health report: same quality rule as doc_quality_model, all
    // values exact integer ratios
    "doc_corpus_report" ->
      """WITH t AS (SELECT doc_id, lang, source, md5(text) AS h,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0) AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS tok FROM t),
        |ws AS (SELECT doc_id, CAST(SUM(
        |    (('0x' || substr(md5('qw' || CAST(
        |        ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS VARCHAR)),
        |      1, 4))::BIGINT % 17) - 8) AS BIGINT) AS w_sum
        |  FROM tok GROUP BY 1),
        |q AS (SELECT t.doc_id, CAST(len(w) AS BIGINT) AS nt,
        |    CASE WHEN COALESCE(ws.w_sum, 0) * 2 >= len(w) THEN 1 ELSE 0 END AS keep
        |  FROM t LEFT JOIN ws USING (doc_id)),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(DISTINCT h) AS BIGINT) AS nd,
        |    CAST(COUNT(DISTINCT source) AS BIGINT) AS ns FROM t),
        |s AS (SELECT CAST(SUM(nt) AS BIGINT) AS tt,
        |    CAST(SUM(keep) AS BIGINT) AS nk FROM q)
        |SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM g
        |  UNION ALL SELECT 'n_distinct_texts', CAST(nd AS DOUBLE) FROM g
        |  UNION ALL SELECT 'n_sources', CAST(ns AS DOUBLE) FROM g
        |  UNION ALL SELECT 'total_tokens', CAST(tt AS DOUBLE) FROM s
        |  UNION ALL SELECT 'mean_doc_tokens',
        |    CAST(tt AS DOUBLE) / (SELECT n_docs FROM g) FROM s
        |  UNION ALL SELECT 'quality_keep_rate',
        |    CAST(nk AS DOUBLE) / (SELECT n_docs FROM g) FROM s
        |  UNION ALL SELECT 'docs_lang_' || lang, CAST(COUNT(*) AS DOUBLE)
        |    FROM t GROUP BY lang)
        |ORDER BY metric""".stripMargin,

    "sparql_service" ->
      """SELECT s_name AS sname, n_name AS nname
        |FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |ORDER BY sname, nname""".stripMargin,

    // zero-or-one path: one g:region step plus zero-length pairs over the
    // edge graph's node universe (nations ∪ regions)
    "sparql_path_zeroorone" ->
      """WITH e AS (SELECT 'urn:g:nation:' || CAST(n_nationkey AS VARCHAR) AS a,
        |                  'urn:g:region:' || CAST(n_regionkey AS VARCHAR) AS b FROM nation),
        |n AS (SELECT a AS x FROM e UNION SELECT b FROM e)
        |SELECT a, b FROM (SELECT a, b FROM e UNION SELECT x, x FROM n)
        |ORDER BY a, b""".stripMargin,

    // negated property set over the nation/region graph: everything except
    // g:name = the region links plus the rdf:type edges
    "sparql_path_nps" ->
      """SELECT a, b FROM (
        |  SELECT 'urn:g:nation:' || CAST(n_nationkey AS VARCHAR) AS a,
        |         'urn:g:region:' || CAST(n_regionkey AS VARCHAR) AS b FROM nation
        |  UNION
        |  SELECT 'urn:g:nation:' || CAST(n_nationkey AS VARCHAR), 'urn:g:Nation' FROM nation
        |  UNION
        |  SELECT 'urn:g:region:' || CAST(r_regionkey AS VARCHAR), 'urn:g:Region' FROM region
        |) ORDER BY a, b""".stripMargin,

    // Gopher-style repetition signals: gram counting mirrors the Spark
    // explode exactly (1-based list indexing + NULL-skipping concat_ws
    // reproduces the try_element_at bigram windows, incl. the 1-token edge)
    // sketch contracts: the oracle pins the EXACT per-source values (doc
    // ordinals assigned BEFORE the empty filter; byte offsets via the
    // same preceding-lengths running sum
    "doc_sentences" ->
      """WITH t AS (SELECT doc_id, string_split(text, '. ') AS parts
        |  FROM documents),
        |s AS (SELECT doc_id, unnest(
        |    [{'pos': i - 1, 'sent': parts[i]}
        |     FOR i IN range(1, len(parts) + 1)], recursive := true)
        |  FROM t)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos, sent,
        |  CAST(COALESCE(SUM(strlen(sent) + 2) OVER (
        |    PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start
        |FROM s QUALIFY strlen(sent) > 0
        |ORDER BY doc_id, pos""".stripMargin,
    // exact type-1 quantiles over the per-source n_chars histogram:
    // q_pm = min{v : cum·1000 ≥ pm·n} — integer arithmetic end-to-end
    "doc_length_quantiles" ->
      """WITH h AS (SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |c AS (SELECT source, v,
        |  SUM(cnt) OVER (PARTITION BY source ORDER BY v) AS cum,
        |  SUM(cnt) OVER (PARTITION BY source) AS n FROM h),
        |p AS (SELECT unnest([250, 500, 750, 900, 990]) AS pm)
        |SELECT source, CAST(pm AS BIGINT) AS pm, MIN(v) AS q
        |FROM c, p WHERE cum * 1000 >= pm * n
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // count, distinct tokens) plus the sketch-accuracy flags, which must
    // come back true — HLL within its error budget, approx-median within
    // rank tolerance (the same honest-contract shape as the ANN rows)
    "doc_sketch_stats" ->
      """WITH tok AS (SELECT source,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |  FROM documents)
        |SELECT d.source, d.n_docs, t.exact_distinct,
        |       true AS hll_ok, true AS p50_rank_ok
        |FROM (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1) d
        |JOIN (SELECT source, count(DISTINCT tok) AS exact_distinct
        |      FROM tok GROUP BY 1) t USING (source)
        |ORDER BY d.source""".stripMargin,
    "doc_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(w) AS tok FROM t),
        |uc AS (SELECT doc_id, tok, COUNT(*) AS c FROM u GROUP BY 1, 2),
        |ua AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |         CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
        |         CAST(MAX(c) AS BIGINT) AS top_unigram_n
        |       FROM uc GROUP BY 1),
        |b AS (SELECT doc_id, unnest([concat_ws(' ', w[i], w[i+1])
        |         FOR i IN range(1, greatest(len(w) - 1, 1) + 1)]) AS g FROM t),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |ba AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |         CAST(MAX(c) AS BIGINT) AS top_bigram_n
        |       FROM bc GROUP BY 1)
        |SELECT ua.doc_id, n_tokens, n_distinct_tokens, top_unigram_n,
        |  n_bigrams, top_bigram_n,
        |  (top_unigram_n * 5 <= n_tokens AND top_bigram_n * 5 <= n_bigrams) AS keep
        |FROM ua JOIN ba ON ba.doc_id = ua.doc_id ORDER BY ua.doc_id""".stripMargin,

    // corpus vocabulary: (token, tf, df), integer-exact
    "doc_vocab" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |  FROM documents),
        |dt AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2)
        |SELECT tok, CAST(SUM(c) AS BIGINT) AS tf,
        |  CAST(COUNT(*) AS BIGINT) AS df
        |FROM dt GROUP BY tok ORDER BY tok""".stripMargin,

    // per-source cap: the oracle affords the window form at sf scale; the
    // engine side must produce the identical n-lowest-ids-per-source set
    // through the bounded aggregator
    "doc_source_cap" ->
      """SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY source, doc_id""".stripMargin,

    // stratified exact sample: same keyed md5 coin as doc_mixture_sample,
    // n smallest coins per source win; coin ties break on doc_id exactly
    // as BoundedMinPairs orders the (sortKey, payload) tuple
    "doc_stratified_sample" ->
      """SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY
        |      ('0x' || substr(md5('strat1' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |      doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 7 ORDER BY source, doc_id""".stripMargin,

    // global exact sample: corpus-wide coin order, doc_id tie-break
    "doc_sample_exact" ->
      """SELECT doc_id, rk FROM (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY
        |    ('0x' || substr(md5('g1' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |    doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 25 ORDER BY doc_id""".stripMargin,

    // token-budget mixture: identical integer pipeline — coin >> 22 into
    // 1024 buckets, per-source cumulative token sums, smallest threshold
    // bucket with cum >= budget (fallback 1023 keeps short sources whole)
    "doc_token_budget" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_tokens,
        |    (('0x' || substr(md5('tb1' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT >> 22) AS cb
        |  FROM documents),
        |b(source, budget) AS (VALUES
        |  ('src0', 700), ('src1', 1540), ('src2', 10000), ('src3', 400)),
        |h AS (SELECT source, cb, SUM(n_tokens) AS tk FROM t JOIN b USING (source)
        |  GROUP BY 1, 2),
        |c AS (SELECT source, cb,
        |    SUM(tk) OVER (PARTITION BY source ORDER BY cb) AS cum FROM h),
        |th AS (SELECT b.source, coalesce(
        |    (SELECT min(cb) FROM c WHERE c.source = b.source AND c.cum >= b.budget),
        |    1023) AS t FROM b)
        |SELECT t.doc_id, t.source, t.n_tokens
        |FROM t JOIN th ON t.source = th.source AND t.cb <= th.t
        |ORDER BY doc_id""".stripMargin,
    // the same bucket-threshold machinery keyed on LANGUAGE — the
    // language-balanced pretraining mix
    "doc_lang_budget" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_tokens,
        |    (('0x' || substr(md5('lb1' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT >> 22) AS cb
        |  FROM documents),
        |b(lang, budget) AS (VALUES
        |  ('en', 8000), ('fr', 3000), ('es', 100000), ('de', 2000), ('zh', 1500)),
        |h AS (SELECT lang, cb, SUM(n_tokens) AS tk FROM t JOIN b USING (lang)
        |  GROUP BY 1, 2),
        |c AS (SELECT lang, cb,
        |    SUM(tk) OVER (PARTITION BY lang ORDER BY cb) AS cum FROM h),
        |th AS (SELECT b.lang, coalesce(
        |    (SELECT min(cb) FROM c WHERE c.lang = b.lang AND c.cum >= b.budget),
        |    1023) AS t FROM b)
        |SELECT t.doc_id, t.lang, t.n_tokens
        |FROM t JOIN th ON t.lang = th.lang AND t.cb <= th.t
        |ORDER BY doc_id""".stripMargin,

    // salient terms: integer ordering exactly as the engine computes it
    "doc_top_terms" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |  FROM documents),
        |t2 AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok WHERE len(term) > 0 GROUP BY 1, 2),
        |d2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM t2 GROUP BY 1)
        |SELECT doc_id, term, tf, df, rk FROM (
        |  SELECT doc_id, term, tf, df,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf DESC, df ASC, term) AS BIGINT) AS rk
        |  FROM t2 JOIN d2 USING (term) WHERE df <= 390)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    // duplicated positional 8-gram spans: stride-1 windows, short docs
    // contribute one truncated window (withShingles convention); windows
    // compare as 64-bit md5-prefix digests on both engines
    "doc_dup_spans" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, substr(md5(array_to_string(w[i:i+7], ' ')), 1, 16) AS g
        |  FROM t, unnest(generate_series(1, greatest(len(w)-7, 1))) AS s(i)),
        |dg AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |f AS (SELECT g, count(*) AS df FROM dg GROUP BY 1)
        |SELECT dg.doc_id, CAST(SUM(c) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN df >= 2 THEN c ELSE 0 END) AS BIGINT)
        |    AS n_dup_windows,
        |  SUM(CASE WHEN df >= 2 THEN c ELSE 0 END) * 5 >= SUM(c) AS flagged
        |FROM dg JOIN f USING (g) GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // contamination spans: corpus (doc_id%5<>0) windows whose digest
    // appears anywhere in the benchmark (doc_id%5=0); merged islands
    "doc_decontam_spans" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(floor((length(text) - 40) / 1) AS BIGINT)
        |      + 1)) AS i
        |  FROM documents WHERE length(text) >= 40),
        |h AS (
        |  SELECT doc_id, CAST(1 + i * 1 AS BIGINT) AS pos,
        |    substring(md5(substring(text, CAST(1 + i * 1 AS INTEGER), 40)),
        |      1, 16) AS g
        |  FROM w),
        |bench AS (SELECT DISTINCT g FROM h WHERE doc_id % 5 = 0),
        |dup AS (
        |  SELECT h.doc_id, pos AS s, pos + 40 AS e FROM h
        |  JOIN bench USING (g) WHERE h.doc_id % 5 <> 0),
        |m AS (
        |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY
        |    s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM dup),
        |isl AS (
        |  SELECT doc_id, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s, e)
        |    AS island
        |  FROM m)
        |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
        |  CAST(max(e) AS BIGINT) AS span_end
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // the decontaminated corpus: kept segments reassembled per doc
    "doc_decontam_clean" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(floor((length(text) - 40) / 1) AS BIGINT)
        |      + 1)) AS i
        |  FROM documents WHERE length(text) >= 40),
        |h AS (
        |  SELECT doc_id, CAST(1 + i * 1 AS BIGINT) AS pos,
        |    substring(md5(substring(text, CAST(1 + i * 1 AS INTEGER), 40)),
        |      1, 16) AS g
        |  FROM w),
        |bench AS (SELECT DISTINCT g FROM h WHERE doc_id % 5 = 0),
        |dup AS (
        |  SELECT h.doc_id, pos AS s, pos + 40 AS e FROM h
        |  JOIN bench USING (g) WHERE h.doc_id % 5 <> 0),
        |m AS (
        |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY
        |    s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM dup),
        |isl AS (
        |  SELECT doc_id, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s, e)
        |    AS island
        |  FROM m),
        |merged AS (SELECT doc_id, min(s) AS ss, max(e) AS se
        |  FROM isl GROUP BY doc_id, island),
        |segs AS (
        |  SELECT doc_id, coalesce(lag(se) OVER (PARTITION BY doc_id
        |    ORDER BY ss), 1) AS gs, ss AS ge FROM merged
        |  UNION ALL
        |  SELECT doc_id, max(se), NULL FROM merged GROUP BY doc_id),
        |asm AS (
        |  SELECT s.doc_id, string_agg(substr(d.text, CAST(s.gs AS INTEGER),
        |    CAST(coalesce(s.ge, length(d.text) + 1) - s.gs AS INTEGER)),
        |    '' ORDER BY s.gs) AS ct
        |  FROM segs s JOIN documents d USING (doc_id) GROUP BY s.doc_id)
        |SELECT d.doc_id, coalesce(a.ct, d.text) AS clean_text,
        |  CAST(length(d.text) - length(coalesce(a.ct, d.text)) AS BIGINT)
        |    AS n_removed_chars
        |FROM documents d LEFT JOIN asm a USING (doc_id)
        |WHERE d.doc_id % 5 <> 0
        |ORDER BY d.doc_id""".stripMargin,

    // exact-substring duplicate spans: stride-1 40-char windows compared
    // as 64-bit md5-prefix digests (contractual, both engines), the
    // globally-first (doc_id, pos) occurrence kept, per-doc
    // overlapping/touching spans merged via gaps-and-islands
    "doc_exact_substr_spans" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(floor((length(text) - 40) / 1) AS BIGINT)
        |      + 1)) AS i
        |  FROM documents WHERE length(text) >= 40),
        |h AS (
        |  SELECT doc_id, CAST(1 + i * 1 AS BIGINT) AS pos,
        |    substring(md5(substring(text, CAST(1 + i * 1 AS INTEGER), 40)),
        |      1, 16) AS g
        |  FROM w),
        |f AS (
        |  SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c,
        |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM h),
        |dup AS (SELECT doc_id, pos AS s, pos + 40 AS e FROM f
        |  WHERE c >= 2 AND rn > 1),
        |m AS (
        |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY
        |    s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM dup),
        |isl AS (
        |  SELECT doc_id, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s, e)
        |    AS island
        |  FROM m)
        |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
        |  CAST(max(e) AS BIGINT) AS span_end
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // the auto dispatcher at window 40 routes to single-pass stride-1:
    // the oracle is doc_exact_substr_spans verbatim
    "doc_exact_substr_auto" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(floor((length(text) - 40) / 1) AS BIGINT)
        |      + 1)) AS i
        |  FROM documents WHERE length(text) >= 40),
        |h AS (
        |  SELECT doc_id, CAST(1 + i * 1 AS BIGINT) AS pos,
        |    substring(md5(substring(text, CAST(1 + i * 1 AS INTEGER), 40)),
        |      1, 16) AS g
        |  FROM w),
        |f AS (
        |  SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c,
        |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM h),
        |dup AS (SELECT doc_id, pos AS s, pos + 40 AS e FROM f
        |  WHERE c >= 2 AND rn > 1),
        |m AS (
        |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY
        |    s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM dup),
        |isl AS (
        |  SELECT doc_id, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s, e)
        |    AS island
        |  FROM m)
        |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
        |  CAST(max(e) AS BIGINT) AS span_end
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // the removal: per doc, concatenate the kept segments between merged
    // spans (string_agg ordered by segment start); span-free docs pass
    // through verbatim via the left join
    "doc_exact_substr_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(floor((length(text) - 40) / 1) AS BIGINT)
        |      + 1)) AS i
        |  FROM documents WHERE length(text) >= 40),
        |h AS (
        |  SELECT doc_id, CAST(1 + i * 1 AS BIGINT) AS pos,
        |    substring(md5(substring(text, CAST(1 + i * 1 AS INTEGER), 40)),
        |      1, 16) AS g
        |  FROM w),
        |f AS (
        |  SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c,
        |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM h),
        |dup AS (SELECT doc_id, pos AS s, pos + 40 AS e FROM f
        |  WHERE c >= 2 AND rn > 1),
        |m AS (
        |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY
        |    s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM dup),
        |isl AS (
        |  SELECT doc_id, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s, e)
        |    AS island
        |  FROM m),
        |merged AS (SELECT doc_id, min(s) AS ss, max(e) AS se
        |  FROM isl GROUP BY doc_id, island),
        |segs AS (
        |  SELECT doc_id, coalesce(lag(se) OVER (PARTITION BY doc_id
        |    ORDER BY ss), 1) AS gs, ss AS ge FROM merged
        |  UNION ALL
        |  SELECT doc_id, max(se), NULL FROM merged GROUP BY doc_id),
        |asm AS (
        |  SELECT s.doc_id, string_agg(substr(d.text, CAST(s.gs AS INTEGER),
        |    CAST(coalesce(s.ge, length(d.text) + 1) - s.gs AS INTEGER)),
        |    '' ORDER BY s.gs) AS ct
        |  FROM segs s JOIN documents d USING (doc_id) GROUP BY s.doc_id)
        |SELECT d.doc_id, coalesce(a.ct, d.text) AS clean_text,
        |  CAST(length(d.text) - length(coalesce(a.ct, d.text)) AS BIGINT)
        |    AS n_removed_chars
        |FROM documents d LEFT JOIN asm a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // two-pass == single-pass stride-1, BIT-IDENTICAL (the winnowing
    // soundness theorem): the oracle is doc_exact_substr_spans verbatim
    "doc_exact_substr_twopass" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(floor((length(text) - 40) / 1) AS BIGINT)
        |      + 1)) AS i
        |  FROM documents WHERE length(text) >= 40),
        |h AS (
        |  SELECT doc_id, CAST(1 + i * 1 AS BIGINT) AS pos,
        |    substring(md5(substring(text, CAST(1 + i * 1 AS INTEGER), 40)),
        |      1, 16) AS g
        |  FROM w),
        |f AS (
        |  SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c,
        |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM h),
        |dup AS (SELECT doc_id, pos AS s, pos + 40 AS e FROM f
        |  WHERE c >= 2 AND rn > 1),
        |m AS (
        |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY
        |    s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM dup),
        |isl AS (
        |  SELECT doc_id, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s, e)
        |    AS island
        |  FROM m)
        |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
        |  CAST(max(e) AS BIGINT) AS span_end
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // distinct vs total 4-char windows (md5-prefix digest contract) and
    // integer-floored redundancy per mille — the oracled compressibility
    // face of the permanently rows-only deflate row
    "doc_ngram_redundancy" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(length(text) - 4 AS BIGINT) + 1)) AS i
        |  FROM documents WHERE length(text) >= 4),
        |g AS (
        |  SELECT doc_id,
        |    substring(md5(substring(text, CAST(1 + i AS INTEGER), 4)),
        |      1, 16) AS g
        |  FROM w)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS total_grams,
        |  CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams,
        |  CAST((count(*) - count(DISTINCT g)) * 1000 // count(*)
        |    AS BIGINT) AS redundancy_milli
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // asymmetric containment |A∩B|/|B| >= 0.9 over distinct-8-gram digest
    // sets: the index drops grams with df > 256 (contractual, mirrored),
    // b_size stays uncapped, threshold via ceil on the identical double
    // product — integer-exact end to end
    "doc_containment" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_distinct(
        |    [substr(md5(array_to_string(w[i:i+7], ' ')), 1, 16)
        |     FOR i IN range(1, greatest(len(w)-7, 1) + 1)])) AS g FROM t),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS b_size FROM g0 GROUP BY 1),
        |el AS (SELECT g0.* FROM g0
        |  JOIN (SELECT g FROM g0 GROUP BY g HAVING count(*) <= 256) e USING (g)),
        |sh AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
        |  FROM el a JOIN el b USING (g) WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT a, b, shared, b_size FROM sh JOIN sz ON sz.doc_id = sh.b
        |WHERE b_size >= 3 AND shared >= ceil(0.9 * b_size)
        |ORDER BY a, b""".stripMargin,

    // BM25 integer skeleton for query terms (join, stream, dup): exact
    // (tf, df, dl) per matching (doc, term) — dl is the whitespace-split
    // length (filter-funnel convention), df counts matching DOCS
    "doc_bm25" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS term, len(w) AS dl FROM t),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
        |    CAST(min(dl) AS BIGINT) AS dl
        |  FROM tok WHERE term IN ('join', 'stream', 'dup') GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, term, tf, df, dl FROM tf JOIN df USING (term)
        |ORDER BY doc_id, term""".stripMargin,

    // both arms integer/cosine-exact, fusion all-integer: lexical ranks
    // from the gated keywordStats computation, semantic ranks the
    // emb_knn_brute convention, RRF in milli-units via floor division
    "doc_hybrid_search" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS term, len(w) AS dl FROM t),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
        |    CAST(min(dl) AS BIGINT) AS dl
        |  FROM tok WHERE term IN ('join', 'stream', 'dup') GROUP BY 1, 2),
        |lexagg AS (SELECT doc_id, SUM(tf) AS tf_sum, MIN(dl) AS dl
        |  FROM tf GROUP BY 1),
        |lex AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY tf_sum DESC, dl ASC, doc_id) AS BIGINT) AS lex_rank
        |  FROM lexagg QUALIFY lex_rank <= 20),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        |  WHERE vec_id = 0),
        |sem AS (SELECT vec_id AS doc_id, CAST(rnk AS BIGINT) AS sem_rank FROM (
        |  SELECT e.vec_id, ROW_NUMBER() OVER (
        |      ORDER BY list_cosine_similarity(qe,
        |        CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rnk
        |  FROM q, embeddings e WHERE e.vec_id <> 0)
        |  WHERE rnk <= 20)
        |SELECT doc_id, lex_rank, sem_rank,
        |  COALESCE(1000000 // (60 + lex_rank), 0)
        |    + COALESCE(1000000 // (60 + sem_rank), 0) AS rrf_milli
        |FROM lex FULL OUTER JOIN sem USING (doc_id)
        |ORDER BY rrf_milli DESC, doc_id LIMIT 10""".stripMargin,

    // index-served stats must be byte-identical to the scan-served row
    "doc_bm25_indexed" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS term, len(w) AS dl FROM t),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
        |    CAST(min(dl) AS BIGINT) AS dl
        |  FROM tok WHERE term IN ('join', 'stream', 'dup') GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, term, tf, df, dl FROM tf JOIN df USING (term)
        |ORDER BY doc_id, term""".stripMargin,

    // filter funnel: first-failing-rule attribution, fixed rule order
    "doc_filter_funnel" ->
      """WITH t AS (SELECT doc_id, lang, length(text) AS nc,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS nt,
        |    len(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS nd
        |  FROM documents)
        |SELECT doc_id, nt AS n_tokens,
        |  CASE WHEN nt < 20 THEN 'too_short'
        |       WHEN nc > 500 THEN 'too_long'
        |       WHEN nd * 3 < nt THEN 'low_diversity'
        |       WHEN lang != 'en' THEN 'non_english'
        |       ELSE NULL END AS first_fail,
        |  (CASE WHEN nt < 20 THEN 'too_short'
        |       WHEN nc > 500 THEN 'too_long'
        |       WHEN nd * 3 < nt THEN 'low_diversity'
        |       WHEN lang != 'en' THEN 'non_english'
        |       ELSE NULL END) IS NULL AS keep
        |FROM t ORDER BY doc_id""".stripMargin,

    // deterministic mixture sampling: keep iff the low-32-bit md5 bucket of
    // (salt ++ doc_id) falls under rate(source)·2^32 — the portable-hash
    // convention of the simhash oracle; floor() on both sides (DuckDB CAST
    // rounds doubles, Spark truncates)
    "doc_mixture_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5('mix1' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS b,
        |    CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.75
        |                WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.25
        |                ELSE 0.1 END AS r
        |  FROM documents)
        |WHERE b < CAST(floor(r * 4294967296.0) AS BIGINT) ORDER BY doc_id""".stripMargin,

    // blocklist oracle: distinct-term presence as a contains() sum — the
    // OR-chain semantics the one-pass automaton must reproduce exactly
    "doc_blocklist" ->
      """SELECT doc_id,
        |  CAST(contains(lower(text), 'slow')::INT
        |     + contains(lower(text), 'merge')::INT
        |     + contains(lower(text), 'fingerprint')::INT AS BIGINT) AS n_terms,
        |  (contains(lower(text), 'slow') OR contains(lower(text), 'merge')
        |   OR contains(lower(text), 'fingerprint')) AS flagged
        |FROM documents ORDER BY doc_id""".stripMargin,
    // DSIR: identical hashing-trick features (md5-bucketed unigrams),
    // add-1 smoothed log-ratios, Gumbel keys from the same md5 coin;
    // milli-nat rounding absorbs cross-engine ln ulp skew (the
    // perplexity-row convention)
    "doc_dsir_sample" ->
      """WITH tok_r AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |  FROM documents),
        |tb_r AS (SELECT doc_id,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b
        |  FROM tok_r WHERE tok <> ''),
        |tok_t AS (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |  FROM documents WHERE lang = 'en'),
        |tb_t AS (SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b
        |  FROM tok_t WHERE tok <> ''),
        |tgt AS (SELECT b, COUNT(*) AS ct FROM tb_t GROUP BY 1),
        |nt AS (SELECT COALESCE(SUM(ct), 0) AS nt FROM tgt),
        |rd AS (SELECT doc_id, b, COUNT(*) AS k FROM tb_r GROUP BY 1, 2),
        |rh AS (SELECT b, SUM(k) AS cr FROM rd GROUP BY 1),
        |nr AS (SELECT COALESCE(SUM(cr), 0) AS nr FROM rh),
        |lr AS (SELECT rh.b,
        |    ln((COALESCE(tgt.ct, 0) + 1)::DOUBLE / (nt.nt + 1024)) -
        |    ln((rh.cr + 1)::DOUBLE / (nr.nr + 1024)) AS lr
        |  FROM rh LEFT JOIN tgt USING (b), nt, nr),
        |lw AS (SELECT rd.doc_id, SUM(rd.k * lr.lr) AS lw
        |  FROM rd JOIN lr USING (b) GROUP BY 1),
        |g AS (SELECT doc_id, lw,
        |    -ln(-ln((('0x' || substr(md5('dsir1' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::BIGINT + 0.5) / 4294967296.0)) AS g
        |  FROM lw)
        |SELECT doc_id, CAST(round(lw * 1000) AS BIGINT) AS lw_milli,
        |  CAST(round((lw + g) * 1000) AS BIGINT) AS key_milli
        |FROM g ORDER BY key_milli DESC, doc_id LIMIT 200""".stripMargin,

    "doc_normalize" ->
      """SELECT doc_id, n AS text_norm, (n <> text) AS changed FROM (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |      '[\x00-\x1f\x7f]', ' ', 'g'), '  +', ' ', 'g')) AS n
        |  FROM documents) ORDER BY doc_id""".stripMargin,

    "doc_corpus_diff" ->
      """WITH prev AS (SELECT doc_id, md5(text) AS da FROM documents
        |              WHERE doc_id < 400),
        |nxt AS (SELECT doc_id, md5(CASE WHEN doc_id BETWEEN 200 AND 249
        |              THEN text || ' v2' ELSE text END) AS db
        |        FROM documents WHERE doc_id >= 100)
        |SELECT doc_id, status FROM (
        |  SELECT COALESCE(prev.doc_id, nxt.doc_id) AS doc_id,
        |    CASE WHEN prev.doc_id IS NULL THEN 'added'
        |         WHEN nxt.doc_id IS NULL THEN 'removed'
        |         WHEN da <> db THEN 'changed' END AS status
        |  FROM prev FULL OUTER JOIN nxt ON prev.doc_id = nxt.doc_id)
        |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin,

    // the merged snapshot must BE `next`: the oracle states the target
    // corpus directly, independent of any merge machinery — if deletes,
    // replacement, or insertion misfire, the digests diverge
    "doc_apply_diff" ->
      """SELECT doc_id, md5(t) AS digest, CAST(strlen(t) AS BIGINT) AS len
        |FROM (SELECT doc_id, CASE WHEN doc_id BETWEEN 200 AND 249
        |        THEN text || ' v2' ELSE text END AS t
        |      FROM documents WHERE doc_id >= 100)
        |ORDER BY doc_id""".stripMargin,

    // mirrors Mixture.temperatureMixture's integer arithmetic exactly:
    // isqrt weights, HUGEINT quota/threshold floor division, md5 coin
    "doc_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT source, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM c),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw FROM w),
        |t AS (SELECT source, n, w, quota,
        |        CAST(CAST(quota AS HUGEINT) * 4294967296 // n AS BIGINT) AS thr
        |      FROM (SELECT source, n, w,
        |              LEAST(n, CAST(CAST(300 AS HUGEINT) * w // sumw AS BIGINT)) AS quota
        |            FROM w, tot)),
        |k AS (SELECT d.source, COUNT(*) AS kept FROM documents d
        |      JOIN t ON t.source = d.source
        |      WHERE ('0x' || substr(md5('tmix' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT < t.thr
        |      GROUP BY d.source)
        |SELECT t.source, CAST(t.n AS BIGINT) AS n_docs, t.w AS weight,
        |       CAST(t.quota AS BIGINT) AS quota,
        |       CAST(COALESCE(k.kept, 0) AS BIGINT) AS kept
        |FROM t LEFT JOIN k ON k.source = t.source ORDER BY t.source""".stripMargin,

    "doc_bpe" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |       x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens,
        |  true AS round_trip_ok, true AS bounds_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_bpe_ids" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |       x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens,
        |  true AS count_ok, true AS ids_in_range, true AS det_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_bpe_pack" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |       x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens,
        |  true AS uniform_bin, true AS budget_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // cross-split leakage: the exact Jaccard pair set joined against the
    // md5-coin split (thresholds floor(0.4·2³²)=1717986918,
    // floor(0.7·2³²)=3006477107 — integer, engine-identical)
    // edge staging mirrors the Spark side exactly: exact groups collapse
    // first (star edges keep_id<->member), near-dup Jaccard runs over one
    // representative per exact group
    "doc_split_leakage" -> (jaccardPairsSql(
      from = "documents JOIN exact_keep USING (doc_id)",
      prefixCtes =
        """eg AS (SELECT md5(text) AS h, min(doc_id) AS keep_id
          |  FROM documents GROUP BY 1),
          |exact_keep AS (SELECT keep_id AS doc_id FROM eg),
          |exact_edges AS (SELECT g.keep_id AS a, d.doc_id AS b
          |  FROM documents d JOIN eg g ON md5(d.text) = g.h
          |  WHERE d.doc_id <> g.keep_id),
          |""".stripMargin) +
      """,
        |all_edges AS (SELECT a, b FROM pairs UNION SELECT a, b FROM exact_edges),
        |sp AS (SELECT doc_id,
        |  CASE WHEN bk < 1717986918 THEN 'train'
        |       WHEN bk < 3006477107 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  ('0x' || substr(md5('leak1' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS bk
        |  FROM documents))
        |SELECT a, b, sa.split AS split_a, sb.split AS split_b
        |FROM all_edges JOIN sp sa ON sa.doc_id = a JOIN sp sb ON sb.doc_id = b
        |WHERE sa.split <> sb.split ORDER BY a, b""".stripMargin),

    // end-to-end preparation: funnel keep-rules, exact + near-dup closure
    // over the survivors, split coin — the three stages' oracle SQL
    // chained (keep rules mirror doc_filter_funnel; closure mirrors
    // doc_corpus_dedup; thresholds mirror doc_split_assign)
    "doc_prepare_corpus" -> (jaccardPairsSql(
      from = "documents JOIN keep0 USING (doc_id) JOIN exact_keep USING (doc_id)",
      prefixCtes =
        """keep0 AS (SELECT doc_id FROM (
          |  SELECT doc_id, lang, length(text) AS nc,
          |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS nt,
          |    len(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS nd
          |  FROM documents)
          |  WHERE nt >= 20 AND nc <= 500 AND nd * 3 >= nt AND lang = 'en'),
          |exact_keep AS (
          |  SELECT min(doc_id) AS doc_id FROM documents JOIN keep0 USING (doc_id)
          |  GROUP BY md5(text)),
          |""".stripMargin) +
      """,
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (SELECT a AS x, b AS y FROM edges
        |  UNION SELECT r.x, e.b AS y FROM reach r JOIN edges e ON e.a = r.y),
        |canon AS (SELECT x AS doc_id, least(x, MIN(y)) AS canonical_id
        |  FROM reach GROUP BY x)
        |SELECT k.doc_id AS doc_id, d.source,
        |  CASE WHEN d.bk < 3435973836 THEN 'train'
        |       WHEN d.bk < 3865470566 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM exact_keep k LEFT JOIN canon c ON c.doc_id = k.doc_id
        |JOIN (SELECT doc_id, source,
        |  ('0x' || substr(md5('prep1' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS bk
        |  FROM documents) d ON d.doc_id = k.doc_id
        |WHERE c.canonical_id IS NULL OR c.canonical_id = k.doc_id
        |ORDER BY k.doc_id""".stripMargin),

    // deterministic split: integer bucket thresholds (floor(0.8·2³²),
    // floor(0.9·2³²)) hardcoded identically on both sides so no float
    // boundary can disagree between engines
    "doc_split_assign" ->
      """SELECT doc_id, source,
        |  CASE WHEN b < 3435973836 THEN 'train'
        |       WHEN b < 3865470566 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |  ('0x' || substr(md5('split1' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS b
        |  FROM documents) ORDER BY doc_id""".stripMargin,

    "doc_heavy_hitters" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |  FROM documents),
        |tt AS (SELECT tok FROM t WHERE len(tok) > 0),
        |n AS (SELECT count(*) AS n FROM tt)
        |SELECT tok, CAST(count(*) AS BIGINT) AS freq
        |FROM tt GROUP BY tok
        |HAVING count(*) > (SELECT n FROM n) / 50
        |ORDER BY freq DESC, tok""".stripMargin,

    // sliding-window chunking: size 32, overlap 8, stride 24 — exact
    // string/integer oracle, short docs yield exactly one chunk
    "doc_chunks" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents)
        |SELECT doc_id, k AS chunk_idx,
        |  array_to_string(w[k*24+1 : k*24+32], ' ') AS chunk,
        |  CAST(least(32, len(w) - k*24) AS BIGINT) AS n_tokens
        |FROM t, unnest(generate_series(0,
        |  greatest(CAST(ceil((len(w)-8)/24.0) AS INT)-1, 0))) AS g(k)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // cross-corpus boilerplate removal: exhaustive segment doc-frequency
    // oracle — 4-token windows, segments verbatim-shared by >= 5 docs cut
    // everywhere, text rebuilt in order (string-exact, integer counts)
    "doc_boilerplate" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |seg AS (SELECT doc_id, k AS seg_idx,
        |    array_to_string(w[k*4+1 : k*4+4], ' ') AS seg
        |  FROM t, unnest(generate_series(0, CAST(ceil(len(w)/4.0) AS INT)-1)) AS g(k)),
        |df AS (SELECT seg FROM seg GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5),
        |j AS (SELECT s.doc_id, s.seg_idx, s.seg, d.seg IS NOT NULL AS rm
        |  FROM seg s LEFT JOIN df d ON s.seg = d.seg)
        |SELECT doc_id,
        |  coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE NOT rm), '')
        |    AS clean_text,
        |  CAST(count(*) FILTER (WHERE rm) AS BIGINT) AS n_removed
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // bigram novelty: integer-exact cross-document phrasing uniqueness
    // (sub-two-token docs drop out identically on both sides)
    // bigram-LM perplexity: same smoothing formula both engines; ln (DuckDB
    // log is base-10); milli-nat rounding absorbs per-term log ulp skew
    "doc_perplexity" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |bg AS (SELECT doc_id, w[k] AS w1, w[k+1] AS w2
        |  FROM t, unnest(generate_series(1, len(w)-1)) AS g(k)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v FROM
        |  (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |   FROM documents)),
        |sc AS (SELECT bg.doc_id,
        |    ln((COALESCE(c2.c2, 0) + 0.5) / (COALESCE(c1.c1, 0) + 0.5 * v.v)) AS lp
        |  FROM bg LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1), v)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(ROUND(-1000.0 * SUM(lp) / COUNT(*), 0) AS BIGINT) AS nll_milli
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same scores → per-lang integer tertiles → labels; thresholds with
    // the lengthQuantiles threshold algebra
    "doc_perplexity_buckets" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |bg AS (SELECT doc_id, w[k] AS w1, w[k+1] AS w2
        |  FROM t, unnest(generate_series(1, len(w)-1)) AS g(k)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v FROM
        |  (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |   FROM documents)),
        |sc AS (SELECT bg.doc_id,
        |    ln((COALESCE(c2.c2, 0) + 0.5) / (COALESCE(c1.c1, 0) + 0.5 * v.v)) AS lp
        |  FROM bg LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1), v),
        |pp AS (SELECT sc.doc_id, d.lang,
        |    CAST(ROUND(-1000.0 * SUM(lp) / COUNT(*), 0) AS BIGINT) AS nll_milli
        |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id
        |  GROUP BY sc.doc_id, d.lang),
        |h AS (SELECT lang, nll_milli AS val, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM pp GROUP BY 1, 2),
        |c AS (SELECT lang, val,
        |  SUM(cnt) OVER (PARTITION BY lang ORDER BY val) AS cum,
        |  SUM(cnt) OVER (PARTITION BY lang) AS n FROM h),
        |p AS (SELECT unnest([333, 667]) AS pm),
        |qv AS (SELECT lang, pm, MIN(val) AS q FROM c, p
        |  WHERE cum * 1000 >= pm * n GROUP BY 1, 2),
        |th AS (SELECT lang,
        |    MIN(CASE WHEN pm = 333 THEN q END) AS t1,
        |    MIN(CASE WHEN pm = 667 THEN q END) AS t2
        |  FROM qv GROUP BY 1)
        |SELECT doc_id, pp.lang, nll_milli,
        |  CASE WHEN nll_milli <= t1 THEN 'head'
        |       WHEN nll_milli <= t2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM pp JOIN th USING (lang) ORDER BY doc_id""".stripMargin,

    // buckets CTE (as above) → per-stratum rate → the mixture coin
    "doc_quality_mix" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |bg AS (SELECT doc_id, w[k] AS w1, w[k+1] AS w2
        |  FROM t, unnest(generate_series(1, len(w)-1)) AS g(k)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v FROM
        |  (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |   FROM documents)),
        |sc AS (SELECT bg.doc_id,
        |    ln((COALESCE(c2.c2, 0) + 0.5) / (COALESCE(c1.c1, 0) + 0.5 * v.v)) AS lp
        |  FROM bg LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1), v),
        |pp AS (SELECT sc.doc_id, d.lang,
        |    CAST(ROUND(-1000.0 * SUM(lp) / COUNT(*), 0) AS BIGINT) AS nll_milli
        |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id
        |  GROUP BY sc.doc_id, d.lang),
        |h AS (SELECT lang, nll_milli AS val, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM pp GROUP BY 1, 2),
        |c AS (SELECT lang, val,
        |  SUM(cnt) OVER (PARTITION BY lang ORDER BY val) AS cum,
        |  SUM(cnt) OVER (PARTITION BY lang) AS n FROM h),
        |p AS (SELECT unnest([333, 667]) AS pm),
        |qv AS (SELECT lang, pm, MIN(val) AS q FROM c, p
        |  WHERE cum * 1000 >= pm * n GROUP BY 1, 2),
        |th AS (SELECT lang,
        |    MIN(CASE WHEN pm = 333 THEN q END) AS t1,
        |    MIN(CASE WHEN pm = 667 THEN q END) AS t2
        |  FROM qv GROUP BY 1),
        |bk AS (SELECT doc_id,
        |    CASE WHEN nll_milli <= t1 THEN 'head'
        |         WHEN nll_milli <= t2 THEN 'middle'
        |         ELSE 'tail' END AS bucket
        |  FROM pp JOIN th USING (lang)),
        |sel AS (SELECT d.doc_id, d.source, bk.bucket,
        |    ('0x' || substr(md5('qmix1' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT AS coin,
        |    CASE bk.bucket WHEN 'head' THEN 1.0 WHEN 'middle' THEN 0.5
        |         WHEN 'tail' THEN 0.1 ELSE 0.0 END AS r
        |  FROM documents d JOIN bk USING (doc_id))
        |SELECT doc_id, source, bucket FROM sel
        |WHERE coin < CAST(floor(r * 4294967296.0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    "doc_bigram_novelty" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |bg AS (SELECT doc_id, w[k] || ' ' || w[k+1] AS bg
        |  FROM t, unnest(generate_series(1, len(w)-1)) AS g(k)),
        |db AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |f AS (SELECT bg, count(*) AS df FROM db GROUP BY 1)
        |SELECT db.doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
        |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unique_bigrams
        |FROM db JOIN f USING (bg) GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // corpus-frequency rarity profile — integer-exact (no float means)
    "doc_rarity" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |  FROM documents),
        |dt AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |f AS (SELECT tok, SUM(c) AS tf FROM dt GROUP BY 1)
        |SELECT dt.doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(SUM(c * tf) AS BIGINT) AS sum_tok_freq,
        |  CAST(SUM(CASE WHEN tf <= 100 THEN c ELSE 0 END) AS BIGINT) AS n_rare,
        |  SUM(CASE WHEN tf <= 100 THEN c ELSE 0 END) > 0 AS has_rare
        |FROM dt JOIN f USING (tok) GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin,

    // decontamination: exhaustive distinct-5-gram overlap between corpus
    // (doc_id >= 25) and benchmark (doc_id < 25) — gram construction
    // mirrors Dedup.withShingles (distinct windows, short docs truncate)
    "doc_decontaminate" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+4], ' ') FOR i IN range(1, greatest(len(w)-4, 1) + 1)])) AS g
        |  FROM toks),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 25)
        |SELECT s.doc_id, CAST(COUNT(DISTINCT s.g) AS BIGINT) AS n_matched_grams
        |FROM sh s JOIN bench b ON s.g = b.g
        |WHERE s.doc_id >= 25 GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // exact contamination recomputed in SQL; bloom_ok pins the sketch's
    // no-false-negative invariant (overblocking is spec-pinned instead —
    // no SQL engine reproduces the filter's bit layout)
    "doc_decontaminate_bloom" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+4], ' ') FOR i IN range(1, greatest(len(w)-4, 1) + 1)])) AS g
        |  FROM toks),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 25),
        |m AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b ON s.g = b.g
        |      WHERE s.doc_id >= 25)
        |SELECT d.doc_id, (m.doc_id IS NOT NULL) AS contaminated,
        |       true AS bloom_ok
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= 25) d
        |LEFT JOIN m ON m.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin,

    // exact top-20 token counts; both one-sided CMS error flags pinned
    "doc_cms_heavy_hitters" ->
      """WITH t AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents)
        |SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf,
        |       true AS cms_ge_ok, true AS cms_bound_ok
        |FROM t GROUP BY tok ORDER BY tf DESC, tok LIMIT 20""".stripMargin,

    // SimHash with the md5-derived portable token hash: DuckDB rebuilds
    // every 64-bit fingerprint bit-identically (hi/lo hex arithmetic keeps
    // everything in signed BIGINT range; bit 63 is applied as the signed
    // minimum), then the oracle is the EXHAUSTIVE hamming<=3 pair set — a
    // banding miss or cap misfire fails the gate, exactly how the minhash
    // oracle gate-checks LSH recall. Banding is provably lossless here:
    // hamming<=3 over 4 disjoint 16-bit bands leaves >=1 band identical.
    "doc_near_dup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS t
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    (('0x' || substr(md5(t),1,8))::BIGINT
        |      - CASE WHEN ('0x' || substr(md5(t),1,8))::BIGINT >= 2147483648
        |             THEN 4294967296 ELSE 0 END) * 4294967296
        |    + ('0x' || substr(md5(t),9,8))::BIGINT AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, j,
        |    CASE WHEN SUM(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) > 0
        |         THEN 1 ELSE 0 END AS bit
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS j) bits
        |  GROUP BY doc_id, j),
        |sim AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN j = 63 THEN bit * (-9223372036854775808)
        |                  ELSE bit * (1::BIGINT << j) END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
        |FROM sim x JOIN sim y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
        |ORDER BY a, b""".stripMargin
    // emb_knn_lsh / emb_knn_ivf emit their approximation contract (overlap
    // vs the exact kNN) — see their entries above
  )

  /** The autogen rows answer the SAME queries as their manual-catalog
    * twins (the probed catalog discovers the keys and links the manual one
    * declares), so they share one oracle text each — the gate then proves
    * catalog generation changes results not at all. */
  private def autogenOracles: Map[String, String] =
    Map(
      "autogen_optional" -> "sparql_optional",
      "autogen_union" -> "sparql_union",
      "autogen_agg_group" -> "sparql_agg_group",
      "autogen_path" -> "sparql_path",
      "autogen_minus" -> "sparql_minus",
      "autogen_exists" -> "sparql_exists",
      "autogen_topk" -> "sparql_topk",
      "autogen_construct" -> "sparql_construct",
      // the two-endpoint federation answers the same rollup as the
      // single-endpoint row — one relational truth for both (and for the
      // exclusive-group-dispatch variant of the same federation)
      "autogen_endpoint_federation" -> "autogen_endpoint_join",
      "autogen_endpoint_federation_shipped" -> "autogen_endpoint_join",
      // the broadened wire surface shares the manual twins' oracles:
      // OPTIONAL/path/CONSTRUCT results must not depend on whether the
      // catalog was declared, lake-probed, or wire-probed
      "autogen_endpoint_optional" -> "sparql_optional",
      "autogen_endpoint_path" -> "sparql_path",
      "autogen_endpoint_construct" -> "sparql_construct",
      // the pushed-FILTER scan answers the manual twin's selective scan
      "autogen_endpoint_filter" -> "sparql_scan_filter",
      // whole-query dispatch: shipped answers equal the manual twins'
      "autogen_endpoint_shipped_agg" -> "sparql_agg_group",
      "autogen_endpoint_shipped_join" -> "sparql_join_chain",
      "autogen_endpoint_shipped_topk" -> "sparql_topk",
      "autogen_endpoint_shipped_ask" -> "sparql_ask",
      "autogen_endpoint_shipped_construct" -> "sparql_construct",
      // cost-based routing: whichever route Auto picks, answers must
      // equal the manual twins'
      "autogen_endpoint_route_agg" -> "sparql_agg_group",
      "autogen_endpoint_route_scan" -> "sparql_scan_filter",
      // shipped DESCRIBE equals the local twin's N-Triples
      "autogen_endpoint_shipped_describe" -> "sparql_describe")
      .map { case (auto, manual) => auto -> baseOracles(manual) } ++
    Map(
      // streaming replay gates that share a batch row's oracle verbatim:
      // the stream's final state must equal the batch computation
      "q_stream_cdc_compact" -> baseOracles("lake_compact_log"),
      // streamed ER admission must label exactly like the one-shot run
      "q_stream_er" -> baseOracles("q_entity_resolution"),
      // streaming survivorship must equal the batch golden records —
      // the oracle is q_golden_records' verbatim
      "q_stream_golden" -> baseOracles("q_golden_records"),
      // the streamed CDC→snapshot fold must land on the batch
      // applyCdc(compactLog(log)) table: %20 keys deleted (their D is
      // the last op), %10 repriced by the surviving U, the rest intact
      // the replica fed ONLY by snapshotChanges must land on the same
      // table as the CDC fold itself
      "q_stream_changes_feed" ->
        """SELECT o_orderkey, o_custkey,
          |  CASE WHEN o_orderkey % 10 = 0 THEN 'U'
          |       ELSE o_orderstatus END AS o_orderstatus,
          |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 5.0
          |       ELSE o_totalprice END AS o_totalprice
          |FROM orders WHERE o_orderkey % 20 <> 0
          |ORDER BY o_orderkey""".stripMargin,
      // the replica fed by the lake-as-source stream lands on the same
      // CDC-fold table
      "q_stream_lake_feed" ->
        """SELECT o_orderkey, o_custkey,
          |  CASE WHEN o_orderkey % 10 = 0 THEN 'U'
          |       ELSE o_orderstatus END AS o_orderstatus,
          |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 5.0
          |       ELSE o_totalprice END AS o_totalprice
          |FROM orders WHERE o_orderkey % 20 <> 0
          |ORDER BY o_orderkey""".stripMargin,
      "q_stream_cdc_snapshot" ->
        """SELECT o_orderkey, o_custkey,
          |  CASE WHEN o_orderkey % 10 = 0 THEN 'U'
          |       ELSE o_orderstatus END AS o_orderstatus,
          |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 5.0
          |       ELSE o_totalprice END AS o_totalprice
          |FROM orders WHERE o_orderkey % 20 <> 0
          |ORDER BY o_orderkey""".stripMargin,
      // exclusive-PATTERN dispatch rows have no manual twin with the same
      // shape — fresh relational truths. The shipped OPTIONAL's inner
      // FILTER makes ?rname unbound for non-matching regions (every
      // nation HAS a region, so the pad comes from the filter alone).
      "autogen_endpoint_federation_optional" ->
        """WITH nr AS (
          |  SELECT n_nationkey, n_name AS nname,
          |    CASE WHEN r_name LIKE '%A%' THEN r_name END AS rname
          |  FROM nation JOIN region ON n_regionkey = r_regionkey)
          |SELECT nname, rname, CAST(COUNT(c_custkey) AS BIGINT) AS ncust
          |FROM nr JOIN customer ON c_nationkey = n_nationkey
          |GROUP BY nname, rname ORDER BY nname""".stripMargin,
      "autogen_endpoint_federation_union" ->
        """SELECT x FROM (SELECT n_name AS x FROM nation
          |  UNION ALL SELECT r_name FROM region) ORDER BY x""".stripMargin)

  /** Exact top-5 cosine kNN for the three probe queries as a DuckDB CTE;
    * shared by the brute oracle and both ANN recall gates. */
  private val EXACT_KNN_CTE =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings WHERE vec_id < 3),
      |exact AS (SELECT q_id, vec_id, rank FROM (
      |  SELECT q_id, e.vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY list_cosine_similarity(qe, CAST(e.embedding AS DOUBLE[])) DESC,
      |               e.vec_id) AS rank
      |  FROM q, embeddings e WHERE e.vec_id <> q_id)
      |WHERE rank <= 5)""".stripMargin

  /** Exact word-3-gram Jaccard pairs (threshold 0.7) as a DuckDB CTE
    * chain; shared by the near-dup, cluster, and end-to-end dedup
    * oracles — ONE definition of the shingle semantics (slice bounds,
    * short-doc rule, threshold), so the gates can never drift apart.
    * `prefixCtes` lets a caller plant CTEs ahead of `toks` (e.g. an
    * exact-survivor filter), `from` is the relation `toks` reads. */
  private def jaccardPairsSql(from: String = "documents",
                              prefixCtes: String = ""): String =
    s"""WITH RECURSIVE ${prefixCtes}toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM $from),
      |sh AS (SELECT doc_id, list_distinct(
      |    [array_to_string(w[i:i+2], ' ') FOR i IN range(1, greatest(len(w)-2, 1) + 1)]) AS s
      |  FROM toks),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |common AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
      |pairs AS (SELECT a, b
      |  FROM common JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      |  WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.7)""".stripMargin

  private val JACCARD_PAIRS_SQL = jaccardPairsSql()
}
