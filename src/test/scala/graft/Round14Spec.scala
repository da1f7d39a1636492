package graft

import org.apache.spark.sql.types._

import graft.algebra._
import graft.api.{Graft, GraftServer, TpchCatalog}
import graft.decomposer.{Decomposer, ProvablyEmptyException}
import graft.mapping._

/** Round-14: inter-concept link metadata wired into join-link pruning
  * (the r13 verdict's top ask), endpoint paging made robust to
  * multi-valued predicates, and the datatype sniff made sample-based. */
class Round14Spec extends SparkTestBase {

  private val epMolTypes = Set("urn:g:Customer", "urn:g:Nation", "urn:g:Region")

  private def scopedGraft(types: Set[String]): Graft =
    Graft.overParquetDir(Catalog(
      TpchCatalog.catalog.molecules.filter(m => types.contains(m.rdfType))),
      sfDir)(spark)

  /** The deliberately ambiguous BGP: the ?n star carries only g:name, which
    * Customer, Nation AND Region all serve — only link knowledge about
    * (Customer, g:nation) can resolve it. */
  private val ambiguousTriples = List(
    TriplePattern(Var("c"), Iri(Terms.RdfType), Iri("urn:g:Customer")),
    TriplePattern(Var("c"), Iri("urn:g:nation"), Var("n")),
    TriplePattern(Var("n"), Iri("urn:g:name"), Var("nname")))

  // ---- pure decomposer-level pruning ----------------------------------------

  private def refMol(t: String, table: String, preds: String*): Molecule =
    Molecule(rdfType = t, table = table, subject = Template("{s}"),
      predicates = preds.map(p => p -> (RefMap(p.stripPrefix("urn:g:")): TermMap)).toMap,
      source = "ep")

  test("link metadata prunes an ambiguous star to the probed range concept") {
    val cat = Catalog(
      List(
        refMol("urn:g:Customer", "customer", "urn:g:name", "urn:g:nation"),
        refMol("urn:g:Nation", "nation", "urn:g:name", "urn:g:region"),
        refMol("urn:g:Region", "region", "urn:g:name")),
      links = Map(
        ("urn:g:Customer", "urn:g:nation") -> List("urn:g:Nation"),
        ("urn:g:Nation", "urn:g:region") -> List("urn:g:Region")))
    val stars = Decomposer.decompose(ambiguousTriples, cat)
    val nStar = stars.find(_.subject == Var("n")).get
    assert(nStar.sources.map(_.primary.rdfType) == List("urn:g:Nation"),
      s"link pruning should leave exactly the Nation candidate, got ${nStar.sources.map(_.primary.rdfType)}")
    // without links the same star stays 3-way ambiguous (RefMap signatures
    // are unconstrained, so the template pass can't help either)
    val unpruned = Decomposer.decompose(ambiguousTriples, cat.copy(links = Map.empty))
    assert(unpruned.find(_.subject == Var("n")).get.sources.size == 3)
  }

  private val emptyRangeCatalog = Catalog(
    List(
      refMol("urn:g:Customer", "customer", "urn:g:name", "urn:g:nation"),
      refMol("urn:g:Nation", "nation", "urn:g:name")),
    // authoritative claim: nation objects are instances of NOTHING here
    links = Map(("urn:g:Customer", "urn:g:nation") -> Nil))

  test("links declaring an empty range prove the join empty, not ambiguous") {
    intercept[ProvablyEmptyException] {
      Decomposer.decompose(ambiguousTriples, emptyRangeCatalog)
    }
  }

  test("explain reports a provably empty BGP as the compiler decided it") {
    val s = spark
    import s.implicits._
    val g = new Graft(emptyRangeCatalog, Map(
      "customer" -> Seq(("c1", "Ann", "n1")).toDF("s", "name", "nation"),
      "nation" -> Seq(("n1", "Narnia")).toDF("s", "name")))(spark)
    val q = """SELECT ?c ?nname WHERE {
              |  ?c a <urn:g:Customer> ; <urn:g:nation> ?n .
              |  ?n <urn:g:name> ?nname }""".stripMargin
    assert(g.sparql(q).count() == 0)
    val report = g.explain(q)
    assert(report.contains("Decomposition (0 stars"), report.take(300))
    assert(report.contains("bgp {3 triples}: provably empty"), report.take(300))
    assert(report.contains("== Physical Plan =="))
  }

  test("absent link entries never prune (unknown is not authority)") {
    val cat = Catalog(
      List(
        refMol("urn:g:Customer", "customer", "urn:g:name", "urn:g:nation"),
        refMol("urn:g:Nation", "nation", "urn:g:name", "urn:g:region"),
        refMol("urn:g:Region", "region", "urn:g:name")),
      // some OTHER predicate is probed; g:nation itself is not
      links = Map(("urn:g:Nation", "urn:g:region") -> List("urn:g:Region")))
    val stars = Decomposer.decompose(ambiguousTriples, cat)
    assert(stars.find(_.subject == Var("n")).get.sources.size == 3)
  }

  // ---- wire-probed catalog: pruning + provably-empty over HTTP --------------

  test("wire-probed links prune the ambiguous star and answer correctly") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val server = new GraftServer(scopedGraft(epMolTypes))
    val port = server.start()
    try {
      val probed = EndpointCatalogGen.probe(s"http://127.0.0.1:$port/sparql")
      // the decomposition over the wire catalog resolves ?n to Nation alone
      val stars = Decomposer.decompose(ambiguousTriples, probed.catalog)
      val nStar = stars.find(_.subject == Var("n")).get
      assert(nStar.sources.map(_.primary.rdfType) == List("urn:g:Nation"))
      // and the full query matches the relational truth
      val g = new Graft(probed.catalog, probed.loader)
      val got = g.sparql(
        """PREFIX g: <urn:g:>
          |SELECT ?c ?nname WHERE {
          |  ?c a g:Customer ; g:nation ?n .
          |  ?n g:name ?nname .
          |} ORDER BY ?c""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      import org.apache.spark.sql.functions.col
      val want = spark.read.parquet(s"$sfDir/customer.parquet")
        .join(spark.read.parquet(s"$sfDir/nation.parquet"),
          col("c_nationkey") === col("n_nationkey"))
        .selectExpr("'urn:g:cust:' || c_custkey AS c", "n_name AS nname")
        .orderBy("c")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got.nonEmpty && got == want)
      // a type-contradicting chain is PROVABLY empty through the link map
      // (count 0, not an error): customer.nation never reaches a Region
      val zero = g.sparql(
        """PREFIX g: <urn:g:>
          |SELECT (COUNT(?c) AS ?count) WHERE {
          |  ?c a g:Customer ; g:nation ?n .
          |  ?n a g:Region ; g:name ?x .
          |}""".stripMargin).collect()
      assert(zero.length == 1 && zero(0).getLong(0) == 0L)
    } finally server.stop()
  }

  test("federation cross-endpoint containment probe restores split links") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // customer lives on endpoint A; nation+region on endpoint B — within-
    // endpoint probing alone would claim (Customer, g:nation) links NOTHING
    // (an authoritative empty claim that would mis-prune the federation);
    // the cross-endpoint containment probe must restore the Nation range
    val srvA = new GraftServer(scopedGraft(Set("urn:g:Customer")))
    val srvB = new GraftServer(scopedGraft(Set("urn:g:Nation", "urn:g:Region")))
    val pa = srvA.start(); val pb = srvB.start()
    try {
      val epA = s"http://127.0.0.1:$pa/sparql"
      val epB = s"http://127.0.0.1:$pb/sparql"
      val probeA = EndpointCatalogGen.probe(epA)
      val probeB = EndpointCatalogGen.probe(epB)
      assert(probeA.links == Map(("urn:g:Customer", "urn:g:nation") -> Nil),
        "within-endpoint probe can't see the cross-endpoint range")
      val links = EndpointCatalogGen.crossLinks(
        Seq(epA -> probeA, epB -> probeB))
      assert(links(("urn:g:Customer", "urn:g:nation")) == List("urn:g:Nation"))
      assert(links(("urn:g:Nation", "urn:g:region")) == List("urn:g:Region"))
      // the federated Graft prunes the ambiguous star across endpoints...
      val g = Graft.overSparqlEndpoints(Seq(epA, epB))
      val stars = Decomposer.decompose(ambiguousTriples, g.catalog)
      assert(stars.find(_.subject == Var("n")).get.sources
        .map(_.primary.rdfType) == List("urn:g:Nation"))
      // ...and still answers the ambiguous query correctly
      val got = g.sparql(
        """PREFIX g: <urn:g:>
          |SELECT ?nname (COUNT(?c) AS ?ncust) WHERE {
          |  ?c a g:Customer ; g:nation ?n .
          |  ?n g:name ?nname .
          |} GROUP BY ?nname ORDER BY ?nname""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      import org.apache.spark.sql.functions.col
      val want = spark.read.parquet(s"$sfDir/customer.parquet")
        .join(spark.read.parquet(s"$sfDir/nation.parquet"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").count().orderBy("n_name")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got.nonEmpty && got == want)
    } finally { srvA.stop(); srvB.stop() }
  }

  // ---- fingerprint-keyed probe cache ----------------------------------------

  test("probe cache: a content-identical endpoint pays only the skeleton queries") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val srv1 = new GraftServer(scopedGraft(epMolTypes))
    val p1 = srv1.start()
    val (fp1, probed1) =
      try EndpointCatalogGen.probeCached(s"http://127.0.0.1:$p1/sparql")
      finally srv1.stop()
    // SAME data behind a NEW server/port: the cache must rebind, not re-probe
    val srv2 = new GraftServer(scopedGraft(epMolTypes))
    val p2 = srv2.start()
    try {
      val ep2 = s"http://127.0.0.1:$p2/sparql"
      val (fp2, probed2) = EndpointCatalogGen.probeCached(ep2)
      assert(fp2 == fp1)
      // warm path = concept sweep + per-concept (predicates + cardinality
      // + the r15 value sample that makes the fingerprint content-
      // sensitive): 1 + 3·3 = 10 requests, ZERO sniff/link/fetch probes
      assert(srv2.queriesServed.get() == 10L,
        s"warm probe should cost exactly the skeleton, served ${srv2.queriesServed.get()}")
      assert(probed2.catalog.molecules.map(_.copy(source = "")) ==
        probed1.catalog.molecules.map(_.copy(source = "")))
      assert(probed2.links == probed1.links)
      // and the rebound loaders fetch from the NEW endpoint correctly
      val n = probed2.loader("nation").count()
      assert(n == spark.read.parquet(s"$sfDir/nation.parquet").count())
    } finally srv2.stop()
  }

  test("federation cross-link probes are cached by member fingerprints") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    def boot() = {
      val a = new GraftServer(scopedGraft(Set("urn:g:Customer")))
      val b = new GraftServer(scopedGraft(Set("urn:g:Nation", "urn:g:Region")))
      (a, a.start(), b, b.start())
    }
    val (a1, pa1, b1, pb1) = boot()
    try Graft.overSparqlEndpoints(Seq(
      s"http://127.0.0.1:$pa1/sparql", s"http://127.0.0.1:$pb1/sparql"))
    finally { a1.stop(); b1.stop() }
    val (a2, pa2, b2, pb2) = boot()
    try {
      val g = Graft.overSparqlEndpoints(Seq(
        s"http://127.0.0.1:$pa2/sparql", s"http://127.0.0.1:$pb2/sparql"))
      // warm: per endpoint only its skeleton incl. the r15 value sample
      // (1 concept → 4; 2 concepts → 7), zero cross-endpoint containment
      // probes
      assert(a2.queriesServed.get() == 4L,
        s"endpoint A warm probe, served ${a2.queriesServed.get()}")
      assert(b2.queriesServed.get() == 7L,
        s"endpoint B warm probe, served ${b2.queriesServed.get()}")
      assert(g.catalog.links(("urn:g:Customer", "urn:g:nation")) ==
        List("urn:g:Nation"))
    } finally { a2.stop(); b2.stop() }
  }

  // ---- paging robustness under multi-valued predicates ----------------------

  /** Minimal SPARQL endpoint whose one concept fans out: 3 subjects with
    * 2, 3 and 2 values — 7 solution rows against a subject-count of 3. A
    * GraftServer over tabular molecules can't produce this shape, so the
    * fixture serves SRJ documents directly, honouring LIMIT/OFFSET, and
    * records every query text it receives. */
  private def fanOutServer()
  : (com.sun.net.httpserver.HttpServer, Int, java.util.Queue[String]) = {
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rows = Seq(
      ("urn:t:s1", "a"), ("urn:t:s1", "b"),
      ("urn:t:s2", "c"), ("urn:t:s2", "d"), ("urn:t:s2", "e"),
      ("urn:t:s3", "f"), ("urn:t:s3", "g"))
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/sparql", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val q = java.net.URLDecoder.decode(
        body.split("&").find(_.startsWith("query=")).get.drop(6), "UTF-8")
      received.add(q)
      val lim = "LIMIT (\\d+)".r.findFirstMatchIn(q).map(_.group(1).toInt)
        .getOrElse(rows.size)
      val off = "OFFSET (\\d+)".r.findFirstMatchIn(q).map(_.group(1).toInt)
        .getOrElse(0)
      val page = rows.slice(off, off + lim)
      val bindings = page.map { case (s, v) =>
        s"""{"s":{"type":"uri","value":"$s"},"v":{"type":"literal","value":"$v"}}"""
      }.mkString(",")
      val doc = s"""{"head":{"vars":["s","v"]},"results":{"bindings":[$bindings]}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/sparql-results+json")
      ex.sendResponseHeaders(200, doc.length)
      ex.getResponseBody.write(doc); ex.close()
    })
    srv.start()
    (srv, srv.getAddress.getPort, received)
  }

  /** A concept scan over `port`, as [[EndpointCatalogGen]] binds one. */
  private def conceptScan(port: Int, tpe: String,
                          cols: List[(String, String)], pageSize: Int,
                          cardinality: Long) =
    spark.read.format("graft.sources.SparqlEndpointSource")
      .schema(StructType(("s" :: cols.map(_._2)).map(
        StructField(_, StringType))))
      .option("endpoint", s"http://127.0.0.1:$port/sparql")
      .option("type", tpe)
      .option("cols", graft.sources.SparqlEndpointSource.encodeCols(cols))
      .option("pageSize", pageSize.toString)
      .option("cardinality", cardinality.toString)
      .load()

  test("the concept scan's cardinality is a plan hint: the tail range pages past it") {
    val (srv, port, received) = fanOutServer()
    try {
      // probed subject-cardinality 3, page size 2: a truncating reader
      // would stop at 4 rows; the tail range must keep paging to 7
      val df = conceptScan(port, "urn:t:T", List("urn:t:p" -> "v"),
        pageSize = 2, cardinality = 3L)
      val got = df.collect().map(r => (r.getString(0), r.getString(1))).sorted
      assert(got.length == 7, s"expected all 7 fan-out rows, got ${got.length}")
      assert(got.distinct.length == 7, "no page-boundary duplicates")
      // the hint replaced the sizing COUNT: pages only
      import scala.jdk.CollectionConverters._
      assert(received.asScala.forall(_.contains(" LIMIT 2 OFFSET ")),
        s"an unfiltered hinted scan sends pages only:\n${received.asScala.mkString("\n")}")
    } finally srv.stop(0)
  }

  test("per-concept fetch orders by subject AND every fetched variable") {
    val (srv, port, received) = fanOutServer()
    try {
      import scala.jdk.CollectionConverters._
      def sent(cols: List[(String, String)]): Seq[String] = {
        received.clear()
        conceptScan(port, "urn:g:Nation", cols, pageSize = 10,
          cardinality = 3L).collect()
        received.asScala.toSeq
      }
      val pages = sent(List("urn:g:name" -> "name", "urn:g:region" -> "region"))
      assert(pages.nonEmpty && pages.forall(q =>
        q.startsWith("SELECT ?s ?name ?region WHERE { ?s a <urn:g:Nation> .") &&
          q.endsWith("ORDER BY ?s ?name ?region LIMIT 10 OFFSET 0")),
        s"pagination sort key must be total:\n${pages.mkString("\n")}")
      // no predicates: still subject-ordered, no trailing garbage
      assert(sent(Nil).forall(_.endsWith("} ORDER BY ?s LIMIT 10 OFFSET 0")))
    } finally srv.stop(0)
  }

  // ---- DSv2 endpoint scan: pruning + filter pushdown ------------------------

  test("filter translation: Catalyst filters become SPARQL FILTER bodies") {
    import org.apache.spark.sql.sources._
    val types: Map[String, org.apache.spark.sql.types.DataType] = Map(
      "s" -> StringType, "name" -> StringType, "bal" -> DoubleType,
      "n" -> LongType, "ok" -> BooleanType, "d" -> DateType)
    def t(f: Filter) = graft.sources.SparqlEndpointSource.toSparql(f, types)
    assert(t(EqualTo("name", "x\"y")) == Some("STR(?name) = \"x\\\"y\""))
    assert(t(GreaterThan("bal", 1.5)) == Some("?bal > 1.5"))
    assert(t(In("n", Array(1L, 2L))) == Some("?n IN (1, 2)"))
    assert(t(IsNotNull("name")) == Some("BOUND(?name)"))
    assert(t(StringContains("name", "ab")) ==
      Some("CONTAINS(STR(?name), \"ab\")"))
    assert(t(Or(EqualTo("n", 1L), And(LessThan("bal", 2.0), IsNull("ok")))) ==
      Some("(?n = 1 || (?bal < 2.0 && !BOUND(?ok)))"))
    // untranslatable shapes stay Spark-side: dates, unknown columns,
    // non-finite literals, mixed Or
    assert(t(EqualTo("d", java.sql.Date.valueOf("2020-01-01"))).isEmpty)
    assert(t(EqualTo("ghost", "x")).isEmpty)
    assert(t(GreaterThan("bal", Double.NaN)).isEmpty)
    assert(t(Or(EqualTo("n", 1L), EqualTo("ghost", "x"))).isEmpty)
  }

  test("buildQuery keeps filter-only columns in the pattern, out of the projection") {
    val (sel, body, order) = graft.sources.SparqlEndpointSource.buildQuery(
      "urn:g:Customer",
      List("urn:g:name" -> "name", "urn:g:mktsegment" -> "mktsegment",
        "urn:g:acctbal" -> "acctbal"),
      required = Seq("s", "name"),
      filters = Seq("STR(?mktsegment) = \"BUILDING\""),
      filterCols = Set("mktsegment"))
    assert(sel == "?s ?name")
    assert(body.contains("OPTIONAL { ?s <urn:g:mktsegment> ?mktsegment }"))
    assert(!body.contains("acctbal"), s"unused predicate must be pruned:\n$body")
    assert(body.contains("FILTER (STR(?mktsegment) = \"BUILDING\")"))
    assert(order == "?s ?name")
  }

  test("endpoint scans push filters and prune columns into the remote query") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val server = new GraftServer(scopedGraft(epMolTypes))
    val port = server.start()
    try {
      val g = Graft.overSparqlEndpoint(s"http://127.0.0.1:$port/sparql")
      val df = g.sparql(
        """PREFIX g: <urn:g:>
          |SELECT ?c ?name WHERE {
          |  ?c a g:Customer ; g:name ?name ; g:mktsegment "BUILDING" .
          |} ORDER BY ?c""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      // the scan description carries the translated FILTER and the pruned
      // column list — mktsegment is filter-only, acctbal is gone entirely
      assert(plan.contains("pushed:"), s"no pushdown in plan:\n$plan")
      assert(plan.contains("mktsegment") && !plan.contains("acctbal"),
        s"column pruning missing:\n$plan")
      val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      import org.apache.spark.sql.functions.col
      val want = spark.read.parquet(s"$sfDir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
        .selectExpr("'urn:g:cust:' || c_custkey AS c", "c_name AS name")
        .orderBy("c")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got.nonEmpty && got == want)
    } finally server.stop()
  }

  // ---- GraftExtensions wiring, end-to-end -----------------------------------

  test("a withExtensions session serves the injected SQL surface (3-arg topk_ids)") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    // getOrCreate with no active/default session builds a NEW SparkSession
    // on the shared SparkContext and applies the builder's extensions —
    // the real spark.sql.extensions deployment path, not a temp-function
    // stand-in
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    try {
      assert(s2 ne base)
      val top = s2.sql(
        "SELECT topk_ids(s, i, 2) AS top FROM VALUES (1.0D, 10L), " +
          "(3.0D, 30L), (2.0D, 20L) AS t(s, i)")
        .collect()(0).getSeq[Long](0)
      assert(top == Seq(30L, 20L))
      // the extension's builder REQUIRES the k literal — 2-arg is its
      // declared error, surfaced through analysis
      val e = intercept[Exception] {
        s2.sql("SELECT topk_ids(s, i) FROM VALUES (1.0D, 10L) AS t(s, i)")
          .collect()
      }
      def messages(t: Throwable): List[String] =
        if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("topk_ids needs (score, id, k)")),
        s"expected the builder's own error, got ${messages(e)}")
      // a scalar injected function through the same wiring
      assert(s2.sql("SELECT blocklist_terms('a bad doc', 'bad', 'worse') AS n")
        .collect()(0).getLong(0) == 1L)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  // ---- sample-based datatype sniffing ---------------------------------------

  /** Endpoint whose predicate serves mixed datatypes: first binding integer,
    * later ones plain strings — a first-row sniffer would mistype LongType
    * and the fetch cast would throw on "oops". */
  private def mixedTypeServer(): (com.sun.net.httpserver.HttpServer, Int) = {
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/sparql", (ex: com.sun.net.httpserver.HttpExchange) => {
      val doc =
        """{"head":{"vars":["v"]},"results":{"bindings":[
          |{"v":{"type":"literal","datatype":"http://www.w3.org/2001/XMLSchema#integer","value":"7"}},
          |{"v":{"type":"literal","value":"oops"}}
          |]}}""".stripMargin.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/sparql-results+json")
      ex.sendResponseHeaders(200, doc.length)
      ex.getResponseBody.write(doc); ex.close()
    })
    srv.start()
    (srv, srv.getAddress.getPort)
  }

  test("mixed-datatype predicates sniff as StringType, not the first row's type") {
    val (srv, port) = mixedTypeServer()
    try {
      val (dt, isUri) = EndpointCatalogGen.sniffTypeKind(
        s"http://127.0.0.1:$port/sparql", "urn:t:T", "urn:t:p")
      assert(dt == StringType && !isUri)
    } finally srv.stop(0)
  }

  // ---- whole-query dispatch (QueryShip) --------------------------------------

  /** Query-fixture battery covering every renderable feature class. */
  private val shipFixtures: Seq[(String, String)] = Seq(
    "agg_group" ->
      """PREFIX g: <urn:g:>
        |SELECT ?seg (COUNT(*) AS ?cnt) (SUM(?bal) AS ?total) WHERE {
        |  ?c a g:Customer ; g:mktsegment ?seg ; g:acctbal ?bal .
        |} GROUP BY ?seg ORDER BY ?seg""".stripMargin,
    "agg_having_concat" ->
      """PREFIX g: <urn:g:>
        |SELECT ?seg (GROUP_CONCAT(DISTINCT ?nname ; SEPARATOR = "|") AS ?ns) WHERE {
        |  ?c a g:Customer ; g:mktsegment ?seg ; g:nation ?n .
        |  ?n g:name ?nname .
        |} GROUP BY ?seg HAVING (COUNT(*) > 2) ORDER BY ?seg""".stripMargin,
    "agg_expr" ->
      """PREFIX g: <urn:g:>
        |SELECT ?seg (SUM(?bal) / COUNT(*) AS ?avg_bal) WHERE {
        |  ?c a g:Customer ; g:mktsegment ?seg ; g:acctbal ?bal .
        |} GROUP BY ?seg ORDER BY ?seg""".stripMargin,
    "distinct_mod" ->
      """PREFIX g: <urn:g:>
        |SELECT DISTINCT ?seg WHERE { ?c g:mktsegment ?seg }
        |ORDER BY ?seg LIMIT 3 OFFSET 1""".stripMargin,
    "topk" ->
      """PREFIX g: <urn:g:>
        |SELECT ?c ?bal WHERE { ?c a g:Customer ; g:acctbal ?bal }
        |ORDER BY DESC(?bal) ?c LIMIT 5""".stripMargin,
    "union_optional" ->
      """PREFIX g: <urn:g:>
        |SELECT ?ent ?n ?rname WHERE {
        |  { ?ent a g:Customer ; g:name ?n } UNION { ?ent a g:Nation ; g:name ?n }
        |  OPTIONAL { ?ent g:region ?r . ?r g:name ?rname }
        |} ORDER BY ?ent""".stripMargin,
    "minus_values_bind" ->
      """PREFIX g: <urn:g:>
        |SELECT ?c ?tag WHERE {
        |  ?c a g:Customer ; g:mktsegment ?seg .
        |  VALUES ?seg { "BUILDING" "MACHINERY" }
        |  BIND (UCASE(?seg) AS ?tag)
        |  MINUS { ?c g:acctbal ?b . FILTER (?b < 0) }
        |} ORDER BY ?c""".stripMargin,
    "exists_filter" ->
      """PREFIX g: <urn:g:>
        |SELECT ?n ?nname WHERE {
        |  ?n a g:Nation ; g:name ?nname .
        |  FILTER EXISTS { ?c g:nation ?n }
        |  FILTER (STRLEN(?nname) > 4 && ?nname != "FRANCE")
        |} ORDER BY ?n""".stripMargin,
    "subquery" ->
      """PREFIX g: <urn:g:>
        |SELECT ?c ?bal WHERE {
        |  ?c g:acctbal ?bal .
        |  { SELECT ?c WHERE { ?c a g:Customer ; g:mktsegment "BUILDING" } }
        |} ORDER BY ?c""".stripMargin,
    "path_closure" ->
      """PREFIX g: <urn:g:>
        |SELECT ?n ?r WHERE { ?n a g:Nation . ?n (g:region)+ ?r }
        |ORDER BY ?n ?r""".stripMargin)

  /** Row canon with doubles rounded to 4 decimals: a SUM over doubles is
    * order-dependent (FP non-associativity), and the remote engine sums in
    * its own partition order — last-ulp divergence is inherent, not a
    * shipping defect. */
  private def canonRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double =>
        BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
      case v => String.valueOf(v)
    }.mkString("[", ",", "]")).sorted.toSeq

  test("SparqlText braces non-leaf operands: a left-arm FILTER must not " +
    "re-associate to group end at the remote store") {
    import graft.algebra._
    import graft.compiler.SparqlText
    import graft.parser.SparqlParser
    val A = Pattern.Bgp(List(TriplePattern(Var("n"),
      Iri(Terms.RdfType), Iri("urn:g:Nation"))))
    val B = Pattern.Bgp(List(TriplePattern(Var("n"),
      Iri("urn:g:region"), Var("r"))))
    val C = Pattern.Bgp(List(TriplePattern(Var("r"),
      Iri("urn:g:name"), Var("rn"))))
    val f = Expr.Cmp(">", Expr.TermRef(Var("r")),
      Expr.TermRef(Lit("5", Some(Terms.XsdInt))))
    // unbraced these re-parse as DIFFERENT algebra: the filter hoists to
    // the enclosing group's end (seeing OPTIONAL-bound vars), and a bare
    // OPTIONAL attaches to everything before it
    val shapes: Seq[Pattern] = Seq(
      Pattern.LeftJoin(Pattern.Filter(f, A), B, None),
      Pattern.Join(A, Pattern.LeftJoin(B, C, None)),
      Pattern.Minus(Pattern.Filter(f, A), B),
      Pattern.Exists(Pattern.Filter(f, A), B, true))
    shapes.foreach { p =>
      val text = s"SELECT * WHERE { ${SparqlText.pattern(p)} }"
      val reparsed = SparqlParser.parseUnsafe(text).pattern
      assert(reparsed == p, s"scope drifted for:\n$p\nvia\n$text\nto\n$reparsed")
    }
  }

  test("SparqlText.query: rendered fixtures re-parse to result-identical queries") {
    val g = scopedGraft(epMolTypes)
    for ((name, text) <- shipFixtures) {
      val q = graft.parser.SparqlParser.parseUnsafe(text)
      val rendered = graft.compiler.SparqlText.query(q)
      val a = g.sparql(text).collect().map(_.toString).sorted.toSeq
      val b = g.sparql(rendered).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"$name: rendered text diverges\n$rendered")
      assert(a.nonEmpty, s"$name: fixture returns no rows — pin is vacuous")
    }
  }

  test("shipped queries match the local answer on every fixture") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // truth side is the PARQUET-backed graft the server itself fronts —
    // same answers as the endpoint-catalog local compile, but it holds no
    // executor slots on HTTP, so the loopback server always has slots for
    // the shipped queries' own jobs (a same-JVM harness constraint only:
    // deployed endpoints bring their own compute)
    val truth = scopedGraft(epMolTypes)
    val server = new GraftServer(truth)
    val port = server.start()
    try {
      val url = s"http://127.0.0.1:$port/sparql"
      val shipped = Graft.overSparqlEndpoint(url,
        EndpointCatalogGen.EndpointOptions(shipWholeQuery = true))
      for ((name, text) <- shipFixtures) {
        val a = canonRows(truth.sparql(text))
        val b = canonRows(shipped.sparql(text))
        assert(a == b, s"$name: shipped result diverges from local")
        assert(a.nonEmpty, s"$name: empty fixture")
      }
      // requested order survives the single-shot path (bounded LIMIT)
      val topk = shipFixtures.toMap.apply("topk")
      assert(shipped.sparql(topk).collect().toSeq ==
        truth.sparql(topk).collect().toSeq, "top-k order lost in shipping")
      // one endpoint-catalog LOCAL compile cross-check (single-concept —
      // one endpoint-scan task, so the server keeps free slots even here)
      val viaLocalCatalog = canonRows(Graft.overSparqlEndpoint(url)
        .sparql(shipFixtures.toMap.apply("agg_group")))
      assert(viaLocalCatalog ==
        canonRows(shipped.sparql(shipFixtures.toMap.apply("agg_group"))))
      // ASK ships as a W3C boolean document
      assert(shipped.sparql(
        """PREFIX g: <urn:g:> ASK { ?c g:mktsegment "BUILDING" }""")
        .collect()(0).getBoolean(0))
      assert(!shipped.sparql(
        """PREFIX g: <urn:g:> ASK { ?c g:mktsegment "NO-SUCH-SEGMENT" }""")
        .collect()(0).getBoolean(0))
    } finally server.stop()
  }

  test("shipping transfers final rows only: one COUNT + pages, never instances") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val server = new GraftServer(scopedGraft(epMolTypes))
    val port = server.start()
    try {
      val url = s"http://127.0.0.1:$port/sparql"
      val shipped = Graft.overSparqlEndpoint(url,
        EndpointCatalogGen.EndpointOptions(shipWholeQuery = true))
      // aggregation: 5 group rows transit, in 1 sizing COUNT + 1 page —
      // the local path pages every customer instance instead
      val agg = shipped.sparql(shipFixtures.toMap.apply("agg_group"))
      val before = server.queriesServed.get()
      assert(agg.count() == 5)
      assert(server.queriesServed.get() - before == 2,
        "a shipped aggregate should cost exactly COUNT + one page")
      // bounded top-k: one verbatim fetch, zero sizing queries
      val topk = shipped.sparql(shipFixtures.toMap.apply("topk"))
      val b2 = server.queriesServed.get()
      assert(topk.count() == 5)
      assert(server.queriesServed.get() - b2 == 1,
        "a LIMIT-bounded shipped query should cost exactly one fetch")
      // ASK: one boolean-document fetch
      val ask = shipped.sparql("""PREFIX g: <urn:g:> ASK { ?c g:region ?r }""")
      val b3 = server.queriesServed.get()
      assert(ask.collect()(0).getBoolean(0))
      assert(server.queriesServed.get() - b3 == 1)
    } finally server.stop()
  }

  test("shipped paging: page-sized wrappers reassemble the full result") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val server = new GraftServer(scopedGraft(epMolTypes))
    val port = server.start()
    try {
      val url = s"http://127.0.0.1:$port/sparql"
      val truth = scopedGraft(epMolTypes)
      // page size 7 over 150 customers → ~22 pages; maxPartitions=2 keeps
      // the multi-page path honest while the loopback server keeps free
      // executor slots (each partition walks its page RANGE sequentially)
      val (_, probed) = EndpointCatalogGen.probeCached(url,
        EndpointCatalogGen.EndpointOptions(pageSize = 7))
      val shipped = new Graft(probed.catalog, probed.loader,
        Some(graft.compiler.QueryShip.Config(url, pageSize = 7, maxPartitions = 2)))
      // also exercises the limit-greater-than-page branch (inner keeps
      // ORDER+LIMIT, outer pages)
      val unbounded =
        """PREFIX g: <urn:g:>
          |SELECT ?c ?name WHERE { ?c a g:Customer ; g:name ?name }
          |ORDER BY ?c""".stripMargin
      val wideTopk =
        """PREFIX g: <urn:g:>
          |SELECT ?c ?bal WHERE { ?c a g:Customer ; g:acctbal ?bal }
          |ORDER BY DESC(?bal) ?c LIMIT 20""".stripMargin
      for (q <- Seq(unbounded, wideTopk)) {
        val df = shipped.sparql(q)
        assert(df.rdd.getNumPartitions <= 2,
          "shipped scan must honor its concurrency cap")
        val a = truth.sparql(q).collect().map(_.toString).toSeq.sorted
        val b = df.collect().map(_.toString).toSeq.sorted
        assert(a == b && a.nonEmpty, s"paged shipping diverges for:\n$q")
      }
    } finally server.stop()
  }

  test("the probe reports non-row-keyed concepts (subject collisions)") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // the synthetic lake does not enforce the TPC-H lineitem PK, so the
    // lineitem subject template collides (same URI from several rows) —
    // through a TRIPLE view such a concept fans multi-valued predicates
    // into per-subject cross products, so its star answers legitimately
    // differ from the row-view mapping's; the probe must SURFACE that
    // instead of letting deployments find out from divergent answers
    val server = new GraftServer(
      scopedGraft(Set("urn:g:Customer", "urn:g:Lineitem")))
    val port = server.start()
    try {
      val probed = EndpointCatalogGen.probe(s"http://127.0.0.1:$port/sparql")
      val (n, d) = probed.subjectCollisions("urn:g:Lineitem")
      assert(n > d && d > 0, s"collision counts wrong: ($n, $d)")
      assert(!probed.subjectCollisions.contains("urn:g:Customer"),
        "row-keyed concepts must not be flagged")
    } finally server.stop()
  }

  test("shipped CONSTRUCT: WHERE ships as SELECT, template instantiates locally") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val server = new GraftServer(scopedGraft(epMolTypes))
    val port = server.start()
    try {
      val url = s"http://127.0.0.1:$port/sparql"
      val truth = scopedGraft(epMolTypes)
      val shipped = Graft.overSparqlEndpoint(url,
        EndpointCatalogGen.EndpointOptions(shipWholeQuery = true))
      val construct =
        """PREFIX g: <urn:g:>
          |CONSTRUCT { ?c g:label ?name . ?c g:in ?n } WHERE {
          |  ?c a g:Customer ; g:name ?name ; g:nation ?n .
          |}""".stripMargin
      val df = shipped.sparql(construct)
      val before = server.queriesServed.get()
      val got = df.collect().map(_.toString).sorted.toSeq
      assert(server.queriesServed.get() - before == 2,
        "a shipped CONSTRUCT should cost exactly COUNT + one page")
      assert(got == truth.sparql(construct).collect().map(_.toString).sorted.toSeq)
      assert(got.nonEmpty)
      // IRI-kind authority stays local: the template's object var ?n is a
      // template-built IRI — the shipped path must still angle-bracket it
      assert(got.exists(_.contains("<urn:g:nation:")),
        "template-built object IRIs lost their kind through the wire")
      // a lang-tagged object var cannot transit a SELECT wire: a DECLARED
      // catalog with lang metadata and a ship config must fall back to
      // the full local compile — tags intact, not silently dropped
      val docCat = Catalog(
        TpchCatalog.catalog.molecules.filter(_.rdfType == "urn:g:Document"))
      val langGraft = new Graft(docCat,
        t => spark.read.parquet(s"$sfDir/$t.parquet"),
        Some(graft.compiler.QueryShip.Config(url)))
      val cq =
        """PREFIX g: <urn:g:>
          |CONSTRUCT { ?d g:txt ?t } WHERE { ?d a g:Document ; g:text ?t }""".stripMargin
      val objs = langGraft.sparql(cq).collect().map(_.getString(2))
      assert(objs.nonEmpty && objs.exists(_.matches(""".*"@[a-z]+$""")),
        "lang-guard fallback lost language tags")
    } finally server.stop()
  }

  test("runtime bound join: broadcast build keys reach the remote scan as IN") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val types = Set("urn:g:Customer", "urn:g:Order")
    val truth = scopedGraft(types)
    val server = new GraftServer(truth)
    val port = server.start()
    try {
      val g = Graft.overSparqlEndpoint(s"http://127.0.0.1:$port/sparql")
      // selective build (one segment of customers, broadcast-hinted by the
      // probed cardinality) joining a remote concept: Spark's dynamic
      // pruning hands the build side's keys to the scan at runtime
      // (SupportsRuntimeFiltering) — the FedX bound join, via the
      // idiomatic DSv2 hook instead of a hand-rolled operator
      val q =
        """PREFIX g: <urn:g:>
          |SELECT ?o ?tp WHERE {
          |  ?c a g:Customer ; g:mktsegment "AUTOMOBILE" .
          |  ?o g:customer ?c ; g:totalprice ?tp .
          |} ORDER BY ?o""".stripMargin
      val df = g.sparql(q)
      val got = df.collect().map(_.toString).toSeq
      assert(got == truth.sparql(q).collect().map(_.toString).toSeq)
      assert(got.nonEmpty)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruningexpression"),
        s"no runtime filter planned:\n${plan.take(1500)}")
      // and the keys ARRIVED at the endpoint as a SPARQL IN-list: both the
      // sizing COUNT and the page fetch carry it, so only matching orders
      // were ever serialized
      val inQueries = server.recentQueries.filter(_.contains(" IN ("))
      assert(inQueries.exists(_.contains("COUNT")), "sizing COUNT lost the IN")
      assert(inQueries.exists(q0 => !q0.contains("COUNT") && q0.contains("LIMIT")),
        "page fetch lost the IN")
    } finally server.stop()
  }

  test("runtime bound join reaches exclusive-group scans") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // customer on A (selective, broadcast-size build); orders+lineitem on
    // B ship as one exclusive group — the bound join must inject the
    // customer keys INTO the group's remote pattern, so B joins AND
    // filters before anything transits
    val srvA = new GraftServer(scopedGraft(Set("urn:g:Customer")))
    val srvB = new GraftServer(
      scopedGraft(Set("urn:g:Order", "urn:g:Lineitem")))
    val pa = srvA.start()
    val pb = srvB.start()
    try {
      val g = Graft.overSparqlEndpoints(
        Seq(s"http://127.0.0.1:$pa/sparql", s"http://127.0.0.1:$pb/sparql"),
        EndpointCatalogGen.EndpointOptions(shipWholeQuery = true))
      val q =
        """PREFIX g: <urn:g:>
          |SELECT ?l ?o ?qty WHERE {
          |  ?c a g:Customer ; g:mktsegment "AUTOMOBILE" .
          |  ?o g:customer ?c ; g:totalprice ?tp .
          |  ?l g:order ?o ; g:quantity ?qty .
          |} ORDER BY ?l ?o""".stripMargin
      val df = g.sparql(q)
      // sorted compare: ORDER BY ?l ?o leaves ?qty ties unordered
      val got = df.collect().map(_.toString).sorted.toSeq
      // truth is the single-lake row view — which the group ship preserves
      // even over the collision-subject lineitem concept, because the
      // star join runs AT the server instead of over the triple view
      val truth = scopedGraft(
        Set("urn:g:Customer", "urn:g:Order", "urn:g:Lineitem"))
      assert(got == truth.sparql(q).collect().map(_.toString).sorted.toSeq)
      assert(got.nonEmpty)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("sparql-query@"), "group did not ship")
      assert(plan.contains("dynamicpruningexpression"),
        s"no runtime filter on the group scan:\n${plan.take(1500)}")
      assert(srvB.recentQueries.exists(t =>
        t.contains(" IN (") && t.contains("urn:g:order") && t.contains("LIMIT")),
        "the group page fetch did not carry the bound-join keys")
    } finally { srvA.stop(); srvB.stop() }
  }

  // ---- exclusive-group dispatch (federation star groups) ---------------------

  test("federation: connected same-endpoint stars ship as one remote group") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val srvA = new GraftServer(scopedGraft(Set("urn:g:Customer")))
    val srvB = new GraftServer(scopedGraft(Set("urn:g:Nation", "urn:g:Region")))
    val pa = srvA.start()
    val pb = srvB.start()
    try {
      val g = Graft.overSparqlEndpoints(
        Seq(s"http://127.0.0.1:$pa/sparql", s"http://127.0.0.1:$pb/sparql"),
        EndpointCatalogGen.EndpointOptions(shipWholeQuery = true))
      val rollup =
        """PREFIX g: <urn:g:>
          |SELECT ?rname (COUNT(?c) AS ?ncust) WHERE {
          |  ?c a g:Customer ; g:nation ?n .
          |  ?n a g:Nation ; g:region ?r .
          |  ?r a g:Region ; g:name ?rname .
          |} GROUP BY ?rname ORDER BY ?rname""".stripMargin
      val df = g.sparql(rollup)
      // snapshot FIRST: rendering the physical plan sizes the scan (the
      // partition plan is cached per Scan, so the COUNT fires only once —
      // here, under the snapshot, not during the later collect)
      val before = srvB.queriesServed.get()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("sparql-query@"),
        s"no exclusive-group scan in plan:\n${plan.take(2000)}")
      val got = df.collect().map(_.toString).sorted.toSeq
      // the nation⋈region join ran AT endpoint B: one sizing COUNT + one
      // page of joined rows — never two per-concept fetch sequences
      assert(srvB.queriesServed.get() - before == 2,
        "the exclusive group should cost endpoint B exactly COUNT + one page")
      val want = canonRows(scopedGraft(epMolTypes).sparql(rollup))
      assert(got == want && got.nonEmpty)
    } finally { srvA.stop(); srvB.stop() }
  }

  test("federation: an endpoint-exclusive OPTIONAL ships whole") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val srvA = new GraftServer(scopedGraft(Set("urn:g:Customer")))
    val srvB = new GraftServer(scopedGraft(Set("urn:g:Nation", "urn:g:Region")))
    val pa = srvA.start()
    val pb = srvB.start()
    try {
      val g = Graft.overSparqlEndpoints(
        Seq(s"http://127.0.0.1:$pa/sparql", s"http://127.0.0.1:$pb/sparql"),
        EndpointCatalogGen.EndpointOptions(shipWholeQuery = true))
      // nation OPTIONAL region (both exclusive to B, selective inner
      // FILTER so some nations pad unbound) joined with customers on A
      val q =
        """PREFIX g: <urn:g:>
          |SELECT ?c ?nname ?rname WHERE {
          |  ?c a g:Customer ; g:nation ?n .
          |  { ?n a g:Nation ; g:name ?nname .
          |    OPTIONAL { ?n g:region ?r . ?r a g:Region ; g:name ?rname
          |               FILTER (CONTAINS(?rname, "A")) } }
          |} ORDER BY ?c""".stripMargin
      val df = g.sparql(q)
      assert(df.queryExecution.executedPlan.toString.contains("sparql-query@"),
        "the OPTIONAL block did not ship")
      val got = canonRows(df)
      assert(got == canonRows(scopedGraft(epMolTypes).sparql(q)) && got.nonEmpty)
      // the pad must actually be exercised: bound AND unbound ?rname rows
      val rnames = df.select("rname").collect().map(r => Option(r.get(0)))
      assert(rnames.exists(_.isEmpty) && rnames.exists(_.nonEmpty),
        "fixture should produce both padded and bound OPTIONAL rows")
      // and the left join itself ran AT endpoint B — one shipped pattern
      // carrying the OPTIONAL, never two per-concept fetch sequences
      assert(srvB.recentQueries.exists(t =>
        t.contains("OPTIONAL") && t.contains("urn:g:Nation")),
        s"endpoint B never saw the OPTIONAL:\n${srvB.recentQueries.mkString("\n")}")
    } finally { srvA.stop(); srvB.stop() }
  }

  test("federation: an endpoint-exclusive UNION ships whole; " +
    "a cross-endpoint OPTIONAL stays local") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val srvA = new GraftServer(scopedGraft(Set("urn:g:Customer")))
    val srvB = new GraftServer(scopedGraft(Set("urn:g:Nation", "urn:g:Region")))
    val pa = srvA.start()
    val pb = srvB.start()
    try {
      val g = Graft.overSparqlEndpoints(
        Seq(s"http://127.0.0.1:$pa/sparql", s"http://127.0.0.1:$pb/sparql"),
        EndpointCatalogGen.EndpointOptions(shipWholeQuery = true))
      val truth = scopedGraft(epMolTypes)
      val union =
        """PREFIX g: <urn:g:>
          |SELECT ?x WHERE {
          |  { ?n a g:Nation ; g:name ?x } UNION { ?r a g:Region ; g:name ?x }
          |} ORDER BY ?x""".stripMargin
      val udf = g.sparql(union)
      assert(udf.queryExecution.executedPlan.toString.contains("sparql-query@"),
        "the UNION did not ship")
      assert(canonRows(udf) == canonRows(truth.sparql(union)))
      // the route report must describe the plan actually taken: it reads
      // the compiled plan and counts the shipped scans
      assert(g.explain(union).contains("1 shipped exclusive group/pattern scan"),
        g.explain(union).linesIterator.take(3).mkString("\n"))
      assert(srvB.recentQueries.exists(_.contains("UNION")),
        "endpoint B never saw the UNION")
      // negative: an OPTIONAL spanning endpoints (customer on A, nation on
      // B) must NOT ship whole — and must still answer correctly
      val cross =
        """PREFIX g: <urn:g:>
          |SELECT ?c ?nname WHERE {
          |  ?c a g:Customer ; g:mktsegment "BUILDING" .
          |  OPTIONAL { ?c g:nation ?n . ?n a g:Nation ; g:name ?nname }
          |} ORDER BY ?c""".stripMargin
      val before = (srvA.queriesServed.get(), srvB.queriesServed.get())
      val cdf = g.sparql(cross)
      assert(canonRows(cdf) == canonRows(truth.sparql(cross)))
      // both endpoints served the local compile's per-concept scans —
      // neither side received the whole pattern (a per-concept paged
      // fetch legitimately contains OPTIONAL-per-predicate, so the
      // cross-pattern tell is ONE request naming BOTH concepts)
      assert(srvA.queriesServed.get() > before._1 &&
        srvB.queriesServed.get() > before._2,
        "a cross-endpoint OPTIONAL must compile per-concept")
      def sawBoth(s: GraftServer, prior: Long) = s.recentQueries
        .takeRight((s.queriesServed.get() - prior).toInt)
        .exists(t => t.contains("urn:g:Customer") && t.contains("urn:g:Nation"))
      assert(!sawBoth(srvA, before._1) && !sawBoth(srvB, before._2),
        "no endpoint may receive the cross-endpoint OPTIONAL pattern")
    } finally { srvA.stop(); srvB.stop() }
  }

  test("group filters ship with the group; unconnected stars never group") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val server = new GraftServer(scopedGraft(epMolTypes))
    val port = server.start()
    try {
      val url = s"http://127.0.0.1:$port/sparql"
      val (_, probed) = EndpointCatalogGen.probeCached(url,
        EndpointCatalogGen.EndpointOptions())
      // group-ship ONLY (no whole-query config) to pin the compiler pass
      val g = new Graft(probed.catalog, probed.loader, None,
        Some(graft.compiler.QueryShip.GroupShip()))
      val truth = scopedGraft(epMolTypes)
      val filtered =
        """PREFIX g: <urn:g:>
          |SELECT ?n ?nname ?rname WHERE {
          |  ?n a g:Nation ; g:name ?nname ; g:region ?r .
          |  ?r a g:Region ; g:name ?rname .
          |  FILTER (CONTAINS(?rname, "A") && ?nname != "JAPAN")
          |} ORDER BY ?n""".stripMargin
      val df = g.sparql(filtered)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("sparql-query@") && plan.contains("FILTER"),
        s"group scan must carry the shipped FILTER:\n${plan.take(2000)}")
      assert(canonRows(df) == canonRows(truth.sparql(filtered)))
      assert(df.count() > 0)
      // two stars with NO shared variable stay per-concept scans — a
      // remote cartesian is strictly worse than a local one
      val cartesian =
        """PREFIX g: <urn:g:>
          |SELECT ?nname ?rname WHERE {
          |  ?n a g:Nation ; g:name ?nname .
          |  ?r a g:Region ; g:name ?rname .
          |} ORDER BY ?nname ?rname""".stripMargin
      val cdf = g.sparql(cartesian)
      assert(!cdf.queryExecution.executedPlan.toString.contains("sparql-query@"),
        "unconnected stars must not ship as a group")
      assert(canonRows(cdf) == canonRows(truth.sparql(cartesian)))
    } finally server.stop()
  }
}
