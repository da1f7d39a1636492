package graft

import graft.api.{Graft, GraftServer, TpchCatalog}
import graft.compiler.RoutePlanner
import graft.mapping._
import graft.parser.SparqlParser

/** Round-15: cost-based dispatch-route selection — the per-query
  * ship-vs-local decision from probed cardinalities (r14 verdict ask #1),
  * replacing the all-or-nothing shipWholeQuery boolean. */
class Round15Spec extends SparkTestBase {

  // ---- RoutePlanner unit model ----------------------------------------------

  private def mol(t: String, table: String, card: Long,
                  preds: String*): Molecule =
    Molecule(rdfType = t, table = table, subject = Template("{s}"),
      predicates = preds.map(p =>
        s"urn:g:$p" -> (RefMap(p): TermMap)).toMap,
      source = "http://ep", cardinality = card)

  private val cat = Catalog(List(
    mol("urn:g:Customer", "customer", 1500L, "name", "acctbal", "nation"),
    mol("urn:g:Order", "order", 15000L, "customer", "totalprice"),
    mol("urn:g:Lineitem", "lineitem", 60000L, "returnflag", "quantity")))

  private def est(q: String): RoutePlanner.RouteEstimate =
    RoutePlanner.estimate(SparqlParser.parseUnsafe(q), cat)

  test("route: a GROUP BY over a big concept ships (group rows << scan)") {
    val e = est("""PREFIX g: <urn:g:>
      |SELECT ?f (COUNT(*) AS ?n) WHERE {
      |  ?l a g:Lineitem ; g:returnflag ?f .
      |} GROUP BY ?f""".stripMargin)
    assert(e.known && e.localRows == 60000L && e.shippedRows == 6000L)
    assert(e.ship, e.describe)
  }

  test("route: a plain scan is a tie — local is authoritative") {
    val e = est("""PREFIX g: <urn:g:>
      |SELECT ?c ?n WHERE { ?c a g:Customer ; g:name ?n . }""".stripMargin)
    assert(e.known && e.localRows == 1500L && e.shippedRows == 1500L)
    assert(!e.ship, e.describe)
  }

  test("route: LIMIT caps the shipped estimate — top-k ships") {
    val e = est("""PREFIX g: <urn:g:>
      |SELECT ?c ?b WHERE { ?c a g:Customer ; g:acctbal ?b . }
      |ORDER BY DESC(?b) LIMIT 20""".stripMargin)
    assert(e.shippedRows == 20L && e.ship, e.describe)
  }

  test("route: ASK is one boolean document — always a clear win") {
    val e = est("""PREFIX g: <urn:g:>
      |ASK { ?c a g:Customer ; g:name ?n . }""".stripMargin)
    assert(e.shippedRows == 1L && e.ship, e.describe)
  }

  test("route: a selective-build FK join stays local — the estimate " +
    "models the runtime bound join, so local is a priced WIN, not a tie") {
    // customer pinned by a bound object (card/10 = 150 keys): the bind
    // join delivers those keys to the orders scan as SPARQL IN, so the
    // local route prices at 150 + min(15000, 150·4) = 750 — far under
    // the 15000 joined rows shipping would move
    val e = est("""PREFIX g: <urn:g:>
      |SELECT ?o ?tp WHERE {
      |  ?c a g:Customer ; g:name "x" ; g:nation ?nat .
      |  ?o a g:Order ; g:customer ?c ; g:totalprice ?tp .
      |}""".stripMargin)
    assert(e.known, e.describe)
    assert(e.localRows == 750L && e.shippedRows == 15000L, e.describe)
    assert(!e.ship, e.describe)
  }

  test("route: the bind-join model even keeps a selective-build AGGREGATE " +
    "local (group rows at the store still lose to 750 bound-join rows)") {
    val e = est("""PREFIX g: <urn:g:>
      |SELECT ?tp (COUNT(*) AS ?n) WHERE {
      |  ?c a g:Customer ; g:name "x" ; g:nation ?nat .
      |  ?o a g:Order ; g:customer ?c ; g:totalprice ?tp .
      |} GROUP BY ?tp""".stripMargin)
    assert(e.localRows == 750L && e.shippedRows == 1500L, e.describe)
    assert(!e.ship, e.describe)
    // …whereas WITHOUT a selective build the same aggregate ships
    val noBuild = est("""PREFIX g: <urn:g:>
      |SELECT ?tp (COUNT(*) AS ?n) WHERE {
      |  ?o a g:Order ; g:totalprice ?tp .
      |} GROUP BY ?tp""".stripMargin)
    assert(noBuild.localRows == 15000L && noBuild.shippedRows == 1500L)
    assert(noBuild.ship, noBuild.describe)
  }

  test("route: variable-disjoint stars multiply (a remote cartesian is " +
    "never a transfer win)") {
    val e = est("""PREFIX g: <urn:g:>
      |SELECT ?a ?b WHERE {
      |  ?c a g:Customer ; g:name ?a .
      |  ?o a g:Order ; g:totalprice ?b .
      |}""".stripMargin)
    assert(e.shippedRows == 1500L * 15000L && !e.ship, e.describe)
  }

  test("route: unknown cardinalities and paths taint the estimate -> local") {
    val noCard = Catalog(List(
      Molecule(rdfType = "urn:g:Customer", table = "customer",
        subject = Template("{s}"),
        predicates = Map("urn:g:name" -> (RefMap("name"): TermMap)),
        source = "http://ep"))) // cardinality left at the -1 default
    val q = SparqlParser.parseUnsafe("""PREFIX g: <urn:g:>
      |SELECT ?n WHERE { ?c a g:Customer ; g:name ?n . }""".stripMargin)
    val e = RoutePlanner.estimate(q, noCard)
    assert(!e.known && !e.ship)
    val path = est("""PREFIX g: <urn:g:>
      |SELECT ?x WHERE { ?c (g:nation)+ ?x . }""".stripMargin)
    assert(!path.known && !path.ship)
  }

  // ---- ADVICE fixes: injection guard, defensive cast, value fingerprint -----

  test("IRI splice guard: injection-capable 'IRIs' are rejected (angled) " +
    "or filtered (safeIri); legal IRIs pass") {
    import graft.sources.SparqlHttp
    assert(SparqlHttp.safeIri("urn:g:cust:1"))
    assert(SparqlHttp.safeIri("http://ex.org/a#b"))
    assert(!SparqlHttp.safeIri("urn:x> . ?s ?p ?o . FILTER(<urn:y"))
    assert(!SparqlHttp.safeIri("urn:with space"))
    assert(!SparqlHttp.safeIri("urn:quote\"d"))
    assert(!SparqlHttp.safeIri("urn:ctrl"))
    assert(!SparqlHttp.safeIri(""))
    assert(SparqlHttp.angled("urn:g:Customer") == "<urn:g:Customer>")
    intercept[IllegalArgumentException] {
      SparqlHttp.angled("urn:x> } UNION { ?s ?p ?o")
    }
  }

  test("defensive lexical cast: a binding that fails the sampled type " +
    "nulls instead of failing the executor task") {
    import graft.sources.SparqlHttp
    import org.apache.spark.sql.types._
    val srj =
      """{"head":{"vars":["v"]},"results":{"bindings":[
        |{"v":{"type":"literal","value":"42"}},
        |{"v":{"type":"literal","value":"not-a-number"}}]}}""".stripMargin
    val rows = SparqlHttp.parseResults(srj,
      StructType(Seq(StructField("v", LongType))))
    assert(rows.map(r => Option(r.get(0))) === Seq(Some(42L), None))
  }

  test("probe fingerprint is VALUE-sensitive: same structure and " +
    "cardinalities with different values re-probes; identical content " +
    "shares the cached shape") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions.{col, upper}
    val custCat = Catalog(
      TpchCatalog.catalog.molecules.filter(_.rdfType == "urn:g:Customer"))
    def loaderOf(mutate: Boolean): String => org.apache.spark.sql.DataFrame =
      t => {
        val df = spark.read.parquet(s"$sfDir/$t.parquet")
        if (mutate) df.withColumn("c_name", upper(col("c_name"))) else df
      }
    val srvA = new GraftServer(new Graft(custCat, loaderOf(false)))
    val srvB = new GraftServer(new Graft(custCat, loaderOf(false)))
    val srvC = new GraftServer(new Graft(custCat, loaderOf(true)))
    val (pa, pb, pc) = (srvA.start(), srvB.start(), srvC.start())
    try {
      val (fpA, _) = EndpointCatalogGen.probeCached(
        s"http://127.0.0.1:$pa/sparql")
      val (fpB, _) = EndpointCatalogGen.probeCached(
        s"http://127.0.0.1:$pb/sparql")
      val (fpC, _) = EndpointCatalogGen.probeCached(
        s"http://127.0.0.1:$pc/sparql")
      // same content behind a different port: same fingerprint (cache hit)
      assert(fpA == fpB)
      // same concepts, predicates AND cardinalities, different VALUES:
      // the sample digest must force a distinct fingerprint — stale
      // sniffed datatypes / link ranges are never silently reused
      assert(fpA != fpC)
      // the TTL bound forces a fresh expensive pass even on a hit
      val q0 = srvA.queriesServed.get()
      EndpointCatalogGen.probeCached(s"http://127.0.0.1:$pa/sparql")
      val cachedCost = srvA.queriesServed.get() - q0
      val q1 = srvA.queriesServed.get()
      EndpointCatalogGen.probeCached(s"http://127.0.0.1:$pa/sparql",
        EndpointCatalogGen.EndpointOptions(probeCacheTtlMs = 0L))
      val expiredCost = srvA.queriesServed.get() - q1
      assert(expiredCost > cachedCost,
        s"ttl=0 should re-pay the expensive pass ($expiredCost vs $cachedCost)")
      // the manual hook clears everything
      EndpointCatalogGen.invalidateProbeCaches()
      val q2 = srvA.queriesServed.get()
      EndpointCatalogGen.probeCached(s"http://127.0.0.1:$pa/sparql")
      assert(srvA.queriesServed.get() - q2 > cachedCost)
    } finally { srvA.stop(); srvB.stop(); srvC.stop() }
  }

  // ---- end-to-end: the route FLIPS with the query shape over a live wire ----

  test("auto dispatch over a probed endpoint: the aggregate ships, the " +
    "selective scan compiles locally, and explain() proves both") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // customer + order only: both row-keyed (unique subject templates),
    // so the local wire route and the shipped route answer identically
    // and the parity assertion below is fair (the row-keyed convention of
    // SCALE.md "Round-14: endpoint query dispatch")
    val types = Set("urn:g:Customer", "urn:g:Order")
    val inner = Graft.overParquetDir(Catalog(
      TpchCatalog.catalog.molecules.filter(m => types.contains(m.rdfType))),
      sfDir)
    val server = new GraftServer(inner)
    val port = server.start()
    try {
      val g = Graft.overSparqlEndpoint(s"http://127.0.0.1:$port/sparql",
        EndpointCatalogGen.EndpointOptions(
          shipPolicy = EndpointCatalogGen.ShipPolicy.Auto))
      val agg = """PREFIX g: <urn:g:>
        |SELECT ?pri (COUNT(*) AS ?cnt) (SUM(?tp) AS ?sum_tp) WHERE {
        |  ?o a g:Order ; g:orderpriority ?pri ; g:totalprice ?tp .
        |} GROUP BY ?pri ORDER BY ?pri""".stripMargin
      val scan = """PREFIX g: <urn:g:>
        |SELECT ?c ?name ?bal WHERE {
        |  ?c a g:Customer ; g:name ?name ; g:acctbal ?bal .
        |  FILTER (?bal > 5000)
        |} ORDER BY ?c""".stripMargin

      def dispatchLine(q: String): String =
        g.explain(q).linesIterator.find(_.startsWith("Dispatch:")).get

      val aggRoute = dispatchLine(agg)
      assert(aggRoute.contains("whole-query dispatch ->") &&
        aggRoute.contains("route: shipped≈"), aggRoute)
      val scanRoute = dispatchLine(scan)
      assert(scanRoute.contains("local compile") &&
        scanRoute.contains("route: shipped≈") &&
        !scanRoute.contains("whole-query"), scanRoute)

      // both auto-chosen routes answer identically to the local-only
      // graft (double SUMs compare rounded — summation order differs
      // between the store's aggregation and the local one, the inherent
      // FP non-associativity either route is allowed)
      val localOnly = Graft.overSparqlEndpoint(
        s"http://127.0.0.1:$port/sparql",
        EndpointCatalogGen.EndpointOptions())
      def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.collect().toSeq.map(_.toSeq.map {
          case d: Double => math.round(d * 100) / 100.0
          case x         => x
        })
      for (q <- Seq(agg, scan))
        assert(canon(g.sparql(q)) === canon(localOnly.sparql(q)), q)

      // the explicit override still ships everything, tie or not
      val always = Graft.overSparqlEndpoint(
        s"http://127.0.0.1:$port/sparql",
        EndpointCatalogGen.EndpointOptions(shipWholeQuery = true))
      assert(always.explain(scan).linesIterator
        .find(_.startsWith("Dispatch:")).get.contains("whole-query dispatch"))
    } finally server.stop()
  }

  test("auto cost-gates the exclusive-GROUP rung too: an equal-cards " +
    "group ships, a selective-build group keeps its local bind join") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val types = Set("urn:g:Customer", "urn:g:Order", "urn:g:Nation")
    val inner = Graft.overParquetDir(Catalog(
      TpchCatalog.catalog.molecules.filter(m => types.contains(m.rdfType))),
      sfDir)
    val server = new GraftServer(inner)
    val port = server.start()
    try {
      def graftOf(p: EndpointCatalogGen.ShipPolicy) =
        Graft.overSparqlEndpoint(s"http://127.0.0.1:$port/sparql",
          EndpointCatalogGen.EndpointOptions(shipPolicy = p))
      val auto = graftOf(EndpointCatalogGen.ShipPolicy.Auto)
      def dispatch(g: Graft, q: String): String =
        g.explain(q).linesIterator.find(_.startsWith("Dispatch:")).get
      // equal-cards 2-star group (150 vs 150): shipping moves <= half of
      // the per-concept transfer -> ships. The unprojected ORDER BY key
      // keeps the WHOLE-query rung out, so this exercises the group rung
      val equalGroup = """PREFIX g: <urn:g:>
        |SELECT ?a ?b WHERE {
        |  ?a a g:Customer ; g:nation ?n .
        |  ?b a g:Customer ; g:nation ?n .
        |} ORDER BY ?n""".stripMargin
      val shipped = dispatch(auto, equalGroup)
      assert(shipped.contains("1 shipped exclusive group"), shipped)
      // selective-build group (15-key customer build vs 1500 orders):
      // the bind join prices at 75 rows, the shipped join at 1500 ->
      // the group stays per-concept under Auto, ships under Always
      val selective = """PREFIX g: <urn:g:>
        |SELECT ?c ?o WHERE {
        |  ?c a g:Customer ; g:mktsegment "BUILDING" ; g:nation ?n .
        |  ?o a g:Order ; g:customer ?c .
        |} ORDER BY ?n""".stripMargin
      val localLine = dispatch(auto, selective)
      assert(localLine.contains("no endpoint-exclusive groups"), localLine)
      val always = graftOf(EndpointCatalogGen.ShipPolicy.Always)
      assert(dispatch(always, selective)
        .contains("1 shipped exclusive group"))
      // and the auto-local answer still matches the always-shipped one
      assert(auto.sparql(selective).orderBy("c", "o").collect().toSeq ===
        always.sparql(selective).orderBy("c", "o").collect().toSeq)
    } finally server.stop()
  }

  test("DESCRIBE dispatch: the <iri> probe ships as one SELECT with the " +
    "store's term kinds; DESCRIBE ?v falls back to the local machinery") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val inner = Graft.overParquetDir(Catalog(
      TpchCatalog.catalog.molecules.filter(_.rdfType == "urn:g:Customer")),
      sfDir)
    val server = new GraftServer(inner)
    val port = server.start()
    try {
      val g = Graft.overSparqlEndpoint(s"http://127.0.0.1:$port/sparql",
        EndpointCatalogGen.EndpointOptions(shipWholeQuery = true))
      val q = "DESCRIBE <urn:g:cust:1>"
      val line = g.explain(q).linesIterator
        .find(_.startsWith("Dispatch:")).get
      assert(line.contains("DESCRIBE dispatch ->"), line)
      // shipped N-Triples equal the STORE's own engine over the same
      // data (not a wire local twin: a local DESCRIBE over the endpoint
      // catalog unions one paged scan per probed predicate, and under
      // local[4] those tasks would hold every slot the loopback server
      // itself needs — the loopback-starvation caveat of SCALE.md
      // "Round-16: adaptive bind-join window, measured"; the
      // driver-gate row compares against the relational oracle instead)
      val got = g.sparql(q).orderBy("p", "o").collect().toSeq
      val want = inner.sparql(q).orderBy("p", "o").collect().toSeq
      assert(got.nonEmpty && got === want)
      // IRI objects stay angle-bracketed, literals stay quoted
      assert(got.exists(_.getString(2).startsWith("<urn:g:nation:")))
      assert(got.exists(_.getString(2).startsWith("\"")))
      // the variable form keeps the local enumeration
      val varLine = g.explain(
        """PREFIX g: <urn:g:>
          |DESCRIBE ?c WHERE { ?c a g:Customer ; g:name "x" . }"""
          .stripMargin)
        .linesIterator.find(_.startsWith("Dispatch:")).get
      assert(varLine.contains("local compile"), varLine)
    } finally server.stop()
  }
}
