package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8

import graft.api.{Graft, GraftServer, TpchCatalog}

/** Round-6 hardening: W3C Federated Query §4 SILENT semantics for failures
  * that used to surface executor-side (outside the driver's try), the
  * remote-fetch cache sweep, IRI-named function serialization, and the
  * tightened lexical IRI shape for §15.1 term ranking. */
class Round6Spec extends SparkTestBase {

  private lazy val g = Graft.overParquetDir(TpchCatalog.catalog, sfDir)(spark)

  /** A hostile SPARQL endpoint: `decide` inspects each query's text and
    * either answers with a canned sparql-results+json body or 500s. */
  private def withFlakyEndpoint[A](decide: String => Option[String])(f: Int => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/sparql", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val query = body.split("&").collectFirst {
        case kv if kv.startsWith("query=") =>
          URLDecoder.decode(kv.stripPrefix("query="), UTF_8)
      }.getOrElse("")
      decide(query) match {
        case Some(json) =>
          val bytes = json.getBytes(UTF_8)
          ex.getResponseHeaders.set("Content-Type", "application/sparql-results+json")
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
        case None => ex.sendResponseHeaders(500, -1)
      }
      ex.close()
    })
    server.start()
    try f(server.getAddress.getPort) finally server.stop(0)
  }

  private def srj(vars: Seq[String], rows: Seq[Seq[String]]): String = {
    val head = vars.map(v => "\"" + v + "\"").mkString("[", ",", "]")
    val bindings = rows.map { r =>
      vars.zip(r).map { case (v, x) =>
        s""""$v": {"type": "literal", "value": "$x"}"""
      }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    s"""{"head": {"vars": $head}, "results": {"bindings": $bindings}}"""
  }

  private val limitOffset = """(?s).*LIMIT (\d+) OFFSET (\d+).*""".r

  /** The answer to the remote scan's sizing `COUNT(*)`. */
  private def counted(n: Long): String = srj(Seq("count"), Seq(Seq(n.toString)))

  test("SILENT survives a page-fetch failure after a successful probe") {
    // the sizing COUNT answers, real pages 500 — before round 6 the page
    // pull failed executor-side at action time, outside the SILENT try,
    // and killed the whole query; §4 says degrade to the unit solution
    withFlakyEndpoint { q =>
      if (q.contains("COUNT(*)")) Some(counted(3)) else None
    } { port =>
      intercept[Exception] {
        g.sparql(
          s"""PREFIX g: <urn:g:> SELECT ?x WHERE {
             |  SERVICE <http://127.0.0.1:$port/sparql> { ?x a g:Nation } }""".stripMargin)
          .collect()
      }
      val silent = g.sparql(
        s"""PREFIX g: <urn:g:> SELECT ?r WHERE {
           |  ?r a g:Region .
           |  SERVICE SILENT <http://127.0.0.1:$port/sparql> { ?x a g:Nation } }""".stripMargin)
      assert(silent.count() == 5) // unit solution joins as identity
    }
  }

  test("SILENT bind join degrades when the VALUES windows fail remotely") {
    // the endpoint rejects exactly the bind-join window requests; SILENT
    // must degrade to the unit solution (keep the local side), not fail
    // at action time when the window flatMap runs on an executor
    withFlakyEndpoint { q =>
      if (q.contains("VALUES")) None
      else if (q.contains("COUNT(*)")) Some(counted(1))
      else q match {
        case limitOffset(lim, off) => // sizing COUNT and pages both answer
          Some(srj(Seq("r", "rn"),
            Seq(Seq("u", "n")).slice(off.toInt, off.toInt + lim.toInt)))
        case _ => None
      }
    } { port =>
      val silent = g.sparql(
        s"""PREFIX g: <urn:g:>
           |SELECT ?n ?r WHERE {
           |  ?n g:region ?r .
           |  SERVICE SILENT <http://127.0.0.1:$port/sparql> { ?r g:name ?rn }
           |}""".stripMargin)
      // windows fail -> full-fetch fallback succeeds (its pages carry no
      // VALUES) and serves one bogus row whose ?r ("u") matches nothing:
      // the joined result is empty, and nothing failed at action time
      assert(silent.count() == 0)
    }
  }

  test("SILENT bind join degrades to unit when every remote form fails") {
    withFlakyEndpoint(_ => None) { port =>
      val silent = g.sparql(
        s"""PREFIX g: <urn:g:>
           |SELECT ?n ?r WHERE {
           |  ?n g:region ?r .
           |  SERVICE SILENT <http://127.0.0.1:$port/sparql> { ?r g:name ?rn }
           |}""".stripMargin)
      assert(silent.count() == 25) // local side survives untouched
    }
  }

  // DataFrame persists go through the CacheManager, so they surface as
  // cached blocks in the storage info (not in getPersistentRDDs)
  private def cachedBlocks = spark.sparkContext.getRDDStorageInfo.count(_.isCached)
  private def eventually(cond: => Boolean): Boolean =
    (0 until 50).exists { _ => if (cond) true else { Thread.sleep(100); false } }

  test("bind-join windows land in an uncached, broadcastable local relation") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      // a compile sweeps pins left behind by earlier tests' queries, so
      // the baseline below counts only long-lived caches
      g.sparql("PREFIX g: <urn:g:> ASK { ?r a g:Region }")
      assert(eventually(cachedBlocks == 0))
      val fed = g.sparql(
        s"""PREFIX g: <urn:g:>
           |SELECT ?r ?rn WHERE {
           |  ?n g:region ?r .
           |  SERVICE <http://127.0.0.1:$port/sparql> { ?r g:name ?rn }
           |} ORDER BY ?r ?rn""".stripMargin)
      assert(fed.count() == 25)
      // the fetched rows are a LocalRelation: nothing persisted (nothing
      // can leak or be swept mid-query), and Catalyst broadcasts the
      // known-small remote side — the big local pattern never shuffles
      assert(cachedBlocks == 0, "bind-join fetch must not pin any cache")
      assert(fed.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "collected windows should broadcast-join against the local side")
      // the compile-time fetch is reused across actions: still 1 request
      assert(server.queriesServed.get() == 1)
      assert(fed.count() == 25)
      assert(server.queriesServed.get() == 1)
    } finally server.stop()
  }

  test("SILENT remote fetch caches are swept at the next idle compile") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      g.sparql("PREFIX g: <urn:g:> ASK { ?r a g:Region }")
      assert(eventually(cachedBlocks == 0))
      val silent = g.sparql(
        s"""PREFIX g: <urn:g:> SELECT ?n WHERE {
           |  SERVICE SILENT <http://127.0.0.1:$port/sparql> { ?n a g:Nation }
           |}""".stripMargin)
      // the SILENT fetch materialized at compile time, driver-side, and is
      // pinned so downstream sorts/AQE reread blocks, not the endpoint
      assert(cachedBlocks > 0, "SILENT fetch should be pinned after compile")
      assert(silent.count() == 25)
      // ANY next idle compile through the same engine frees previous pins
      g.sparql("PREFIX g: <urn:g:> ASK { ?r a g:Region }")
      assert(eventually(cachedBlocks == 0),
        "previous query's SILENT fetch cache must be unpersisted")
      // the swept frame is persist-only: re-running re-fetches, correctly
      assert(silent.count() == 25)
    } finally server.stop()
  }

  test("malformed bind-join config surfaces instead of silently degrading") {
    // NumberFormatException extends IllegalArgumentException; the old
    // over-cap catch swallowed it and fell back to a full paged fetch
    val server = new GraftServer(g)
    val port = server.start()
    try {
      spark.conf.set("graft.service.bindJoin.maxKeys", "lots")
      intercept[NumberFormatException] {
        g.sparql(
          s"""PREFIX g: <urn:g:>
             |SELECT ?r ?rn WHERE {
             |  ?n g:region ?r .
             |  SERVICE <http://127.0.0.1:$port/sparql> { ?r g:name ?rn } }""".stripMargin)
      }
    } finally {
      spark.conf.unset("graft.service.bindJoin.maxKeys")
      server.stop()
    }
  }

  test("xsd casts serialize as IRI calls and round-trip through the parser") {
    import graft.compiler.SparqlText
    import graft.parser.SparqlParser
    val q =
      """PREFIX g: <urn:g:> PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?n WHERE { ?n a g:Nation ; g:key ?k .
        |  FILTER (xsd:integer(?k) > 5) }""".stripMargin
    val p1 = SparqlParser.parseUnsafe(q).pattern
    val text = s"SELECT * WHERE { ${SparqlText.pattern(p1)} }"
    assert(text.contains("<http://www.w3.org/2001/XMLSchema#integer>("),
      s"xsd cast must serialize as an IRI call, got: $text")
    assert(SparqlParser.parseUnsafe(text).pattern == p1)
  }

  test("scheme-shaped literals with whitespace rank as literals in ORDER BY") {
    // §15.1: IRIs sort before literals. "note: see below" is scheme-shaped
    // but contains whitespace, which no IRI can — it must rank literal (3),
    // not IRI (2); the round-5 heuristic misfiled it
    val rows = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?v WHERE {
        |  VALUES ?v { "note: see below" <urn:g:thing> "apple" } }
        |ORDER BY ?v""".stripMargin).collect().map(_.getString(0)).toSeq
    assert(rows == Seq("urn:g:thing", "apple", "note: see below"))
  }

  test("UUID/STRUUID/BNODE/RAND: fresh per solution, BNODE(str) stable") {
    val rows = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?r ?u (UUID() AS ?iri) (STRUUID() AS ?s) (RAND() AS ?coin)
        |       (BNODE() AS ?b) (BNODE(?r) AS ?bk) (BNODE(?r) AS ?bk2) WHERE {
        |  VALUES (?r ?u) { ("x" 1) ("x" 2) ("y" 3) } }""".stripMargin).collect()
    assert(rows.length == 3)
    val uuids = rows.map(_.getAs[String]("iri"))
    assert(uuids.forall(_.matches("urn:uuid:[0-9a-f-]{36}")))
    assert(uuids.distinct.length == 3, "UUID must draw per solution")
    assert(rows.map(_.getAs[String]("s")).distinct.length == 3)
    assert(rows.map(_.getAs[String]("b")).distinct.length == 3)
    assert(rows.map(_.getAs[Double]("coin")).forall(c => c >= 0 && c < 1))
    // BNODE(?r) per §17.4.2.2: same label for the same argument WITHIN a
    // solution (two calls agree), distinct across solutions even when the
    // argument repeats, never colliding with a parsed `_:` label shape
    assert(rows.forall(r => r.getAs[String]("bk") == r.getAs[String]("bk2")))
    assert(rows.map(_.getAs[String]("bk")).distinct.length == 3,
      "same-argument solutions must still get distinct blank nodes")
    assert(rows.forall(_.getAs[String]("bk").startsWith("_:h")))
  }

  test("TZ/TIMEZONE: UTC engine timestamps carry Z / PT0S, errors are null") {
    val rows = g.sparql(
      """SELECT (TZ(?t) AS ?tz) (TIMEZONE(?t) AS ?d)
        |       (TZ(?bad) AS ?tzbad) WHERE {
        |  VALUES (?t ?bad) { ("2024-03-01T10:00:00" "not a date") } }""".stripMargin)
      .collect()(0)
    assert(rows.getAs[String]("tz") == "Z")
    assert(rows.getAs[String]("d") == "PT0S")
    assert(rows.isNullAt(rows.fieldIndex("tzbad")))
  }

  test("blank nodes: labels join, [] is fresh, property lists expand, SELECT * hides them") {
    import graft.parser.SparqlParser
    // _:b is one node: both triples share the desugared variable
    val q1 = SparqlParser.parseUnsafe(
      "PREFIX g: <urn:g:> SELECT ?n WHERE { _:b a g:Nation ; g:name ?n }")
    val bgp1 = q1.pattern.asInstanceOf[graft.algebra.Pattern.Bgp]
    assert(bgp1.triples.map(_.s).distinct == List(graft.algebra.Var("__bn_lb")))
    // [] twice = two distinct fresh nodes
    val q2 = SparqlParser.parseUnsafe(
      "PREFIX g: <urn:g:> SELECT ?a ?b WHERE { [] g:name ?a . [] g:name ?b }")
    val subjects = q2.pattern.asInstanceOf[graft.algebra.Pattern.Bgp].triples.map(_.s)
    assert(subjects.distinct.size == 2)
    // nested property list rooted at an anonymous node
    val rows = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?sname WHERE {
        |  ?s a g:Supplier ; g:name ?sname ; g:nation [ g:name "NATION_3" ] }
        |ORDER BY ?sname""".stripMargin).collect()
    assert(rows.nonEmpty)
    // SELECT * must not leak the hidden blank-node columns
    val star = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT * WHERE { ?s a g:Supplier ; g:nation [ g:name "NATION_3" ] }""".stripMargin)
    assert(!star.columns.exists(_.startsWith("__bn_")), star.columns.mkString(","))
    assert(star.columns.contains("s"))
    // W3C BLANK_NODE_LABEL allows digit/underscore first chars (_:0a,
    // _:_x) — each label is one node, and none can collide with a fresh
    // `[]` node (label images carry an 'l' marker, fresh nodes '0')
    val q3 = SparqlParser.parseUnsafe(
      "PREFIX g: <urn:g:> SELECT ?n ?m WHERE { _:0a a g:Nation ; g:name ?n . " +
        "_:_x g:name ?m . [] g:name ?m }")
    val bgp3 = q3.pattern.asInstanceOf[graft.algebra.Pattern.Bgp]
    val subs3 = bgp3.triples.map(_.s).distinct
    assert(subs3.contains(graft.algebra.Var("__bn_l0a")))
    assert(subs3.contains(graft.algebra.Var("__bn_l_x")))
    assert(subs3.size == 3) // the [] node is distinct from both labels
  }

  test("implicit grouping: aggregate expression with no GROUP BY (§18.2.4.3)") {
    val row = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT (COUNT(*) + 1 AS ?n1) WHERE { ?r a g:Region }""".stripMargin)
      .collect()(0)
    assert(row.getLong(0) == 6L) // 5 regions + 1, one implicit group
  }

  test("GROUP BY builtin call and bare (expr) without AS (§18.2.4.1)") {
    val byCall = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT (COUNT(*) AS ?n) WHERE {
        |  ?l a g:Lineitem ; g:shipdate ?sd .
        |} GROUP BY MONTH(?sd) ORDER BY ?n""".stripMargin).collect()
    assert(byCall.length == 12)
    val byParen = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT (COUNT(*) AS ?n) WHERE {
        |  ?l a g:Lineitem ; g:shipdate ?sd .
        |} GROUP BY (MONTH(?sd)) ORDER BY ?n""".stripMargin).collect()
    assert(byParen.map(_.getLong(0)).toSeq == byCall.map(_.getLong(0)).toSeq)
  }

  test("CONSTRUCT WHERE shorthand uses the template as the pattern") {
    val nt = g.sparql(
      """PREFIX g: <urn:g:>
        |CONSTRUCT WHERE { ?r a g:Region . ?r g:name ?n }""".stripMargin).collect()
    // 5 regions × 2 template triples
    assert(nt.length == 10)
    assert(nt.forall(r => r.getString(0).startsWith("<urn:g:region:")))
  }

  test("SHA384 hashes like the JDK") {
    val want = java.security.MessageDigest.getInstance("SHA-384")
      .digest("abc".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = g.sparql(
      """SELECT (SHA384(?x) AS ?h) WHERE { VALUES ?x { "abc" } }""")
      .collect()(0).getString(0)
    assert(got == want)
  }
}
