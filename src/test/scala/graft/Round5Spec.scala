package graft

import org.apache.spark.sql.functions._
import graft.api.{Graft, GraftServer, TpchCatalog}

/** Round-5 federation: SERVICE over a real remote endpoint. The inner
  * pattern is serialized back to SPARQL text ([[graft.compiler.SparqlText]])
  * and paged over HTTP against our own server on loopback — the full W3C
  * Federated Query dispatch loop with zero egress. */
class Round5Spec extends SparkTestBase {

  private lazy val g = Graft.overParquetDir(TpchCatalog.catalog, sfDir)(spark)

  private def withServer[A](f: Int => A): A = {
    val server = new GraftServer(g)
    val port = server.start()
    try f(port) finally server.stop()
  }

  test("SERVICE with an http IRI dispatches the pattern to the endpoint") {
    withServer { port =>
      // small endpoint answer (25 nations) so executor page-fetch slots
      // and the serving session's own tasks never deadlock on local[n]
      val df = g.sparql(
        s"""PREFIX g: <urn:g:>
           |SELECT ?n ?nm WHERE {
           |  SERVICE <http://127.0.0.1:$port/sparql> {
           |    ?n a g:Nation ; g:name ?nm }
           |} ORDER BY ?n""".stripMargin)
      val local = g.sparql(
        """PREFIX g: <urn:g:>
          |SELECT ?n ?nm WHERE { ?n a g:Nation ; g:name ?nm } ORDER BY ?n""".stripMargin)
      assert(df.collect().map(_.toSeq).toSeq == local.collect().map(_.toSeq).toSeq)
    }
  }

  test("remote SERVICE joins with local patterns on term identity") {
    withServer { port =>
      val fed = g.sparql(
        s"""PREFIX g: <urn:g:>
           |SELECT ?r ?rn WHERE {
           |  ?n g:region ?r .
           |  SERVICE <http://127.0.0.1:$port/sparql> { ?r g:name ?rn }
           |} ORDER BY ?r ?rn""".stripMargin)
      val local = g.sparql(
        """PREFIX g: <urn:g:>
          |SELECT ?r ?rn WHERE { ?n g:region ?r . ?r g:name ?rn }
          |ORDER BY ?r ?rn""".stripMargin)
      assert(fed.collect().map(_.toSeq).toSeq == local.collect().map(_.toSeq).toSeq)
      assert(fed.count() == 25) // one row per nation
    }
  }

  test("remote SERVICE carries FILTER and OPTIONAL through serialization") {
    withServer { port =>
      val fed = g.sparql(
        s"""PREFIX g: <urn:g:>
           |SELECT ?n ?nm WHERE {
           |  SERVICE <http://127.0.0.1:$port/sparql> {
           |    ?n a g:Nation ; g:name ?nm . FILTER (CONTAINS(?nm, "1")) }
           |} ORDER BY ?n""".stripMargin)
      val local = g.sparql(
        """PREFIX g: <urn:g:>
          |SELECT ?n ?nm WHERE { ?n a g:Nation ; g:name ?nm .
          |  FILTER (CONTAINS(?nm, "1")) } ORDER BY ?n""".stripMargin)
      assert(fed.collect().map(_.toSeq).toSeq == local.collect().map(_.toSeq).toSeq)
      assert(fed.count() > 0 && fed.count() < 25)
    }
  }

  test("SERVICE sharing vars with a sibling compiles to a bind join") {
    // 5 distinct ?r keys, window 20 ⇒ exactly ONE remote request carrying
    // a VALUES block — not a sizing COUNT plus paged fetch
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val fed = g.sparql(
        s"""PREFIX g: <urn:g:>
           |SELECT ?r ?rn WHERE {
           |  ?n g:region ?r .
           |  SERVICE <http://127.0.0.1:$port/sparql> { ?r g:name ?rn }
           |} ORDER BY ?r ?rn""".stripMargin)
      val rows = fed.collect() // window fetches run executor-side, lazily
      val requests = server.queriesServed.get()
      assert(requests == 1, s"bind join should send 1 windowed request, sent $requests")
      val local = g.sparql(
        """PREFIX g: <urn:g:>
          |SELECT ?r ?rn WHERE { ?n g:region ?r . ?r g:name ?rn }
          |ORDER BY ?r ?rn""".stripMargin)
      assert(rows.map(_.toSeq).toSeq == local.collect().map(_.toSeq).toSeq)
    } finally server.stop()
  }

  test("bind join over the key cap falls back to the full paged fetch") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      spark.conf.set("graft.service.bindJoin.maxKeys", "2")
      val fed = g.sparql(
        s"""PREFIX g: <urn:g:>
           |SELECT ?r ?rn WHERE {
           |  ?n g:region ?r .
           |  SERVICE <http://127.0.0.1:$port/sparql> { ?r g:name ?rn }
           |} ORDER BY ?r ?rn""".stripMargin)
      val rows = fed.collect().map(_.toSeq).toSeq
      // full fetch sends one COUNT, then pages — several requests
      assert(server.queriesServed.get() > 1)
      val local = g.sparql(
        """PREFIX g: <urn:g:>
          |SELECT ?r ?rn WHERE { ?n g:region ?r . ?r g:name ?rn }
          |ORDER BY ?r ?rn""".stripMargin)
      assert(rows == local.collect().map(_.toSeq).toSeq)
    } finally {
      spark.conf.unset("graft.service.bindJoin.maxKeys")
      server.stop()
    }
  }

  test("config-declared endpoint datasource federates like any table") {
    // the reference's SPARQL_Endpoint datasource type: a config entry turns
    // a remote endpoint into a queryable table + molecule, here loopback
    withServer { port =>
      val loaded = graft.api.GraftConfig.parse(
        s"""{ "datasources": [
           |    {"table": "remote_nation", "type": "endpoint",
           |     "url": "http://127.0.0.1:$port/sparql",
           |     "params": {
           |       "query": "PREFIX g: <urn:g:> SELECT ?k ?nm WHERE { ?n a g:Nation ; g:name ?nm . BIND (STRAFTER(STR(?n), \\"nation:\\") AS ?k) } ORDER BY ?k",
           |       "schema": "k STRING, nm STRING", "pageSize": "10"}} ],
           |  "molecules": [
           |    {"type": "urn:g:RemoteNation", "table": "remote_nation",
           |     "subject": "urn:g:rnation:{k}",
           |     "predicates": [{"predicate": "urn:g:name", "column": "nm"}]} ]
           |}""".stripMargin)(spark)
      val rows = loaded.graft(spark).sparql(
        """PREFIX g: <urn:g:>
          |SELECT ?x ?nm WHERE { ?x a g:RemoteNation ; g:name ?nm }
          |ORDER BY ?x""".stripMargin).collect()
      assert(rows.length == 25)
      assert(rows.forall(_.getString(0).startsWith("urn:g:rnation:")))
      assert(rows.map(_.getString(1)).toSet ==
        (0 until 25).map(i => s"NATION_$i").toSet)
    }
  }

  test("a SERVICE full fetch and a config endpoint table each send one " +
    "COUNT plus ceil(n/pageSize) pages, never a LIMIT 1 probe") {
    val server = new GraftServer(g)
    val port = server.start()
    val url = s"http://127.0.0.1:$port/sparql"
    /** The queries `run` sent to the endpoint. */
    def sent(run: => Unit): Seq[String] = {
      val before = server.queriesServed.get()
      run
      server.recentQueries.takeRight((server.queriesServed.get() - before).toInt)
    }
    def assertPaged(qs: Seq[String], n: Long, pageSize: Int): Unit = {
      val pages = qs.filter(_.matches(s"(?s).* LIMIT $pageSize OFFSET \\d+"))
      assert(!qs.exists(_.contains("LIMIT 1 OFFSET")), qs.mkString("\n"))
      assert(qs.count(_.contains("COUNT(*)")) == 1, qs.mkString("\n"))
      assert(pages.size == (n + pageSize - 1) / pageSize && qs.size == 1 + pages.size,
        s"$n rows, pages of $pageSize:\n${qs.mkString("\n")}")
    }
    try {
      // SERVICE over the bind-join key cap: the full fetch of every g:name
      spark.conf.set("graft.service.bindJoin.maxKeys", "2")
      val names = g.sparql(
        "PREFIX g: <urn:g:> SELECT ?r ?rn WHERE { ?r g:name ?rn }").count()
      val service = sent {
        assert(g.sparql(
          s"""PREFIX g: <urn:g:>
             |SELECT ?r ?rn WHERE {
             |  ?n g:region ?r .
             |  SERVICE <$url> { ?r g:name ?rn }
             |}""".stripMargin).collect().length == 25)
      }
      assertPaged(service, names, graft.compiler.QueryShip.GroupShip().pageSize)
      // a config endpoint table: 25 nations in pages of 10
      val loaded = graft.api.GraftConfig.parse(
        s"""{ "datasources": [
           |    {"table": "remote_nation", "type": "endpoint", "url": "$url",
           |     "params": {
           |       "query": "PREFIX g: <urn:g:> SELECT ?k ?nm WHERE { ?n a g:Nation ; g:name ?nm . BIND (STRAFTER(STR(?n), \\"nation:\\") AS ?k) }",
           |       "schema": "k STRING, nm STRING", "pageSize": "10"}} ],
           |  "molecules": [
           |    {"type": "urn:g:RemoteNation", "table": "remote_nation",
           |     "subject": "urn:g:rnation:{k}",
           |     "predicates": [{"predicate": "urn:g:name", "column": "nm"}]} ]
           |}""".stripMargin)(spark)
      val table = sent {
        assert(loaded.graft(spark).sparql(
          "SELECT ?x ?nm WHERE { ?x <urn:g:name> ?nm }").collect().length == 25)
      }
      assertPaged(table, 25L, 10)
    } finally {
      spark.conf.unset("graft.service.bindJoin.maxKeys")
      server.stop()
    }
  }

  test("a config endpoint table whose query cannot ship fails config loading") {
    def load(query: String) = graft.api.GraftConfig.parse(
      s"""{ "datasources": [
         |    {"table": "t", "type": "endpoint", "url": "http://127.0.0.1:1/sparql",
         |     "params": {"query": "$query", "schema": "x STRING"}} ] }""".stripMargin)(spark)
    intercept[IllegalArgumentException](load("SELECT ?x WHERE { ?x"))
    // SERVICE inside the declared query: its IRI routes elsewhere
    intercept[IllegalArgumentException](load(
      "SELECT ?x WHERE { SERVICE <http://127.0.0.1:2/sparql> { ?x ?p ?o } }"))
  }

  test("SparqlText round-trips through the parser") {
    // serialize(parse(q)) must parse back to the SAME algebra — the
    // property that makes SERVICE dispatch trustworthy against any
    // endpoint running this engine
    import graft.parser.SparqlParser
    import graft.compiler.SparqlText
    val queries = Seq(
      "PREFIX g: <urn:g:> SELECT ?c ?n WHERE { ?c a g:Customer ; g:name ?n }",
      """PREFIX g: <urn:g:> SELECT ?c WHERE {
        |  ?c a g:Customer ; g:acctbal ?b . FILTER (?b > 100 && !(?b > 5000)) }""".stripMargin,
      """PREFIX g: <urn:g:> SELECT ?x WHERE {
        |  { ?x a g:Customer } UNION { ?x a g:Supplier } }""".stripMargin,
      """PREFIX g: <urn:g:> SELECT ?c ?o WHERE {
        |  ?c a g:Customer . OPTIONAL { ?o g:customer ?c } }""".stripMargin,
      """PREFIX g: <urn:g:> SELECT ?c ?nm WHERE {
        |  ?c g:nation ?n . BIND (STR(?n) AS ?nm)
        |  VALUES ?c { <urn:g:cust:1> <urn:g:cust:2> } }""".stripMargin,
      "PREFIX g: <urn:g:> SELECT ?x ?y WHERE { ?x (g:nation|g:region)+ ?y }")
    queries.foreach { q =>
      val p1 = SparqlParser.parseUnsafe(q).pattern
      val text = s"SELECT * WHERE { ${SparqlText.pattern(p1)} }"
      val p2 = SparqlParser.parseUnsafe(text).pattern
      assert(p2 == p1, s"round-trip drifted for:\n$q\nvia\n$text")
    }
  }

  test("SERVICE SILENT over an unreachable endpoint degrades to unit") {
    // port 1 refuses connections; non-SILENT must fail (a lazy remote
    // scan, so at the action), SILENT must not
    intercept[Exception] {
      g.sparql(
        """PREFIX g: <urn:g:> SELECT ?x WHERE {
          |  SERVICE <http://127.0.0.1:1/sparql> { ?x a g:Nation } }""".stripMargin)
        .collect()
    }
    val silent = g.sparql(
      """PREFIX g: <urn:g:> SELECT ?r WHERE {
        |  ?r a g:Region .
        |  SERVICE SILENT <http://127.0.0.1:1/sparql> { ?x a g:Nation } }""".stripMargin)
    assert(silent.count() == 5) // unit solution joins as identity
  }
}
