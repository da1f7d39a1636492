package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.{Graft, GraftServer, TpchCatalog}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** `/sparql` + `/nextresult` service-layer contract (app/query.py parity):
  * blocking answers, incremental consumption to EOF, drained-session
  * signalling. */
class ServerSpec extends SparkTestBase {

  private lazy val g = Graft.overParquetDir(TpchCatalog.catalog, sfDir)(spark)
  private val mapper = new ObjectMapper()

  private def get(url: String): com.fasterxml.jackson.databind.JsonNode = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val body = new String(conn.getInputStream.readAllBytes(), UTF_8)
    mapper.readTree(body)
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  test("blocking /sparql returns all rows with vars and timings") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val q = """PREFIX g: <urn:g:> SELECT ?n WHERE {
                |  ?r a g:Region ; g:name ?n } ORDER BY ?n""".stripMargin
      val res = get(s"http://127.0.0.1:$port/sparql?query=${enc(q)}")
      assert(res.path("vars").get(0).asText() == "n")
      assert(res.path("totalRows").asInt() == 5)
      val names = (0 until 5).map(i => res.path("result").get(i).path("n").asText())
      assert(names == Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))
      assert(res.path("execTime").asDouble() > 0)
    } finally server.stop()
  }

  test("non-blocking /sparql + /nextresult streams rows then EOF") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val q = "PREFIX g: <urn:g:> SELECT ?n WHERE { ?x a g:Nation ; g:name ?n }"
      val opened = get(s"http://127.0.0.1:$port/sparql?query=${enc(q)}&blocking=0")
      val id = opened.path("hashquery").asText()
      assert(id.nonEmpty && opened.path("totalRows").asInt() == -1)
      var rows = 0
      var eof = false
      while (!eof) {
        val r = get(s"http://127.0.0.1:$port/nextresult?id=$id")
        if (r.path("result").isTextual && r.path("result").asText() == "EOF") {
          eof = true
          assert(r.path("totalRows").asLong() == 25)
          assert(r.path("firstResult").asDouble() > 0)
        } else {
          rows += 1
          assert(r.path("result").path("n").asText().nonEmpty)
        }
      }
      assert(rows == 25)
      // drained session: the reference answers "Already finished"
      val done = get(s"http://127.0.0.1:$port/nextresult?id=$id")
      assert(done.path("error").asText() == "Already finished")
    } finally server.stop()
  }

  test("two blocking=0 sessions with the same query text are separate " +
    "sessions: each drains the full result from its own thread") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val q = "PREFIX g: <urn:g:> SELECT ?n WHERE { ?x a g:Nation ; g:name ?n }"
      val ids = (1 to 2).map(_ =>
        get(s"http://127.0.0.1:$port/sparql?query=${enc(q)}&blocking=0")
          .path("hashquery").asText())
      assert(ids.distinct.size == 2, s"same text must not share a session: $ids")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val drains = ids.map(id => pool.submit(() => {
          val names = scala.collection.mutable.ArrayBuffer[String]()
          var eof = false
          while (!eof) {
            val r = get(s"http://127.0.0.1:$port/nextresult?id=$id")
            if (r.path("result").isTextual) {
              assert(r.path("result").asText() == "EOF", r.toString)
              assert(r.path("totalRows").asLong() == names.size)
              eof = true
            } else names += r.path("result").path("n").asText()
          }
          names.sorted.toSeq
        }))
        val results = drains.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        results.foreach { names =>
          assert(names.size == 25 && names.distinct.size == 25, names)
        }
        assert(results(0) == results(1))
      } finally pool.shutdownNow()
    } finally server.stop()
  }

  test("format=srj answers W3C sparql-results+json with typed terms") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val q = """PREFIX g: <urn:g:> SELECT ?r ?n WHERE {
                |  ?r a g:Region ; g:name ?n } ORDER BY ?n""".stripMargin
      val res = get(s"http://127.0.0.1:$port/sparql?query=${enc(q)}&format=srj")
      assert(res.path("head").path("vars").get(0).asText() == "r")
      val bindings = res.path("results").path("bindings")
      assert(bindings.size() == 5)
      assert(bindings.get(0).path("r").path("type").asText() == "uri")
      assert(bindings.get(0).path("n").path("type").asText() == "literal")
      assert(bindings.get(0).path("n").path("value").asText() == "AFRICA")
    } finally server.stop()
  }

  test("blocking mode streams chunked — a large SELECT never collects") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val q = "PREFIX g: <urn:g:> SELECT ?l ?qty WHERE { ?l a g:Lineitem ; g:quantity ?qty }"
      val conn = URI.create(s"http://127.0.0.1:$port/sparql?query=${enc(q)}")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("GET")
      // chunked transfer = rows left the driver incrementally, not as one
      // collected buffer (the response was produced by the wave drain)
      assert(conn.getHeaderField("Transfer-encoding") == "chunked")
      val res = mapper.readTree(conn.getInputStream)
      val expected = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      assert(res.path("totalRows").asLong() == expected)
      assert(res.path("result").size().toLong == expected)
    } finally server.stop()
  }

  /** The jobs Spark started while `body` ran: a listener scoped to the
    * body, with the bus drained before it is added and after it ran. */
  private def jobsDuring[A](body: => A): (A, Seq[SparkListenerJobStart]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.add(js)
    }
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      TestBus.drain(sc)
      (a, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** A Graft whose `customer` table is `customer(sf frame)`, the others
    * the sf parquet files. */
  private def graftWithCustomer(customer: DataFrame => DataFrame): Graft = {
    val cust = customer(spark.read.parquet(s"$sfDir/customer.parquet"))
    new Graft(TpchCatalog.catalog, t =>
      if (t == "customer") cust else spark.read.parquet(s"$sfDir/$t.parquet"))(spark)
  }

  test("a point read whose scan fits in the task slots runs exactly one job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-point").toString
    spark.read.parquet(s"$sfDir/customer.parquet").repartition(3)
      .write.parquet(s"$dir/customer.parquet")
    val g3 = graftWithCustomer(_ => spark.read.parquet(s"$dir/customer.parquet"))
    val q = """PREFIX g: <urn:g:> SELECT ?n ?b WHERE {
              |  <urn:g:cust:7> a g:Customer ; g:name ?n ; g:acctbal ?b }""".stripMargin
    val parts = g3.sparql(q).queryExecution.executedPlan.execute().getNumPartitions
    val slots = spark.sparkContext.defaultParallelism
    assert(parts > 1 && parts <= slots, s"scan partitions $parts, slots $slots")
    val server = new GraftServer(g3)
    val port = server.start()
    try {
      val url = s"http://127.0.0.1:$port/sparql?query=${enc(q)}"
      val (res, jobs) = jobsDuring(get(url))
      assert(res.path("totalRows").asInt() == 1)
      assert(res.path("result").get(0).path("n").asText() == "Customer#000000007")
      // one job for the whole scan, not one per partition
      val tasks = jobs.map(_.stageInfos.map(_.numTasks).sum)
      assert(tasks == Seq(parts), s"jobs by task count: $tasks")
    } finally server.stop()
  }

  test("a result wider than the task slots drains in sorted waves of " +
    "defaultParallelism partitions") {
    val slots = spark.sparkContext.defaultParallelism
    val parts = 3 * slots
    // range-partitioned on the ORDER BY key and checkpointed with that
    // partitioning: the sort needs no exchange, so every job of the
    // request is a drain job
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val gWide =
      try graftWithCustomer(_.repartitionByRange(parts, col("c_acctbal")).localCheckpoint())
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    val q = """PREFIX g: <urn:g:> SELECT ?c ?b WHERE {
              |  ?c a g:Customer ; g:acctbal ?b } ORDER BY ?b""".stripMargin
    val plan = gWide.sparql(q).queryExecution.executedPlan
    assert(plan.execute().getNumPartitions == parts, plan.treeString)
    val expected = spark.read.parquet(s"$sfDir/customer.parquet").count()
    val server = new GraftServer(gWide)
    val port = server.start()
    try {
      val (res, jobs) = jobsDuring(
        get(s"http://127.0.0.1:$port/sparql?query=${enc(q)}"))
      val bs = (0 until res.path("result").size())
        .map(i => res.path("result").get(i).path("b").asDouble())
      assert(bs.size.toLong == expected)
      assert(bs == bs.sorted, "rows must stream in ORDER BY order across waves")
      val tasks = jobs.map(_.stageInfos.map(_.numTasks).sum)
      assert(tasks.forall(_ <= slots), s"a drain job covered more than $slots partitions: $tasks")
      assert(tasks.size == (parts + slots - 1) / slots, s"jobs by task count: $tasks")
      assert(tasks.sum == parts)
    } finally server.stop()
  }

  test("empty and malformed queries answer with an error payload") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val none = get(s"http://127.0.0.1:$port/sparql")
      assert(none.path("error").asText() == "cannot read query")
      val bad = get(s"http://127.0.0.1:$port/sparql?query=${enc("SELECT nonsense (")}")
      assert(bad.has("error"))
    } finally server.stop()
  }

  test("format=csv and tsv stream W3C tabular results") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val q = """PREFIX g: <urn:g:>
                |SELECT ?r ?rname WHERE { ?r a g:Region ; g:name ?rname }
                |ORDER BY ?r""".stripMargin
      val csv = new String(URI.create(
        s"http://127.0.0.1:$port/sparql?query=${enc(q)}&format=csv")
        .toURL.openStream().readAllBytes(), "UTF-8")
      val csvLines = csv.split("\r\n").toSeq
      assert(csvLines.head == "r,rname")
      assert(csvLines.length == 6) // header + 5 regions
      assert(csvLines(1).startsWith("urn:g:region:")) // CSV: plain lexical form
      val tsvBody = new String(URI.create(
        s"http://127.0.0.1:$port/sparql?query=${enc(q)}&format=tsv")
        .toURL.openStream().readAllBytes(), "UTF-8")
      val tsvLines = tsvBody.split("\r\n").toSeq
      assert(tsvLines.head == "?r\t?rname")
      // TSV: SPARQL surface syntax — IRIs bracketed, strings quoted
      assert(tsvLines(1).matches("<urn:g:region:\\d+>\t\".*\""), tsvLines(1))
    } finally server.stop()
  }

  test("format=xml streams W3C sparql-results+xml") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val q = """PREFIX g: <urn:g:>
                |SELECT ?r ?rname WHERE { ?r a g:Region ; g:name ?rname }
                |ORDER BY ?r""".stripMargin
      val xml = new String(URI.create(
        s"http://127.0.0.1:$port/sparql?query=${enc(q)}&format=xml")
        .toURL.openStream().readAllBytes(), "UTF-8")
      assert(xml.startsWith("""<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#">"""))
      assert(xml.contains("""<variable name="r"/><variable name="rname"/>"""))
      assert(xml.split("<result>").length == 6) // 5 regions
      assert(xml.contains("<uri>urn:g:region:"))
      assert(xml.contains("<literal>"))
      // well-formed enough for a real XML parser
      javax.xml.parsers.DocumentBuilderFactory.newInstance()
        .newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    } finally server.stop()
  }

  test("ASK answers the W3C boolean document; CONSTRUCT streams N-Triples") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val ask = get(s"http://127.0.0.1:$port/sparql?query=${
        enc("PREFIX g: <urn:g:> ASK { ?r a g:Region }")}&format=srj")
      assert(ask.path("boolean").asBoolean() && ask.has("head"))
      val askNo = get(s"http://127.0.0.1:$port/sparql?query=${
        enc("""PREFIX g: <urn:g:> ASK { ?r g:name "no such name" }""")}&format=srj")
      assert(!askNo.path("boolean").asBoolean())
      val nt = new String(URI.create(s"http://127.0.0.1:$port/sparql?query=${
        enc("""PREFIX g: <urn:g:>
              |CONSTRUCT { ?r g:label ?n } WHERE { ?r a g:Region ; g:name ?n }"""
          .stripMargin)}&format=nt").toURL.openStream().readAllBytes(), "UTF-8")
      val lines = nt.split("\n").toSeq
      assert(lines.length == 5)
      assert(lines.forall(_.matches("<urn:g:region:\\d+> <urn:g:label> \".*\" \\.")), lines.head)
    } finally server.stop()
  }

  test("ASK under XML is the boolean document; explicit format beats Accept") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val xml = new String(URI.create(s"http://127.0.0.1:$port/sparql?query=${
        enc("PREFIX g: <urn:g:> ASK { ?r a g:Region }")}&format=xml")
        .toURL.openStream().readAllBytes(), "UTF-8")
      assert(xml.contains("<boolean>true</boolean>") && !xml.contains("<results>"))
      // explicit format=srj wins over an XML Accept header
      val conn = URI.create(s"http://127.0.0.1:$port/sparql?query=${
        enc("PREFIX g: <urn:g:> SELECT ?n WHERE { ?n a g:Nation } LIMIT 1")}&format=srj")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestProperty("Accept", "application/sparql-results+xml")
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(conn.getHeaderField("Content-Type").contains("sparql-results+json"), body.take(80))
      assert(body.contains("\"bindings\""))
    } finally server.stop()
  }

  test("/explain reports decomposition and plan without executing") {
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val q = """PREFIX g: <urn:g:>
                |SELECT ?name WHERE { ?c a g:Customer ; g:name ?name }""".stripMargin
      val res = get(s"http://127.0.0.1:$port/explain?query=${enc(q)}")
      val report = res.path("report").asText()
      assert(report.contains("Decomposition (1 stars"))
      assert(report.contains("customer@"))
      assert(report.contains("== Physical Plan =="))
      // explain must not count as a served query (federation tests rely
      // on queriesServed to pin dispatch strategies)
      assert(server.queriesServed.get() == 0)
    } finally server.stop()
  }
}
