package graft

import org.apache.spark.sql.functions._
import graft.api.{Graft, TpchCatalog}

/** LSLOD-corpus query shapes (CQ1/SQ10/CQ9 etc.) retargeted at the fixture
  * catalog — the compositions that break naive compilers: optionals
  * spanning stars, unions inside joins, nested optionals. */
class StressSpec extends SparkTestBase {

  lazy val g: Graft = Graft.overParquetDir(TpchCatalog.catalog, sfDir)(spark)
  def t(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")

  test("CQ1 shape: 3-source star chain + multi-star OPTIONAL with filter") {
    val got = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?cname ?qty ?rp WHERE {
        |  ?c a g:Customer ; g:name ?cname ; g:mktsegment "BUILDING" .
        |  ?o g:customer ?c .
        |  ?l g:order ?o ; g:quantity ?qty .
        |  OPTIONAL { ?l g:part ?p . ?p g:retailprice ?rp . FILTER (?rp > 1500) }
        |}""".stripMargin)
    val base = t("customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t("orders"), col("o_custkey") === col("c_custkey"))
      .join(t("lineitem"), col("l_orderkey") === col("o_orderkey"))
    val optSide = t("part").filter(col("p_retailprice") > 1500)
    val want = base.join(optSide, col("l_partkey") === col("p_partkey"), "left_outer")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.filter(col("rp").isNull).count() ==
      want.filter(col("p_retailprice").isNull).count())
  }

  test("union nested inside a join") {
    val got = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?c ?n WHERE {
        |  ?c a g:Customer ; g:name ?n .
        |  { ?c g:mktsegment "BUILDING" } UNION { ?c g:mktsegment "MACHINERY" }
        |}""".stripMargin)
    val want = t("customer")
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
    assert(got.count() == want.count())
  }

  test("nested OPTIONAL chain customer → orders → lineitem") {
    val got = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?c ?o ?qty WHERE {
        |  ?c a g:Customer .
        |  OPTIONAL { ?o g:customer ?c ; g:totalprice ?tp . FILTER (?tp > 400000)
        |    OPTIONAL { ?l g:order ?o ; g:quantity ?qty . FILTER (?qty > 45) } }
        |}""".stripMargin)
    val bigOrders = t("orders").filter(col("o_totalprice") > 400000)
    val bigLines = t("lineitem").filter(col("l_quantity") > 45)
    val inner = bigOrders.join(bigLines, col("l_orderkey") === col("o_orderkey"), "left_outer")
    val want = t("customer").join(inner, col("o_custkey") === col("c_custkey"), "left_outer")
    assert(got.count() == want.count())
    assert(got.filter(col("o").isNull).count() ==
      want.filter(col("o_orderkey").isNull).count())
    assert(got.filter(col("o").isNotNull && col("qty").isNull).count() ==
      want.filter(col("o_orderkey").isNotNull && col("l_quantity").isNull).count())
  }

  test("SQ10 shape: wide star with type + cross-source link + modifiers") {
    val got = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT DISTINCT ?o ?odate ?tp ?prio ?cname WHERE {
        |  ?o a g:Order ; g:orderdate ?odate ; g:totalprice ?tp ;
        |     g:orderstatus ?st ; g:orderpriority ?prio ; g:customer ?c .
        |  ?c g:name ?cname ; g:mktsegment "AUTOMOBILE" .
        |  FILTER (?tp >= 100000 && ?st != "F")
        |} ORDER BY DESC(?tp) LIMIT 25""".stripMargin)
    val want = t("orders")
      .filter(col("o_totalprice") >= 100000 && col("o_orderstatus") =!= "F")
      .join(t("customer").filter(col("c_mktsegment") === "AUTOMOBILE"),
        col("o_custkey") === col("c_custkey"))
      .orderBy(col("o_totalprice").desc).limit(25)
    assert(got.count() == want.count())
    val gotTop = got.collect().map(_.getDouble(2)).sorted
    val wantTop = want.collect().map(r => r.getAs[Double]("o_totalprice")).sorted
    assert(gotTop.toSeq == wantTop.toSeq)
  }

  test("CQ9 shape: two star groups bridged only by a STR filter + LIMIT") {
    val got = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?c ?s WHERE {
        |  ?c a g:Customer ; g:nation ?n1 ; g:acctbal ?cb . FILTER (?cb > 9000)
        |  ?s a g:Supplier ; g:nation ?n2 ; g:acctbal ?sb . FILTER (?sb > 9000)
        |  FILTER (STR(?n1) = STR(?n2))
        |} LIMIT 100""".stripMargin)
    val n = got.count()
    val full = t("customer").filter(col("c_acctbal") > 9000)
      .join(t("supplier").filter(col("s_acctbal") > 9000),
        col("c_nationkey") === col("s_nationkey")).count()
    assert(n == math.min(full, 100L))
  }

  test("server survives concurrent blocking and incremental clients") {
    import java.net.{HttpURLConnection, URI, URLEncoder}
    import java.nio.charset.StandardCharsets.UTF_8
    val server = new graft.api.GraftServer(g)
    val port = server.start()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def get(url: String) = {
      val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("GET")
      val body = new String(conn.getInputStream.readAllBytes(), UTF_8)
      mapper.readTree(body)
    }
    try {
      val qs = Seq(
        "PREFIX g: <urn:g:> SELECT ?n WHERE { ?r a g:Region ; g:name ?n }",
        "PREFIX g: <urn:g:> SELECT ?n WHERE { ?x a g:Nation ; g:name ?n }",
        "PREFIX g: <urn:g:> SELECT (COUNT(?c) AS ?n) WHERE { ?c a g:Customer }")
      val expected = Seq(5, 25, 1)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val runs = Future.sequence((0 until 12).map { i =>
        Future {
          // whitespace-distinct query text per client, so distinct texts
          // are served side by side (ServerSpec pins same-text sessions)
          val text = qs(i % 3) + (" " * (i + 1))
          val q = URLEncoder.encode(text, UTF_8)
          if (i % 2 == 0) { // blocking client: count streamed rows
            get(s"http://127.0.0.1:$port/sparql?query=$q")
              .path("totalRows").asInt()
          } else { // incremental client: drain /nextresult to EOF
            val id = get(s"http://127.0.0.1:$port/sparql?query=$q&blocking=0")
              .path("hashquery").asText()
            var n = 0
            var eof = false
            while (!eof) {
              val r = get(s"http://127.0.0.1:$port/nextresult?id=$id")
              if (r.path("result").isTextual &&
                  r.path("result").asText() == "EOF") eof = true
              else n += 1
            }
            n
          }
        }
      })
      val counts = Await.result(runs, 120.seconds)
      counts.zipWithIndex.foreach { case (n, i) =>
        assert(n == expected(i % 3), s"client $i got $n rows")
      }
      assert(server.sweepIdleSessions(System.currentTimeMillis() + 700000L) == 0)
    } finally server.stop()
  }
}
