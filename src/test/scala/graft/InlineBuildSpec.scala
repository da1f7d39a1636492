package graft

import graft.api.{Graft, TpchCatalog}
import graft.compiler.{Compiler, RoutePlanner}
import graft.mapping._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

/** The compiler's inline rule: a selective side of an inner BGP join over
  * local molecules is evaluated first, by a drain of at most
  * `RoutePlanner.BindKeyCap` + 1 rows, and joined as a local relation when
  * it has at most `BindKeyCap` rows, so the join builds its hash table on
  * those rows instead of broadcasting the unselective star. */
class InlineBuildSpec extends SparkTestBase {

  private lazy val g = Graft.overParquetDir(TpchCatalog.catalog, sfDir)(spark)
  private def table(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")

  /** The lake_upsert template-2 shape: a customer-name literal star, the
    * nation dimension, and the unfiltered orders star. */
  private def custNationOrders(name: String) =
    s"""PREFIX g: <urn:g:> SELECT ?c ?nn ?o ?p WHERE {
       |  ?c g:name "$name" ; g:nation ?nat . ?nat g:name ?nn .
       |  ?o g:customer ?c ; g:totalprice ?p }""".stripMargin

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Every node of an executed plan, through AQE wrappers and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec        => s +: nodes(s.plan)
    case other                    => other +: other.children.flatMap(nodes)
  }

  private def decided(query: String, gr: Graft = g): (DataFrame, List[Compiler.Inlined]) = {
    val (df, ds) = Compiler.recordingDecisions(gr.sparql(query))
    (df, ds.flatMap(_.inlined))
  }

  test("a selective star joined to an unselective one is the local build side") {
    val (df, inlined) = decided(custNationOrders("Customer#000000007"))
    // stars 0 (customer name) and 1 (nation) joined first, then inlined
    assert(inlined == List(Compiler.Inlined(List(0, 1), 1L)))
    val expected = table("customer").filter(col("c_name") === "Customer#000000007")
      .join(table("nation"), col("c_nationkey") === col("n_nationkey"))
      .join(table("orders"), col("o_custkey") === col("c_custkey"))
      .select(concat(lit("urn:g:cust:"), col("c_custkey")), col("n_name"),
        concat(lit("urn:g:order:"), col("o_orderkey")), col("o_totalprice"))
    val want = sortedRows(expected)
    assert(want.nonEmpty)
    assert(sortedRows(df) == want)
    val plan = nodes(df.queryExecution.executedPlan)
    val broadcasts = plan.collect { case b: BroadcastExchangeExec => nodes(b.child) }
    assert(broadcasts.exists(_.exists(_.isInstanceOf[LocalTableScanExec])),
      df.queryExecution.executedPlan.treeString)
    assert(!broadcasts.exists(_.exists {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains("orders"))
      case _                     => false
    }), "the orders star must not be broadcast")
  }

  test("explain names the inlined star and its rows") {
    val report = g.explain(custNationOrders("Customer#000000007"))
    assert(report.contains("star 0 ⋈ star 1 inlined (1 row)"), report)
    assert(report.contains("LocalTableScan"), report)
  }

  /** `tags`: ids 0..cap are "hot" (cap + 1 rows), ids cap+1..2cap are
    * "warm" (cap rows); `items`: one per tag. */
  private lazy val tagged: Graft = {
    val cap = RoutePlanner.BindKeyCap
    val tags = spark.range(0, 2 * cap + 1)
      .select(col("id").as("tid"), when(col("id") <= cap, "hot").otherwise("warm").as("kind"))
    val items = spark.range(0, 2 * cap + 1)
      .select((col("id") + 1000000L).as("iid"), col("id").as("tid"), (col("id") % 97).as("w"))
    val cat = Catalog(List(
      Molecule("urn:t:Tag", "tags", Template("urn:t:tag:{tid}"),
        Map("urn:t:kind" -> RefMap("kind")), source = "srcT"),
      Molecule("urn:t:Item", "items", Template("urn:t:item:{iid}"),
        Map("urn:t:tag" -> TemplateMap(Template("urn:t:tag:{tid}")),
          "urn:t:w" -> RefMap("w")), source = "srcT")))
    new Graft(cat, Map("tags" -> tags, "items" -> items))(spark)
  }

  private def taggedQuery(kind: String) =
    s"""SELECT ?t ?i ?w WHERE { ?t <urn:t:kind> "$kind" .
       |  ?i <urn:t:tag> ?t ; <urn:t:w> ?w }""".stripMargin

  private def taggedExpected(lo: Long, hi: Long): Seq[String] =
    (lo to hi).map(id => s"urn:t:tag:$id|urn:t:item:${id + 1000000L}|${id % 97}").sorted

  test("a selective star past BindKeyCap rows is not inlined; its rows are unchanged") {
    val cap = RoutePlanner.BindKeyCap
    val (df, inlined) = decided(taggedQuery("hot"), tagged)
    assert(inlined.isEmpty)
    assert(!nodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[LocalTableScanExec]))
    assert(sortedRows(df) == taggedExpected(0, cap))
  }

  test("a selective star of exactly BindKeyCap rows is inlined") {
    val cap = RoutePlanner.BindKeyCap
    val (df, inlined) = decided(taggedQuery("warm"), tagged)
    assert(inlined == List(Compiler.Inlined(List(0), cap)))
    assert(sortedRows(df) == taggedExpected(cap + 1, 2 * cap))
  }

  test("an OPTIONAL right side is never inlined") {
    val q = """PREFIX g: <urn:g:> SELECT ?o ?c ?b WHERE { ?o g:customer ?c
              |  OPTIONAL { ?c g:name "Customer#000000007" ; g:acctbal ?b } }""".stripMargin
    val (df, inlined) = decided(q)
    assert(inlined.isEmpty)
    val cust = table("customer").filter(col("c_name") === "Customer#000000007")
    val expected = table("orders").join(cust, col("o_custkey") === col("c_custkey"), "left_outer")
      .select(concat(lit("urn:g:order:"), col("o_orderkey")),
        concat(lit("urn:g:cust:"), col("o_custkey")), col("c_acctbal"))
    assert(sortedRows(df) == sortedRows(expected))
  }

  test("a star over a remote endpoint is never inlined or fetched at compile time") {
    val q = custNationOrders("Customer#000000007")
    // the selective customer star, then the unselective orders star, on
    // an endpoint (served here by local tables, so the rows still check)
    for (remoteTable <- Seq("customer", "orders")) {
      val remote = TpchCatalog.catalog.copy(molecules = TpchCatalog.catalog.molecules.map(m =>
        if (m.table == remoteTable) m.copy(source = "http://remote.invalid/sparql") else m))
      val gr = new Graft(remote, t => table(t))(spark)
      val (df, inlined) = decided(q, gr)
      assert(inlined.isEmpty, remoteTable)
      assert(sortedRows(df) == sortedRows(g.sparql(q)), remoteTable)
    }
  }
}
