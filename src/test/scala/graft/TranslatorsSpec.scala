package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.algebra._
import graft.api.TpchCatalog
import graft.sources.DocStoreTranslators._

/** Star → Mongo-pipeline / Cypher translation (the reference's
  * `sparql2mongo.py` / `sparql2cypher.py` wrapper logic; transport is out of
  * scope in the zero-egress container). */
class TranslatorsSpec extends AnyFunSuite {
  private val G = "urn:g:"
  private val cat = TpchCatalog.catalog
  private val customer = cat.byType(s"${G}Customer").head

  private def t(s: Term, p: String, o: Term) = TriplePattern(s, Iri(G + p), o)

  test("mongo: constant object becomes $match, variable object $project + guards") {
    val star = List(
      TriplePattern(Var("c"), Iri(Terms.RdfType), Iri(s"${G}Customer")),
      t(Var("c"), "mktsegment", Lit("BUILDING")),
      t(Var("c"), "name", Var("n")))
    val p = toMongoPipeline(Var("c"), star, customer)
    assert(p.contains(""""c_mktsegment": "BUILDING""""))
    assert(p.contains(""""n": "$c_name""""))
    assert(p.contains(""""__k_c_0": "$c_custkey"""")) // subject keys projected
    assert(p.contains(""""c_name": {"$exists": true, "$ne": null}"""))
    assert(p.startsWith("""[{"$match":""") && p.contains(""""$project":"""))
  }

  test("mongo: constant subject inverts the URI template; paging appended") {
    val p = toMongoPipeline(Iri(s"${G}cust:42"),
      List(t(Iri(s"${G}cust:42"), "acctbal", Var("b"))), customer,
      limit = Some(10), offset = Some(5))
    assert(p.contains(""""c_custkey": "42""""))
    assert(p.contains(""""$skip": 5""") && p.contains(""""$limit": 10"""))
    assert(p.indexOf("$skip") < p.indexOf("$limit")) // skip before limit
  }

  test("mongo: template-valued predicate inverts constants / projects keys") {
    val konst = toMongoPipeline(Var("c"),
      List(t(Var("c"), "nation", Iri(s"${G}nation:7"))), customer)
    assert(konst.contains(""""c_nationkey": "7""""))
    val varo = toMongoPipeline(Var("c"),
      List(t(Var("c"), "nation", Var("nat"))), customer)
    assert(varo.contains(""""__k_nat_0": "$c_nationkey""""))
  }

  test("cypher: label from class, WHERE equalities, RETURN aliases") {
    val star = List(
      TriplePattern(Var("c"), Iri(Terms.RdfType), Iri(s"${G}Customer")),
      t(Var("c"), "mktsegment", Lit("BUILDING")),
      t(Var("c"), "name", Var("n")))
    val cy = toCypher(Var("c"), star, customer, cat)
    assert(cy.startsWith("MATCH (n:Customer)"))
    assert(cy.contains("""n.c_mktsegment = "BUILDING""""))
    assert(cy.contains("RETURN") && cy.contains("n.c_name AS n"))
    assert(cy.contains("n.c_custkey AS __k_c_0"))
  }

  test("cypher: template link to another molecule becomes a relationship") {
    val cy = toCypher(Var("c"),
      List(t(Var("c"), "nation", Var("nat"))), customer, cat)
    assert(cy.contains("(n)-[:nation]->(m1:"))
    assert(cy.contains("m1.") && cy.contains("AS __k_nat_0"))
  }

  test("cypher: constant subject + paging") {
    val cy = toCypher(Iri(s"${G}cust:42"),
      List(t(Iri(s"${G}cust:42"), "acctbal", Var("b"))), customer, cat,
      limit = Some(3), offset = Some(1))
    assert(cy.contains("""n.c_custkey = "42""""))
    assert(cy.endsWith("SKIP 1 LIMIT 3"))
  }
}

/** The generated Mongo pipelines must *compute*, not just stringify:
  * [[graft.sources.MongoPipeline]] executes them against a JSON-derived
  * DataFrame (a document collection as far as the stage semantics go) and
  * the rows must match the equivalent direct Spark plan — the executing
  * half of the reference's `mongodb/__init__.py:44-79` wrapper. */
class MongoPipelineExecSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import graft.sources.MongoPipeline

  private val G = "urn:g:"
  private val customer = graft.api.TpchCatalog.catalog.byType(s"${G}Customer").head
  private def t(s: Term, p: String, o: Term) =
    TriplePattern(s, Iri(G + p), o)

  private lazy val collection = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mongo").toString
    spark.read.parquet(s"$sfDir/customer.parquet")
      .coalesce(1).write.mode("overwrite").json(tmp)
    spark.read.json(tmp)
  }

  test("constant-object star executes to the direct plan's rows") {
    val star = List(
      TriplePattern(Var("c"), Iri(Terms.RdfType), Iri(s"${G}Customer")),
      t(Var("c"), "mktsegment", Lit("BUILDING")),
      t(Var("c"), "name", Var("n")))
    val got = MongoPipeline.execute(collection,
      toMongoPipeline(Var("c"), star, customer))
    val want = collection
      .filter(col("c_custkey").isNotNull && col("c_name").isNotNull &&
        col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").cast("string").as("__k_c_0"),
        col("c_name").as("n"))
    assert(got.columns.toSeq == Seq("__k_c_0", "n"))
    assert(got.select(col("__k_c_0").cast("string"), col("n"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      want.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    assert(got.count() > 0)
  }

  test("template-valued constant executes as an inverted key match") {
    val got = MongoPipeline.execute(collection,
      toMongoPipeline(Var("c"), List(t(Var("c"), "nation", Iri(s"${G}nation:7"))),
        customer))
    assert(got.count() ==
      collection.filter(col("c_nationkey") === 7).count() && got.count() > 0)
  }

  test("$skip/$limit stages page the collection") {
    // one matching document, skipped past ⇒ empty
    val skipped = MongoPipeline.execute(collection,
      toMongoPipeline(Iri(s"${G}cust:42"),
        List(t(Iri(s"${G}cust:42"), "acctbal", Var("b"))), customer,
        limit = Some(10), offset = Some(5)))
    assert(skipped.count() == 0)
    // many matching documents, limited to 3
    val limited = MongoPipeline.execute(collection,
      toMongoPipeline(Var("c"),
        List(t(Var("c"), "mktsegment", Lit("BUILDING")),
          t(Var("c"), "name", Var("n"))), customer, limit = Some(3)))
    assert(limited.count() == 3)
  }

  test("$unwind and $in operator stages execute") {
    import spark.implicits._
    val docs = Seq(
      ("a", Seq(1, 2, 3)), ("b", Seq(4)), ("c", Seq.empty[Int])
    ).toDF("doc_id", "xs")
    val out = MongoPipeline.execute(docs,
      """[{"$unwind": "$xs"},
        | {"$match": {"xs": {"$in": [2, 3, 4]}}},
        | {"$project": {"id": "$doc_id", "x": "$xs"}}]""".stripMargin)
    assert(out.collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq ==
      Seq(("a", 2), ("a", 3), ("b", 4)))
  }
}

/** The generated Cypher must also *compute*: [[graft.sources.CypherGraph]]
  * executes it against a property graph modeled as per-label node frames +
  * a typed edge frame (relationship hops join through stored edges, the
  * traversal a graph store performs natively) — the executing half of the
  * reference's `neo4j/__init__.py:165-242` wrapper. */
class CypherGraphExecSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import graft.sources.{CypherGraph, DocStoreTranslators}
  import CypherGraph.Graph

  private val G = "urn:g:"
  private val cat = graft.api.TpchCatalog.catalog
  private val customer = cat.byType(s"${G}Customer").head
  private def t(s: Term, p: String, o: Term) =
    TriplePattern(s, Iri(G + p), o)

  private lazy val graph: Graph = {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val nat = spark.read.parquet(s"$sfDir/nation.parquet")
    Graph(
      nodes = Map(
        "Customer" -> cust.withColumn("_id", concat(lit("cust:"), col("c_custkey"))),
        "Nation"   -> nat.withColumn("_id", concat(lit("nation:"), col("n_nationkey")))),
      edges = cust.select(lit("nation").as("rel"),
        concat(lit("cust:"), col("c_custkey")).as("src"),
        concat(lit("nation:"), col("c_nationkey")).as("dst")))
  }

  test("relationship-hop star executes to the direct join's rows") {
    val star = List(
      TriplePattern(Var("c"), Iri(Terms.RdfType), Iri(s"${G}Customer")),
      t(Var("c"), "mktsegment", Lit("BUILDING")),
      t(Var("c"), "name", Var("n")),
      t(Var("c"), "nation", Var("nat")))
    val cy = DocStoreTranslators.toCypher(Var("c"), star, customer, cat)
    assert(cy.contains("-[:nation]->"))
    val got = CypherGraph.execute(graph, cy)
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
    val nat = spark.read.parquet(s"$sfDir/nation.parquet")
    val want = cust.join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").cast("string"), col("c_name"),
        col("n_nationkey").cast("string"))
    assert(got.columns.toSeq.sorted == Seq("__k_c_0", "__k_nat_0", "n"))
    assert(got.select(col("__k_c_0").cast("string"), col("n"),
        col("__k_nat_0").cast("string"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      want.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    assert(got.count() > 0)
  }

  test("constant subject inverts to a key equality") {
    val cy = DocStoreTranslators.toCypher(Iri(s"${G}cust:42"),
      List(t(Iri(s"${G}cust:42"), "acctbal", Var("b"))), customer, cat)
    val got = CypherGraph.execute(graph, cy)
    val want = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_custkey") === 42).select("c_acctbal")
      .collect().map(_.get(0)).toSeq
    assert(got.collect().map(_.get(0)).toSeq == want && want.size == 1)
  }

  test("SKIP/LIMIT page the match") {
    val star = List(t(Var("c"), "name", Var("n")))
    val limited = CypherGraph.execute(graph,
      DocStoreTranslators.toCypher(Var("c"), star, customer, cat,
        limit = Some(3)))
    assert(limited.count() == 3)
    val total = CypherGraph.execute(graph,
      DocStoreTranslators.toCypher(Var("c"), star, customer, cat)).count()
    val skipped = CypherGraph.execute(graph,
      DocStoreTranslators.toCypher(Var("c"), star, customer, cat,
        offset = Some(5))).count()
    assert(skipped == total - 5)
  }
}

/** Per-backend transfer costing (r15 verdict ask #5): in a MIXED
  * federation, BGP join ordering ranks each star by cardinality ×
  * [[graft.compiler.RoutePlanner.backendWeight]] — the reference's
  * `getdsscore` source-TYPE ranking (`Tree.py:381-420`) done with the
  * probed statistics. Spec-gated like the translators themselves (the
  * zero-egress container has no live Mongo/Neo4j: a mongo-sourced
  * molecule still LOADS from parquet here; only the cost model sees the
  * backend, which is exactly the seam under test). */
class BackendCostSpec extends SparkTestBase {
  import graft.api.{Graft, TpchCatalog}
  import graft.compiler.RoutePlanner
  private val G = "urn:g:"

  test("backendWeight ranks transports: lake < jdbc < doc/graph < endpoint") {
    assert(RoutePlanner.backendWeight("srcA") == 1L)
    assert(RoutePlanner.backendWeight("/lake/customer") == 1L)
    assert(RoutePlanner.backendWeight("jdbc:derby:memory:db") == 2L)
    assert(RoutePlanner.backendWeight("mongodb://cluster0/tpch") == 3L)
    assert(RoutePlanner.backendWeight("bolt://graph:7687") == 3L)
    assert(RoutePlanner.backendWeight("http://host/sparql") == 4L)
    assert(RoutePlanner.backendWeight("https://host/sparql") == 4L)
  }

  private def graftWith(custCard: Long, ordSource: String,
                        ordCard: Long): Graft = {
    val mols = TpchCatalog.catalog.molecules.collect {
      case m if m.rdfType == s"${G}Customer" => m.copy(cardinality = custCard)
      case m if m.rdfType == s"${G}Order" =>
        m.copy(source = ordSource, cardinality = ordCard)
    }
    Graft.overParquetDir(graft.mapping.Catalog(mols), sfDir)(spark)
  }

  private val q =
    """PREFIX g: <urn:g:>
      |SELECT ?c ?n ?tp WHERE {
      |  ?c a g:Customer ; g:name ?n .
      |  ?o a g:Order ; g:customer ?c ; g:totalprice ?tp .
      |} ORDER BY ?c ?tp""".stripMargin

  /** The greedy order starts `acc` at the cheapest unit, so the FIRST
    * relation in the analyzed join tree is the unit the cost model
    * ranked smallest (construction order; Catalyst may still reorder
    * the physical join — the analyzed plan pins the model's choice). */
  private def customerFirst(g: Graft): Boolean = {
    // relations print column lists, not paths: the first Relation line
    // in the analyzed tree is the left-most leaf = the unit the greedy
    // order started from
    val plan = g.sparql(q).queryExecution.analyzed.toString
    val ci = plan.indexOf("Relation [c_custkey")
    val oi = plan.indexOf("Relation [o_orderkey")
    assert(ci >= 0 && oi >= 0, plan)
    ci < oi
  }

  test("route flip: the same cardinalities order differently once one " +
    "star sits behind a document store — and results stay identical") {
    // same-backend baseline: orders (1000) < customer (1500) → orders first
    assert(!customerFirst(graftWith(1500L, "srcA", 1000L)))
    // orders moves behind mongo: 1000×3 > 1500×1 → customer now first
    val mixed = graftWith(1500L, "mongodb://cluster0/tpch", 1000L)
    assert(customerFirst(mixed))
    // a SELECTIVE doc-store star still goes first: 400×3 < 1500×1
    assert(!customerFirst(graftWith(1500L, "mongodb://cluster0/tpch", 400L)))
    // parity: the order is a cost choice, never a semantics change
    val a = graftWith(1500L, "srcA", 1000L).sparql(q)
      .collect().map(_.toSeq).toSeq
    val b = mixed.sparql(q).collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }
}
