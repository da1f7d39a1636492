package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Graft
import graft.mapping._

/** RML mapping ingestion + the per-predicate-table self-join it implies. */
class RmlSpec extends AnyFunSuite {

  test("parses the reference's own chebi Compound mapping file") {
    val ttl = try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/demo/mappings/tsv/chebi/Compound.ttl")))
    catch { case _: java.nio.file.NoSuchFileException => cancel("reference checkout not present") }
    assertChebiCompound(ttl)
  }

  /** The reference's chebi Compound mapping shape: one class, one
    * per-predicate triple map per TSV, a shared subject template, and an
    * IRI-template object map on has_part. */
  private def assertChebiCompound(ttl: String): Unit = {
    val cat = RmlLoader.loadCatalog(ttl, source = "chebi")
    assert(cat.molecules.size >= 5)
    assert(cat.molecules.forall(_.rdfType == "http://bio2rdf.org/ns/chebi#Compound"))
    assert(cat.molecules.forall(_.subject.signature ==
      Template("http://bio2rdf.org/chebi:{x}").signature))
    val hasPart = cat.molecules.find(_.table == "chebi/Compound_has_part.tsv").get
    assert(hasPart.predicates.keySet ==
      Set("http://bio2rdf.org/ns/chebi#has_part"))
    hasPart.predicates.head._2 match {
      case TemplateMap(t) => assert(t.columns == List("has_part"))
      case other          => fail(s"expected template object map, got $other")
    }
  }

  test("parses a chebi-shaped Compound mapping (inline fixture)") {
    def tripleMap(pred: String, obj: String) =
      s""":Compound_$pred
         |  rml:logicalSource [ rml:source "chebi/Compound_$pred.tsv" ;
         |    rml:referenceFormulation ql:CSV ] ;
         |  rr:subjectMap [ rr:template "http://bio2rdf.org/chebi:{Compound}" ;
         |    rr:class chebi:Compound ] ;
         |  rr:predicateObjectMap [ rr:predicate chebi:$pred ;
         |    rr:objectMap $obj ] .
         |""".stripMargin
    val ttl =
      """@prefix rr: <http://www.w3.org/ns/r2rml#> .
        |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
        |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
        |@prefix chebi: <http://bio2rdf.org/ns/chebi#> .
        |@prefix : <urn:map:chebi:> .
        |""".stripMargin +
        Seq("name", "formula", "mass", "charge", "inchi")
          .map(p => tripleMap(p, s"""[ rml:reference "$p" ]""")).mkString +
        tripleMap("has_part",
          """[ rr:template "http://bio2rdf.org/chebi:{has_part}" ]""")
    assertChebiCompound(ttl)
  }
}

/** Chebi-shaped scenario over the TPC-H data: one class, one table per
  * predicate ⇒ the star self-joins fragments on the subject key. */
class RmlEndToEndSpec extends SparkTestBase {

  test("per-predicate triple maps self-join on the subject template key") {
    implicit val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-rml").toString
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    cust.select("c_custkey", "c_name").write.mode("overwrite")
      .parquet(s"$tmp/cust_name.parquet")
    cust.select("c_custkey", "c_acctbal").write.mode("overwrite")
      .parquet(s"$tmp/cust_bal.parquet")

    val ttl =
      """@prefix rr: <http://www.w3.org/ns/r2rml#> .
        |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
        |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
        |@prefix : <urn:map:> .
        |@prefix g: <urn:g:> .
        |:CustName rml:logicalSource [ rml:source "cust_name" ;
        |    rml:referenceFormulation ql:CSV ] ;
        |  rr:subjectMap [ rr:template "urn:g:cust:{c_custkey}" ; rr:class g:Customer ] ;
        |  rr:predicateObjectMap [ rr:predicate g:name ;
        |    rr:objectMap [ rml:reference "c_name" ] ] .
        |:CustBal rml:logicalSource [ rml:source "cust_bal" ;
        |    rml:referenceFormulation ql:CSV ] ;
        |  rr:subjectMap [ rr:template "urn:g:cust:{c_custkey}" ; rr:class g:Customer ] ;
        |  rr:predicateObjectMap [ rr:predicate g:acctbal ;
        |    rr:objectMap [ rml:reference "c_acctbal" ] ] .
        |""".stripMargin

    val cat = RmlLoader.loadCatalog(ttl, source = "src1")
    assert(cat.molecules.size == 2)
    val g = new Graft(cat, t => spark.read.parquet(s"$tmp/$t.parquet"))
    val got = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?c ?name ?bal WHERE {
        |  ?c a g:Customer ; g:name ?name ; g:acctbal ?bal .
        |  FILTER (?bal > 5000)
        |}""".stripMargin)
    val want = cust.filter(col("c_acctbal") > 5000)
    assert(got.count() == want.count() && got.count() > 0)
    // the self-join must run on the raw subject key, not the URI string
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("__k_c_0"), s"subject self-join not on key columns:\n$plan")
  }
}
