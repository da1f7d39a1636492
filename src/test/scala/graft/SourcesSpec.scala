package graft

import org.apache.spark.sql.functions._
import graft.api.{Graft, TpchCatalog}
import graft.mapping._
import graft.sources._

/** One SPARQL query federating three physical formats: supplier from
  * parquet, nation from TSV, region from XML — the reference's
  * heterogeneous-lake scenario on a single SparkSession. */
class SourcesSpec extends SparkTestBase {

  test("mixed parquet + TSV + XML federation answers the region chain") {
    implicit val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-src").toString
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    nation.coalesce(1).write.mode("overwrite")
      .option("header", "true").option("delimiter", "\t").csv(s"$tmp/nation_tsv")
    region.coalesce(1).write.mode("overwrite")
      .option("rowTag", "region").format("xml").save(s"$tmp/region_xml")

    val supplier = spark.read.parquet(s"$sfDir/supplier.parquet")
    supplier.coalesce(1).write.mode("overwrite").json(s"$tmp/supplier_json")

    val g = new Graft(TpchCatalog.catalog, Sources.registry(Map(
      "supplier" -> JsonSource(s"$tmp/supplier_json"),
      "customer" -> ParquetSource(s"$sfDir/customer.parquet"),
      "nation" -> CsvSource(s"$tmp/nation_tsv", delimiter = "\t"),
      "region" -> XmlSource(s"$tmp/region_xml", rowTag = "region"))))

    val got = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?sname ?nname WHERE {
        |  ?s a g:Supplier ; g:name ?sname ; g:nation ?n .
        |  ?n a g:Nation ; g:name ?nname ; g:region ?r .
        |  ?r a g:Region ; g:name "ASIA" .
        |}""".stripMargin)
    val want = spark.read.parquet(s"$sfDir/supplier.parquet")
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region.filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
    assert(got.count() == want.count() && got.count() > 0)
  }

  test("ORC federates like any native columnar source (the Drill-" +
    "subsumption claim with evidence): the same chain, filters pushed") {
    implicit val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
    spark.read.parquet(s"$sfDir/nation.parquet").coalesce(1)
      .write.mode("overwrite").orc(s"$tmp/nation_orc")
    spark.read.parquet(s"$sfDir/region.parquet").coalesce(1)
      .write.mode("overwrite").orc(s"$tmp/region_orc")
    val g = new Graft(TpchCatalog.catalog, Sources.registry(Map(
      "supplier" -> ParquetSource(s"$sfDir/supplier.parquet"),
      "customer" -> ParquetSource(s"$sfDir/customer.parquet"),
      "nation" -> OrcSource(s"$tmp/nation_orc"),
      "region" -> OrcSource(s"$tmp/region_orc"))))
    val q =
      """PREFIX g: <urn:g:>
        |SELECT ?sname ?nname WHERE {
        |  ?s a g:Supplier ; g:name ?sname ; g:nation ?n .
        |  ?n a g:Nation ; g:name ?nname ; g:region ?r .
        |  ?r a g:Region ; g:name "ASIA" .
        |} ORDER BY ?sname""".stripMargin
    val got = g.sparql(q)
    val want = Graft.overParquetDir(TpchCatalog.catalog, sfDir).sparql(q)
    assert(got.collect().map(_.toSeq).toSeq ==
      want.collect().map(_.toSeq).toSeq && got.count() > 0)
    // the constant region filter reaches the ORC scan like parquet's
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(r_name), " +
      "EqualTo(r_name,ASIA)]") || plan.contains("EqualTo(r_name,ASIA)"),
      plan)
  }

  test("a star resolves over real loopback HTTP, identical to the local plan") {
    implicit val s = spark
    // the engine is its own endpoint: GraftServer serves the catalog over
    // HTTP, and a second engine instance federates its Nation star through
    // an EndpointQuerySource against it — the reference's triple-store
    // wrapper protocol (LIMIT/OFFSET pages of sparql-results+json) with
    // zero egress
    val server = new graft.api.GraftServer(
      Graft.overParquetDir(TpchCatalog.catalog, sfDir)(spark))
    val port = server.start()
    try {
      val endpoint = s"http://127.0.0.1:$port/sparql"
      // the remote side reconstructs the nation table's raw columns by
      // template inversion (STRAFTER on the subject/region URIs); the total
      // ORDER BY makes LIMIT/OFFSET paging deterministic
      val remote =
        """PREFIX g: <urn:g:> PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
          |SELECT ?n_nationkey ?n_name ?n_regionkey WHERE {
          |  ?n a g:Nation ; g:name ?n_name ; g:region ?r .
          |  BIND (xsd:integer(STRAFTER(STR(?n), "urn:g:nation:")) AS ?n_nationkey)
          |  BIND (xsd:integer(STRAFTER(STR(?r), "urn:g:region:")) AS ?n_regionkey)
          |} ORDER BY ?n_nationkey""".stripMargin
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_nationkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_regionkey",
          org.apache.spark.sql.types.LongType)))
      // pageSize 13 < 25 nations forces real multi-page fetching, while
      // keeping concurrent fetch tasks (2) below the local[4] slot count:
      // the serving engine shares this JVM's scheduler, so the fetchers
      // must not starve the very jobs that answer them
      val fed = new Graft(TpchCatalog.catalog, Sources.registry(Map(
        "supplier" -> ParquetSource(s"$sfDir/supplier.parquet"),
        "nation" -> EndpointQuerySource(endpoint, remote, schema, pageSize = 13),
        "region" -> ParquetSource(s"$sfDir/region.parquet"))))
      val q =
        """PREFIX g: <urn:g:>
          |SELECT ?sname ?nname WHERE {
          |  ?s a g:Supplier ; g:name ?sname ; g:nation ?n .
          |  ?n a g:Nation ; g:name ?nname ; g:region ?r .
          |  ?r a g:Region ; g:name "ASIA" .
          |} ORDER BY ?sname ?nname""".stripMargin
      val got = fed.sparql(q).collect().toSeq
      val want = Graft.overParquetDir(TpchCatalog.catalog, sfDir)(spark)
        .sparql(q).collect().toSeq
      assert(got.nonEmpty && got == want)
    } finally server.stop()
  }

  test("federation driven entirely from a JSON config file") {
    implicit val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-cfg").toString
    spark.read.parquet(s"$sfDir/nation.parquet").coalesce(1)
      .write.mode("overwrite")
      .option("header", "true").option("delimiter", "\t").csv(s"$tmp/nation_tsv")
    spark.read.parquet(s"$sfDir/region.parquet").coalesce(1)
      .write.mode("overwrite")
      .option("rowTag", "region").format("xml").save(s"$tmp/region_xml")
    val config =
      s"""{
         |  "datasources": [
         |    {"table": "supplier", "type": "parquet", "url": "$sfDir/supplier.parquet"},
         |    {"table": "nation", "type": "tsv", "url": "$tmp/nation_tsv"},
         |    {"table": "region", "type": "xml", "url": "$tmp/region_xml",
         |     "params": {"rowTag": "region"}}
         |  ],
         |  "molecules": [
         |    {"type": "urn:g:Supplier", "table": "supplier",
         |     "subject": "urn:g:supp:{s_suppkey}", "source": "srcB",
         |     "predicates": [
         |       {"predicate": "urn:g:name", "column": "s_name"},
         |       {"predicate": "urn:g:nation", "template": "urn:g:nation:{s_nationkey}"}]},
         |    {"type": "urn:g:Nation", "table": "nation",
         |     "subject": "urn:g:nation:{n_nationkey}", "broadcast": true,
         |     "predicates": [
         |       {"predicate": "urn:g:name", "column": "n_name"},
         |       {"predicate": "urn:g:region", "template": "urn:g:region:{n_regionkey}"}]},
         |    {"type": "urn:g:Region", "table": "region",
         |     "subject": "urn:g:region:{r_regionkey}", "broadcast": true,
         |     "predicates": [{"predicate": "urn:g:name", "column": "r_name"}]}
         |  ]
         |}""".stripMargin
    val cfgPath = s"$tmp/config.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(cfgPath),
      config.getBytes("UTF-8"))

    val loaded = graft.api.GraftConfig.load(cfgPath)
    assert(loaded.catalog.molecules.size == 3)
    assert(loaded.catalog.molecules.find(_.table == "nation").get.broadcastHint)
    val got = loaded.graft.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?sname ?nname WHERE {
        |  ?s a g:Supplier ; g:name ?sname ; g:nation ?n .
        |  ?n a g:Nation ; g:name ?nname ; g:region ?r .
        |  ?r a g:Region ; g:name "ASIA" .
        |}""".stripMargin)
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val want = spark.read.parquet(s"$sfDir/supplier.parquet")
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region.filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
    assert(got.count() == want.count() && got.count() > 0)
  }

  test("config autogen block probes registered tables into a catalog") {
    implicit val s = spark
    val config =
      s"""{
         |  "datasources": [
         |    {"table": "customer", "type": "parquet", "url": "$sfDir/customer.parquet"},
         |    {"table": "nation", "type": "parquet", "url": "$sfDir/nation.parquet"},
         |    {"table": "region", "type": "parquet", "url": "$sfDir/region.parquet"}
         |  ],
         |  "autogen": {"prefix": "urn:g:", "aliases": {"customer": "cust"}}
         |}""".stripMargin
    val loaded = graft.api.GraftConfig.parse(config)
    assert(loaded.catalog.molecules.map(_.table).toSet ==
      Set("customer", "nation", "region"))
    val got = loaded.graft.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?c ?nname WHERE {
        |  ?c a g:Customer ; g:nation ?n .
        |  ?n g:name ?nname ; g:region ?r .
        |  ?r g:name "ASIA" .
        |}""".stripMargin)
    assert(got.count() > 0)
  }

  test("nested-XML repeats explode: one solution per repeated element") {
    implicit val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-xml").toString
    val xml =
      """<compounds>
        |  <compound><cid>1</cid><label>aspirin</label>
        |    <synonyms><synonym>ASA</synonym><synonym>acetylsalicylic acid</synonym></synonyms>
        |  </compound>
        |  <compound><cid>2</cid><label>caffeine</label>
        |    <synonyms><synonym>theine</synonym></synonyms>
        |  </compound>
        |  <compound><cid>3</cid><label>water</label></compound>
        |</compounds>""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/compounds.xml"), xml.getBytes("UTF-8"))
    val cat = Catalog(List(Molecule(
      rdfType = "urn:x:Compound",
      table = "compound",
      subject = Template("urn:x:comp:{cid}"),
      predicates = Map(
        "urn:x:label"   -> RefMap("label"),
        // rowTag-relative path through a struct into the repeated element
        "urn:x:synonym" -> RefMap("synonyms.synonym")))))
    val g = new Graft(cat, Sources.registry(Map(
      "compound" -> XmlSource(s"$tmp/compounds.xml", rowTag = "compound"))))
    val rows = g.sparql(
      """SELECT ?c ?syn WHERE { ?c <urn:x:synonym> ?syn }""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(
      ("urn:x:comp:1", "ASA"),
      ("urn:x:comp:1", "acetylsalicylic acid"),
      ("urn:x:comp:2", "theine")))
    // star with a flat predicate alongside the repeated one
    val star = g.sparql(
      """SELECT ?l ?syn WHERE {
        |  ?c <urn:x:label> ?l ; <urn:x:synonym> ?syn }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(star == Set(
      ("aspirin", "ASA"),
      ("aspirin", "acetylsalicylic acid"),
      ("caffeine", "theine")))
    // constant-object match against the exploded value
    val eq = g.sparql(
      """SELECT ?c WHERE { ?c <urn:x:synonym> "theine" }""")
      .collect().map(_.getString(0)).toSeq
    assert(eq == Seq("urn:x:comp:2"))
  }

  test("JDBC wrapper round-trips through an embedded Derby database") {
    implicit val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-derby").toString
    System.setProperty("derby.system.home", tmp) // keep derby.log out of the repo
    val url = s"jdbc:derby:$tmp/db;create=true"
    // seed Derby over plain JDBC (quoted identifiers preserve lowercase)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        """CREATE TABLE "nation" ("n_nationkey" BIGINT, "n_name" VARCHAR(64),
          | "n_regionkey" BIGINT)""".stripMargin)
      val ps = conn.prepareStatement("""INSERT INTO "nation" VALUES (?, ?, ?)""")
      spark.read.parquet(s"$sfDir/nation.parquet").collect().foreach { r =>
        ps.setLong(1, r.getAs[Number]("n_nationkey").longValue())
        ps.setString(2, r.getAs[String]("n_name"))
        ps.setLong(3, r.getAs[Number]("n_regionkey").longValue())
        ps.executeUpdate()
      }
    } finally conn.close()

    // nation now lives in a real RDBMS; region/supplier stay parquet
    val g = new Graft(TpchCatalog.catalog, Sources.registry(Map(
      "supplier" -> ParquetSource(s"$sfDir/supplier.parquet"),
      "nation" -> JdbcSource(url, "\"nation\""),
      "region" -> ParquetSource(s"$sfDir/region.parquet"))))
    val got = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?sname ?nname WHERE {
        |  ?s a g:Supplier ; g:name ?sname ; g:nation ?n .
        |  ?n a g:Nation ; g:name ?nname ; g:region ?r .
        |  ?r a g:Region ; g:name "ASIA" .
        |}""".stripMargin)
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val want = spark.read.parquet(s"$sfDir/supplier.parquet")
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region.filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
    assert(got.count() == want.count() && got.count() > 0)
  }
}
