package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source registry: the Spark-native equivalent of the reference's wrapper
  * zoo (`/root/reference/ontario/wrappers/` — SPARKWrapper CSV/TSV/JSON,
  * SPARKXMLWrapper, LOCAL_* flat-file clients). One shared SparkSession and
  * `spark.read.<format>` replace per-query SparkSession boots and JSON
  * round-trips (`sparql2spark.py:103-176`). A JDBC spec covers the
  * MySQL/Postgres wrappers when a database is reachable.
  */
sealed trait SourceSpec {
  def load(spark: SparkSession): DataFrame
}

final case class ParquetSource(path: String) extends SourceSpec {
  def load(spark: SparkSession): DataFrame = spark.read.parquet(path)
}

/** CSV/TSV with header + schema inference, as the reference configures
  * (`sparql2spark.py:129-136` inferSchema=True, header). */
final case class CsvSource(path: String, delimiter: String = ",") extends SourceSpec {
  def load(spark: SparkSession): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .option("delimiter", delimiter).csv(path)
}

final case class JsonSource(path: String) extends SourceSpec {
  def load(spark: SparkSession): DataFrame = spark.read.json(path)
}

/** ORC — Spark's other built-in columnar source: evidence for the
  * Drill-subsumption claim (SURVEY §2.1) that every native file format
  * federates identically (pushdown/pruning included), not just the
  * formats the reference's wrapper zoo happened to enumerate. */
final case class OrcSource(path: String) extends SourceSpec {
  def load(spark: SparkSession): DataFrame = spark.read.orc(path)
}

/** A snapshot-managed lake ([[graft.pipeline.Lakehouse.commitSnapshot]])
  * as an engine table: the reference's whole point is querying data where
  * it lives, and a mutable lake's "where it lives" is the current
  * manifest — never the raw directory tree (hidden generations, crash
  * relics, half-committed sweeps). Reads through
  * [[graft.pipeline.Lakehouse.readSnapshot]]: one multi-root scan of
  * exactly the committed data dirs under the committed schema, with
  * `asOf` exposing file-level time travel to SPARQL queries — the probed
  * catalog and every query see one consistent epoch even while writers
  * commit. */
final case class SnapshotSource(root: String,
                                asOf: Option[Int] = None,
                                tag: Option[String] = None,
                                branch: String = "")
  extends SourceSpec {
  require(asOf.isEmpty || tag.isEmpty,
    s"SnapshotSource($root): pin EITHER asOf or tag, not both")
  require(branch.isEmpty || tag.isEmpty,
    s"SnapshotSource($root): a tag names a MAIN epoch — pin EITHER " +
      "branch or tag, not both")
  /** The epoch this source reads: the pinned id, the tag's id resolved
    * NOW (tags are immutable, so this is stable until deleteTag), or
    * None = the lineage's current snapshot. */
  def epoch(spark: SparkSession): Option[Int] =
    tag.map(graft.pipeline.Lakehouse.tagSnapshotId(spark, root, _))
      .orElse(asOf)
  def load(spark: SparkSession): DataFrame =
    graft.pipeline.Lakehouse.readSnapshot(spark, root, epoch(spark),
      branch = branch)
}

/** XML via Spark 4's built-in XML source; `rowTag` plays the RML iterator
  * role (`sparql2sparksql.py:33-150`). */
final case class XmlSource(path: String, rowTag: String) extends SourceSpec {
  def load(spark: SparkSession): DataFrame =
    spark.read.option("rowTag", rowTag).format("xml").load(path)
}

/** JDBC (MySQL/Postgres wrapper equivalent) — predicate pushdown comes from
  * the JDBC source itself. */
final case class JdbcSource(url: String, table: String,
                            props: Map[String, String] = Map.empty) extends SourceSpec {
  def load(spark: SparkSession): DataFrame = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    spark.read.jdbc(url, table, p)
  }
}

/** A remote SPARQL endpoint as a table — the reference's SPARQL_Endpoint
  * datasource type (`config/__init__.py` + `wrappers/triplestore`):
  * `query` defines the table's rows and `schema` types its variable
  * bindings. The query is parsed once, here, and ships through
  * [[graft.compiler.QueryShip.ship]], so it pages through the same remote
  * scan as every other endpoint read (one COUNT, then LIMIT/OFFSET pages
  * of a totally ordered wrapper); [[graft.compiler.SparqlText]] renders
  * full IRIs, so no PREFIX line lands inside the wrapper's sub-select. A
  * query that does not parse or cannot ship fails here, at config load. */
final case class EndpointQuerySource(endpoint: String, query: String,
                                     schema: org.apache.spark.sql.types.StructType,
                                     pageSize: Int = 10000) extends SourceSpec {
  private val cfg = graft.compiler.QueryShip.Config(endpoint, pageSize)
  private val parsed = graft.parser.SparqlParser.parse(query).fold(
    e => throw new IllegalArgumentException(
      s"endpoint table query does not parse ($e): ${query.take(200)}"),
    identity)
  require(graft.compiler.QueryShip.shippable(parsed, cfg),
    s"endpoint table query cannot ship to $endpoint (SELECT/ASK without " +
      s"SERVICE, ordered on projected vars): ${query.take(200)}")
  def load(spark: SparkSession): DataFrame =
    graft.compiler.QueryShip.ship(parsed, cfg, schema)(spark)
}

object Sources {
  /** Table-loader function for [[graft.api.Graft]] over mixed formats. */
  def registry(specs: Map[String, SourceSpec])(implicit spark: SparkSession)
  : String => DataFrame =
    name => specs.getOrElse(name,
      throw new IllegalArgumentException(s"unregistered table '$name'")).load(spark)
}
