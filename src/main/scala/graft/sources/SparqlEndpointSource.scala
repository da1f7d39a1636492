package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** DataSource V2 connector for a SPARQL-endpoint-backed concept table —
  * the scan side of the reference's triple-store wrapper
  * (`/root/reference/ontario/wrappers/triplestore/__init__.py`), built the
  * Spark-native way: instead of fetching the whole concept and filtering
  * in the engine, the scan participates in Catalyst planning, so
  *
  *  - **column pruning** drops unused predicates from the remote query
  *    (one OPTIONAL clause per surviving column — a 2-column projection
  *    of an 8-predicate concept ships 2 vars over the wire, matching the
  *    reference's per-star instantiation, which also only asks for the
  *    star's own predicates: `sparqltosql.py` builds the wrapper query
  *    from the star, never the whole molecule);
  *  - **filter pushdown** translates Catalyst predicates into SPARQL
  *    `FILTER` clauses evaluated by the endpoint, so selective queries
  *    transfer matching rows only. Translated filters are ALSO re-checked
  *    by Spark after the scan (they are reported back as residuals):
  *    pushdown is a transfer optimization, never a correctness bet on a
  *    remote engine's filter semantics.
  *
  * The built scan is the shared remote read ([[SparqlQueryScan]] in
  * `paged` mode): each page is an independent LIMIT/OFFSET query pulled
  * executor-side (nothing transits the driver), the tail range pages
  * until a short page proves exhaustion. The probed `cardinality` is the
  * scan's size hint — zero planning queries — while no filter applies;
  * a pushed or runtime filter invalidates it, and one remote `COUNT(*)`
  * over the exact filtered solution set sizes the plan instead. Usage
  * (what [[graft.mapping.EndpointCatalogGen]] binds for every probed
  * concept):
  *
  * {{{
  * spark.read.format("graft.sources.SparqlEndpointSource")
  *   .schema(schema)                      // "s" + one field per predicate
  *   .option("endpoint", url)
  *   .option("type", conceptIri)
  *   .option("cols", SparqlEndpointSource.encodeCols(predCols))
  *   .option("pageSize", "10000")
  *   .option("cardinality", probedCard.toString)
  *   .load()
  * }}}
  */
class SparqlEndpointSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "SparqlEndpointSource needs an explicit schema (the probed one) — " +
        "pass it with spark.read.schema(...)")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SparqlEndpointTable(schema,
      new CaseInsensitiveStringMap(properties))
}

object SparqlEndpointSource {
  /** (predicate IRI, column) pairs → one option string. IRIs cannot
    * contain whitespace, so space/newline separators are unambiguous. */
  def encodeCols(cols: Seq[(String, String)]): String =
    cols.map { case (p, c) => s"$p $c" }.mkString("\n")

  def decodeCols(s: String): List[(String, String)] =
    if (s.isEmpty) Nil
    else s.split('\n').toList.map { line =>
      val i = line.indexOf(' ')
      (line.substring(0, i), line.substring(i + 1))
    }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Render one side of a comparison: string columns compare by lexical
    * form (`STR(?c)` — IRl subjects and plain literals alike), numerics
    * and booleans natively. */
  private def ref(c: String, types: Map[String, DataType]): Option[String] =
    types.get(c).collect {
      case StringType => s"STR(?$c)"
      case LongType | IntegerType | DoubleType | FloatType | BooleanType =>
        s"?$c"
      // Date/Timestamp literals are not translated (typed-literal
      // comparison dialects vary) — those filters stay Spark-side only
    }

  private def lit(v: Any): Option[String] = v match {
    case s: String => Some(quote(s))
    case d: Double => Option.when(java.lang.Double.isFinite(d))(d.toString)
    case f: Float  => Option.when(java.lang.Float.isFinite(f))(f.toString)
    case _: Long | _: Int | _: Short | _: Byte => Some(v.toString)
    case b: Boolean => Some(b.toString)
    case _ => None
  }

  /** Catalyst [[Filter]] → SPARQL FILTER body, None when untranslatable.
    * Unbound-variable semantics line up by construction: a SPARQL
    * comparison on an unbound var is an error, errors are falsy in EBV and
    * propagate through `&&`/`||` exactly as SQL three-valued NULL logic
    * does through AND/OR, so the endpoint never drops a row Spark would
    * keep. `IsNotNull`/`IsNull` map to `BOUND`. */
  private[graft] def toSparql(f: Filter,
                                types: Map[String, DataType]): Option[String] = {
    def cmp(c: String, v: Any, op: String): Option[String] =
      for { r <- ref(c, types); l <- lit(v) } yield s"$r $op $l"
    f match {
      case EqualTo(c, v)            => cmp(c, v, "=")
      case GreaterThan(c, v)        => cmp(c, v, ">")
      case GreaterThanOrEqual(c, v) => cmp(c, v, ">=")
      case LessThan(c, v)           => cmp(c, v, "<")
      case LessThanOrEqual(c, v)    => cmp(c, v, "<=")
      case In(c, vs) if vs.nonEmpty =>
        val ls = vs.toList.map(lit)
        if (ls.forall(_.isDefined))
          ref(c, types).map(r => s"$r IN (${ls.map(_.get).mkString(", ")})")
        else None
      case IsNotNull(c) if types.contains(c) => Some(s"BOUND(?$c)")
      case IsNull(c) if types.contains(c)    => Some(s"!BOUND(?$c)")
      case StringContains(c, v) if types.get(c).contains(StringType) =>
        Some(s"CONTAINS(STR(?$c), ${quote(v)})")
      case StringStartsWith(c, v) if types.get(c).contains(StringType) =>
        Some(s"STRSTARTS(STR(?$c), ${quote(v)})")
      case StringEndsWith(c, v) if types.get(c).contains(StringType) =>
        Some(s"STRENDS(STR(?$c), ${quote(v)})")
      case And(l, r) =>
        for { a <- toSparql(l, types); b <- toSparql(r, types) }
          yield s"($a && $b)"
      case Or(l, r) =>
        for { a <- toSparql(l, types); b <- toSparql(r, types) }
          yield s"($a || $b)"
      case Not(inner) => toSparql(inner, types).map(s => s"!($s)")
      case _ => None
    }
  }

  /** The remote query for a pruned/filtered scan as (sel, body, order)
    * parts: subject pattern + one OPTIONAL per surviving predicate column
    * + translated FILTERs, totally ordered over the projected vars for
    * stable LIMIT/OFFSET paging (duplicate solutions are interchangeable
    * across a page boundary, so ordering by every projected var
    * suffices). A column referenced only by a pushed filter keeps its
    * pattern clause (a FILTER over a var with no pattern would error
    * every row) without joining the projection. */
  private[graft] def buildQuery(tpe: String, cols: List[(String, String)],
                                  required: Seq[String],
                                  filters: Seq[String],
                                  filterCols: Set[String])
  : (String, String, String) = {
    val vars = (if (required.isEmpty) Seq("s") else required)
      .map("?" + _).mkString(" ")
    val kept = cols.filter { case (_, c) =>
      required.contains(c) || filterCols.contains(c)
    }
    // injection guard: tpe/preds are catalog-probed IRIs — data from the
    // endpoint spliced back into query text; a crafted 'IRI' carrying
    // '>' or whitespace must fail loudly, never reach the wire
    val body = s"?s a ${SparqlHttp.angled(tpe)} ." +
      kept.map { case (p, c) =>
        s" OPTIONAL { ?s ${SparqlHttp.angled(p)} ?$c }" }.mkString +
      filters.map(f => s" FILTER ($f)").mkString
    (vars, body, vars)
  }
}

private[sources] class SparqlEndpointTable(
    tableSchema: StructType, options: CaseInsensitiveStringMap)
  extends Table with SupportsRead {

  private val endpoint = options.get("endpoint")
  private val tpe = options.get("type")

  override def name(): String = s"sparql:$tpe@$endpoint"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new SparqlScanBuilder(tableSchema, endpoint, tpe,
      SparqlEndpointSource.decodeCols(options.get("cols")),
      Option(options.get("pageSize")).map(_.toInt).getOrElse(10000),
      Option(options.get("cardinality")).map(_.toLong),
      Option(options.get("maxPartitions")).map(_.toInt).getOrElse(32))
}

private[sources] class SparqlScanBuilder(
    fullSchema: StructType, endpoint: String, tpe: String,
    cols: List[(String, String)], pageSize: Int, cardinality: Option[Long],
    maxPartitions: Int)
  extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private val types: Map[String, DataType] =
    fullSchema.fields.map(f => f.name -> f.dataType).toMap

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var sparqlFilters: Seq[String] = Nil
  private var filterCols: Set[String] = Set.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val translated = filters.map(f =>
      f -> SparqlEndpointSource.toSparql(f, types))
    pushed = translated.collect { case (f, Some(_)) => f }
    sparqlFilters = translated.collect { case (_, Some(s)) => s }.toSeq
    filterCols = pushed.flatMap(_.references).toSet
    // every filter is re-evaluated by Spark post-scan: pushdown reduces
    // transfer, the engine keeps authority over the semantics
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val (sel, body, order) = SparqlEndpointSource.buildQuery(tpe, cols,
      required.fieldNames.toSeq, sparqlFilters, filterCols)
    val f = if (sparqlFilters.isEmpty) ""
            else s", pushed: [${sparqlFilters.mkString(" && ")}]"
    new SparqlQueryScan(endpoint, None, Some(sel), Some(body), Some(order),
      "paged", required, pageSize, maxPartitions,
      label = s"sparql:$tpe@$endpoint cols=[${required.fieldNames.mkString(",")}]$f",
      sizeHint = cardinality.filter(_ => sparqlFilters.isEmpty))
  }
}
