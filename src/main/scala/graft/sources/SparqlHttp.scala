package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** HTTP transport for SPARQL endpoints — the wire protocol of the
  * reference's triple-store wrapper (`/root/reference/ontario/wrappers/
  * triplestore/__init__.py:31-119` `contactSource`/`contactSourceAux`):
  * form-encoded POST of the query, `Accept: application/sparql-results+json`,
  * and LIMIT/OFFSET appended per page until a short page signals exhaustion.
  *
  * Used by the remote scan ([[SparqlQueryScan]]) on the executors: each
  * call constructs its own `java.net.http.HttpClient`, so each partition
  * pulls its own pages directly from the endpoint and nothing transits the
  * driver. Values come back as lexical forms and are cast to the declared
  * schema column types (the reference instead carries every value as a
  * string and re-parses downstream).
  *
  * Paging is only deterministic when the query carries a total ORDER BY —
  * the same endpoint-snapshot assumption the reference's sequential paging
  * makes, but stated: each page is an independent query execution.
  */
object SparqlHttp {

  /** Run one SELECT against the endpoint, casting bindings to `schema`
    * (field names = SPARQL variable names, without `?`). Missing bindings
    * (OPTIONAL misses) surface as nulls. */
  def select(endpoint: String, query: String, schema: StructType): Seq[Row] = {
    val client = HttpClient.newHttpClient()
    val form = "query=" + URLEncoder.encode(query, UTF_8)
    val req = HttpRequest.newBuilder(URI.create(endpoint))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .header("Accept", "application/sparql-results+json")
      .POST(HttpRequest.BodyPublishers.ofString(form))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200,
      s"endpoint $endpoint answered HTTP ${resp.statusCode()}")
    parseResults(resp.body(), schema)
  }

  /** Parse a W3C `application/sparql-results+json` document into Rows. */
  def parseResults(json: String, schema: StructType): Seq[Row] = {
    val root = new ObjectMapper().readTree(json)
    val err = root.path("error")
    require(err.isMissingNode || err.isNull, s"endpoint error: ${err.asText()}")
    val bindings = root.path("results").path("bindings")
    require(!bindings.isMissingNode,
      s"not a sparql-results+json document: ${json.take(200)}")
    (0 until bindings.size()).map { i =>
      val b = bindings.get(i)
      Row.fromSeq(schema.fields.toSeq.map { f =>
        val node = b.path(f.name)
        if (node.isMissingNode) null else cast(node.path("value").asText(), f.dataType)
      })
    }
  }

  /** Run one ASK against the endpoint and return the W3C boolean-document
    * answer (`{"head":{},"boolean":…}` — the SRJ ASK form, §ASK of
    * sparql-results-json). */
  def ask(endpoint: String, query: String): Boolean = {
    val client = HttpClient.newHttpClient()
    val form = "query=" + URLEncoder.encode(query, UTF_8)
    val req = HttpRequest.newBuilder(URI.create(endpoint))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .header("Accept", "application/sparql-results+json")
      .POST(HttpRequest.BodyPublishers.ofString(form))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200,
      s"endpoint $endpoint answered HTTP ${resp.statusCode()}")
    val root = new ObjectMapper().readTree(resp.body())
    val b = root.path("boolean")
    require(b.isBoolean, s"not an ASK result document: ${resp.body().take(200)}")
    b.asBoolean()
  }

  /** Term-metadata sniff: POST the query and return every binding of
    * `varName` as (term kind, datatype IRI) straight from the SRJ document
    * — the schema-free read [[select]] cannot do (it casts by a declared
    * schema and drops the term metadata). The caller bounds the result with
    * its own LIMIT. Used by datatype discovery
    * ([[graft.mapping.EndpointCatalogGen]]) as the instance-range probe. */
  def sniffTerms(endpoint: String, query: String,
                 varName: String): Seq[(String, Option[String])] = {
    val client = HttpClient.newHttpClient()
    val form = "query=" + URLEncoder.encode(query, UTF_8)
    val req = HttpRequest.newBuilder(URI.create(endpoint))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .header("Accept", "application/sparql-results+json")
      .POST(HttpRequest.BodyPublishers.ofString(form))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200,
      s"endpoint $endpoint answered HTTP ${resp.statusCode()}")
    val root = new ObjectMapper().readTree(resp.body())
    val bindings = root.path("results").path("bindings")
    (0 until bindings.size()).flatMap { i =>
      val b = bindings.get(i).path(varName)
      if (b.isMissingNode) None
      else Some((b.path("type").asText(),
        Option(b.path("datatype")).filterNot(_.isMissingNode)
          .map(_.asText()).filter(_.nonEmpty)))
    }
  }

  private val castWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Lexical → Spark value under the declared schema type. DEFENSIVE: the
    * schema types come from a LIMIT-bounded instance sample
    * ([[graft.mapping.EndpointCatalogGen.sniffTypeKind]]), and a sample
    * can never prove type homogeneity — a predicate whose sampled values
    * were all numeric may still carry other lexical forms deeper in the
    * data. An unparseable lexical therefore surfaces as NULL (with one
    * process-level warning), never as an executor-task exception that
    * fails the whole query at fetch time. */
  private def cast(lex: String, dt: DataType): Any = {
    def parse(): Any = dt match {
      case StringType    => lex
      case IntegerType   => lex.toInt
      case LongType      => lex.toLong
      case DoubleType    => lex.toDouble
      case FloatType     => lex.toFloat
      case BooleanType   => lex.toBoolean
      case DateType      => java.sql.Date.valueOf(lex)
      case TimestampType =>
        java.sql.Timestamp.valueOf(lex.replace("T", " ").stripSuffix("Z"))
      case _: DecimalType => new java.math.BigDecimal(lex)
      case other => throw new UnsupportedOperationException(
        s"no lexical cast to $other for SPARQL result bindings")
    }
    try parse()
    catch {
      // an UNSUPPORTED schema type stays loud (UnsupportedOperation
      // above); only a lexical that fails to PARSE as a supported type
      // nulls — the sample-typed schema is a heuristic, not a proof
      case _: NumberFormatException | _: IllegalArgumentException =>
        if (castWarned.compareAndSet(false, true))
          System.err.println(s"[graft] SPARQL binding ${lex.take(80)}" +
            s" does not parse as the sampled type $dt — returning NULL " +
            "(sampled datatypes are a heuristic; further mismatches " +
            "are nulled silently)")
        null
    }
  }

  /** Guard for IRIs SPLICED into query text inside angle brackets (probe
    * queries, bound-join IN lists, cross-endpoint containment probes):
    * an IRI is data from one endpoint embedded in a query sent to
    * another, so a crafted value containing '>' or whitespace could
    * inject arbitrary SPARQL at a federation peer. The IRI grammar
    * (RFC 3987) excludes '<', '>', '"', backslash, whitespace and
    * control chars — reject anything carrying them. */
  def safeIri(iri: String): Boolean =
    iri.nonEmpty && !iri.exists(c =>
      c == '<' || c == '>' || c == '"' || c == '\\' || c <= ' ' ||
        Character.isISOControl(c))

  /** `<iri>` splice, throwing on injection-capable values — for
    * CATALOG-derived IRIs (types, predicates) where a bad value means a
    * corrupt or hostile catalog and must be loud. Data-derived object
    * lists should instead FILTER on [[safeIri]] (skip, don't fail). */
  def angled(iri: String): String = {
    require(safeIri(iri),
      s"IRI unsafe to splice into SPARQL (injection guard): ${iri.take(120)}")
    s"<$iri>"
  }
}
