package graftbench

import java.io.{FilterInputStream, InputStream}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

import Gen.Request

/** The point-query templates: constant subjects and objects over the
  * TPC-H catalog, so template inversion and filter pushdown are on every
  * request's path. Their costs differ by up to about 2x. */
object PointTemplates {
  val Count = 4
  /** Template 1 takes an order key, the others a customer key. */
  def keyedByOrder(t: Int): Boolean = t == 1

  private val Prefix = "PREFIX g: <urn:g:>\n"

  def text(r: Request): String = {
    val k = r.key
    Prefix + (r.template match {
      case 0 => s"SELECT ?n ?b ?o ?p WHERE { <urn:g:cust:$k> g:name ?n ; g:acctbal ?b . " +
        s"?o g:customer <urn:g:cust:$k> ; g:totalprice ?p }"
      case 1 => s"SELECT ?c ?p ?s ?d WHERE { <urn:g:order:$k> g:customer ?c ; " +
        "g:totalprice ?p ; g:orderstatus ?s ; g:orderdate ?d }"
      case 2 => s"""SELECT ?c ?nn ?o ?p WHERE { ?c g:name "${Gen.custName(k)}" ; """ +
        "g:nation ?nat . ?nat g:name ?nn . ?o g:customer ?c ; g:totalprice ?p }"
      case 3 => s"SELECT ?o ?p ?d WHERE { ?o g:customer <urn:g:cust:$k> ; " +
        """g:orderpriority "1-URGENT" ; g:totalprice ?p ; g:orderdate ?d }"""
    })
  }

  def iri(kind: String, k: Any): String = s"urn:g:$kind:$k"
}

/** Lexical forms, one per wire format, so an answer compares to the
  * oracle's raw values as sorted multisets of rows. */
object Lex {
  /** W3C sparql-results+json `value` (also used for in-process rows). */
  def srj(v: Any): String = v match {
    case null                  => ""
    case t: java.sql.Timestamp => t.toString.replace(" ", "T")
    case other                 => other.toString
  }
  /** The server's own JSON format writes values with `toString`. */
  def graft(v: Any): String = if (v == null) "" else v.toString

  def rows(xs: Seq[Seq[Any]], lex: Any => String): Vector[String] =
    xs.map(_.map(lex).mkString("\u0001")).toVector.sorted
}

/** One answered request as the client saw it. */
final case class Answer(vars: Seq[String], rows: Vector[Seq[String]],
                        totalMs: Double, bytes: Long, serverMs: Double) {
  def canonical: Vector[String] = rows.map(_.mkString("\u0001")).sorted
}

/** HTTP client for `GraftServer`'s `/sparql` endpoint that parses the
  * response as it streams in and times the request to its last byte. */
final class SparqlClient {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val json = new JsonFactory()

  private final class Counting(in: InputStream) extends FilterInputStream(in) {
    var n = 0L
    override def read(): Int = { val b = super.read(); if (b >= 0) n += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val r = super.read(b, off, len); if (r > 0) n += r; r
    }
  }

  /** `srj = true` asks for sparql-results+json; otherwise the server's own
    * JSON, which also carries its `execTime`. Throws on any error. */
  def query(port: Int, q: String, srj: Boolean, timeoutS: Int = 60): Answer = {
    val body = "query=" + java.net.URLEncoder.encode(q, UTF_8) + "&blocking=1"
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/sparql"))
      .timeout(Duration.ofSeconds(timeoutS))
      .header("Content-Type", "application/x-www-form-urlencoded")
    if (srj) b.header("Accept", "application/sparql-results+json")
    val t0 = System.nanoTime()
    val resp = http.send(b.POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofInputStream())
    val in = new Counting(resp.body())
    try {
      require(resp.statusCode() == 200, s"HTTP ${resp.statusCode()}")
      val p = json.createParser(in)
      val rows = Vector.newBuilder[Seq[String]]
      var vars = Seq.empty[String]
      var serverS = Double.NaN
      def row(): Unit = rows += (if (srj) srjRow(p, vars) else graftRow(p, vars))
      expect(p, JsonToken.START_OBJECT)
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        p.currentName() match {
          case "head" =>
            expect(p, JsonToken.START_OBJECT)
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              if (p.currentName() == "vars") vars = strings(p) else { p.nextToken(); p.skipChildren() }
            }
          case "results" =>
            expect(p, JsonToken.START_OBJECT)
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              if (p.currentName() == "bindings") {
                expect(p, JsonToken.START_ARRAY)
                while (p.nextToken() == JsonToken.START_OBJECT) row()
              } else { p.nextToken(); p.skipChildren() }
            }
          case "vars" => vars = strings(p)
          case "result" =>
            expect(p, JsonToken.START_ARRAY)
            while (p.nextToken() == JsonToken.START_OBJECT) row()
          case "execTime" => p.nextToken(); serverS = p.getDoubleValue
          case "error" => p.nextToken(); sys.error(s"server error: ${p.getText}")
          case _ => p.nextToken(); p.skipChildren()
        }
      }
      val t2 = System.nanoTime()
      Answer(vars, rows.result(), Stats.ms(t2 - t0), in.n, serverS * 1000)
    } finally in.close()
  }

  private def expect(p: JsonParser, t: JsonToken): Unit = {
    val got = p.nextToken()
    require(got == t, s"malformed response: expected $t, got $got")
  }
  private def strings(p: JsonParser): Seq[String] = {
    expect(p, JsonToken.START_ARRAY)
    val b = Seq.newBuilder[String]
    while (p.nextToken() == JsonToken.VALUE_STRING) b += p.getText
    b.result()
  }
  /** `{"v": {"type": .., "value": ..}, ...}`; an absent binding reads "". */
  private def srjRow(p: JsonParser, vars: Seq[String]): Seq[String] = {
    val m = scala.collection.mutable.Map[String, String]()
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val v = p.currentName()
      expect(p, JsonToken.START_OBJECT)
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val f = p.currentName()
        p.nextToken()
        if (f == "value") m(v) = p.getText
      }
    }
    vars.map(m.getOrElse(_, ""))
  }
  private def graftRow(p: JsonParser, vars: Seq[String]): Seq[String] = {
    val m = scala.collection.mutable.Map[String, String]()
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val v = p.currentName()
      val t = p.nextToken()
      m(v) = if (t == JsonToken.VALUE_NULL) "" else p.getText
    }
    vars.map(m.getOrElse(_, ""))
  }
}
