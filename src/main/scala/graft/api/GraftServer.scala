package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{GraftBridge, Row}

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** HTTP service layer — the Spark-native rebuild of the reference's Flask
  * app (`/root/reference/app/query.py`): `GET|POST /sparql?query=…&blocking=
  * 0|1` answers a SPARQL query, and with `blocking=0` registers an
  * incremental session whose rows are consumed one at a time via
  * `/nextresult?id=…` (`query.py:49-81`), ending with `result:"EOF"` and,
  * once drained, `error:"Already finished"` — the same consumption
  * contract [[Experiment]] implements for the dief@t metrics. The session
  * id (the `hashquery` field) is unique per registration: the reference
  * keyed sessions by the md5 of the query text (`query.py:100`), so two
  * clients sending the same text shared, and clobbered, one session.
  *
  * Every response drains through [[org.apache.spark.sql.GraftBridge.waveRows]]:
  * one Spark job per wave of `defaultParallelism` partitions, started when
  * the previous wave's rows have been written or handed out, rows in
  * partition order. A point read whose scan fits in the task slots costs
  * one job, and neither a blocking response nor a non-blocking session
  * holds more than one wave of the result. The server binds loopback (a
  * serving tier would front this with a real gateway; the query engine
  * itself is the point here).
  */
final class GraftServer(g: Graft, port: Int = 0,
                        /** idle sessions are reaped after this long — an
                          * abandoned `blocking=0` client must not pin its
                          * partially-consumed iterator forever */
                        sessionTtlMillis: Long = 600000L) {

  private final class Session(val vars: Seq[String], val it: Iterator[Row],
                              val start: Long) {
    @volatile var first: Double = -1.0
    @volatile var served: Long = 0L
    @volatile var lastAccess: Long = System.currentTimeMillis()
  }

  private val sessions = new ConcurrentHashMap[String, Session]()

  /** Queries answered on `/sparql` since start — lets federation tests
    * assert the dispatch strategy (a bind join sends one request per key
    * window; a full paged fetch sends one COUNT plus one per page). */
  val queriesServed = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The most recent `/sparql` query texts (bounded ring) — lets tests pin
    * WHAT reached the endpoint (a runtime bound join must arrive as an
    * IN-list, a shipped group as one joined pattern), not just how often. */
  private val recentCap = 100
  private val recent = new java.util.concurrent.ConcurrentLinkedDeque[String]()
  def recentQueries: Seq[String] = {
    import scala.jdk.CollectionConverters._
    recent.iterator().asScala.toSeq
  }
  private def remember(q: String): Unit = {
    recent.addLast(q)
    while (recent.size > recentCap) recent.pollFirst()
  }

  /** Drop sessions idle past the TTL; returns how many were reaped.
    * Exposed for tests; also runs on a daemon timer. */
  def sweepIdleSessions(now: Long = System.currentTimeMillis()): Int = {
    var reaped = 0
    sessions.forEach { (k, s) =>
      if (now - s.lastAccess > sessionTtlMillis && sessions.remove(k, s)) reaped += 1
    }
    reaped
  }

  private val sweeper = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
    (r: Runnable) => { val t = new Thread(r, "graft-session-sweeper"); t.setDaemon(true); t })
  sweeper.scheduleWithFixedDelay(() => sweepIdleSessions(),
    sessionTtlMillis, math.max(sessionTtlMillis / 4, 1000L),
    java.util.concurrent.TimeUnit.MILLISECONDS)
  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // without an executor, com.sun HttpServer runs every handler on the single
  // dispatch thread — one slow query would serialize all clients (and a
  // same-JVM federation test deadlocks outright)
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t }))

  server.createContext("/sparql", (ex: HttpExchange) => safely(ex) { params =>
    val query = params.getOrElse("query", "")
    if (query.isEmpty) Map("result" -> Seq.empty, "error" -> "cannot read query")
    else {
      queriesServed.incrementAndGet()
      remember(query)
      val blocking = params.getOrElse("blocking", "1") == "1"
      // W3C sparql-results+json on request — what a generic SPARQL client
      // (incl. our own [[graft.sources.SparqlHttp]] transport and the
      // reference's triple-store wrapper) consumes
      val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
      // an explicit format= parameter beats Accept-header negotiation
      val fmt: Option[String] = params.get("format").orElse {
        if (accept.contains("application/sparql-results+json")) Some("srj")
        else if (accept.contains("application/sparql-results+xml")) Some("xml")
        else if (accept.contains("text/tab-separated-values")) Some("tsv")
        else if (accept.contains("text/csv")) Some("csv")
        else if (accept.contains("application/n-triples")) Some("nt")
        else None
      }
      val start = System.nanoTime()
      val df = g.sparql(query)
      val vars = df.columns.toSeq
      if (blocking) {
        // the query form gates the W3C form-specific serializations
        // (ASK boolean documents, CONSTRUCT/DESCRIBE N-Triples); parsed
        // only when a standard format was asked for
        lazy val form = graft.parser.SparqlParser.parse(query).toOption.map(_.form)
        def isAsk = form.contains(graft.algebra.AskForm)
        def isGraph = form.contains(graft.algebra.ConstructForm) ||
          form.contains(graft.algebra.DescribeForm)
        fmt match {
          case Some("srj") if isAsk =>
            val v = df.collect()(0).getBoolean(0) // ASK plans LocalLimit(1)
            ex.getResponseHeaders.set("Content-Type", "application/sparql-results+json")
            val body = s"""{"head":{},"boolean":$v}""".getBytes(UTF_8)
            ex.sendResponseHeaders(200, body.length)
            ex.getResponseBody.write(body); ex.close()
          case Some("xml") if isAsk =>
            val v = df.collect()(0).getBoolean(0)
            ex.getResponseHeaders.set("Content-Type", "application/sparql-results+xml")
            val body = ("""<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#">""" +
              s"<head/><boolean>$v</boolean></sparql>").getBytes(UTF_8)
            ex.sendResponseHeaders(200, body.length)
            ex.getResponseBody.write(body); ex.close()
          case Some("nt") if isGraph =>
            // unbound template terms (OPTIONAL misses) omit the triple,
            // per CONSTRUCT semantics — never emit a literal "null"
            ex.getResponseHeaders.set("Content-Type", "application/n-triples")
            ex.sendResponseHeaders(200, 0L)
            val w = new java.io.BufferedWriter(
              new java.io.OutputStreamWriter(ex.getResponseBody, UTF_8))
            try GraftBridge.waveRows(df)
              .filterNot(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))
              .foreach { r =>
                w.write(s"${r.getString(0)} ${r.getString(1)} ${r.getString(2)} .\n")
              }
            finally { w.flush(); w.close(); ex.close() }
          case Some("xml") => streamXml(ex, vars, GraftBridge.waveRows(df))
          case Some("tsv") =>
            streamTabular(ex, vars, GraftBridge.waveRows(df), tsv = true)
          case Some("csv") =>
            streamTabular(ex, vars, GraftBridge.waveRows(df), tsv = false)
          case _ =>
            // rows stream from the wave drain into the chunked response —
            // one wave of partitions in driver memory, never a full
            // collect (a large SELECT must not OOM the serving driver)
            streamBlocking(ex, vars, GraftBridge.waveRows(df), start,
              srj = fmt.contains("srj"))
        }
        null // response already written
      } else {
        val id = UUID.randomUUID().toString.replace("-", "")
        sessions.put(id, new Session(vars, GraftBridge.waveRows(df), start))
        Map("vars" -> vars, "hashquery" -> id, "result" -> Seq.empty,
          "execTime" -> secondsSince(start), "totalRows" -> -1)
      }
    }
  })

  // decomposition + formatted physical plan without executing — the HTTP
  // face of [[Graft.explain]] (the reference prints the same report from
  // its CLI, run_query.py:22-44)
  server.createContext("/explain", (ex: HttpExchange) => safely(ex) { params =>
    val query = params.getOrElse("query", "")
    if (query.isEmpty) Map("error" -> "cannot read query")
    else Map("report" -> g.explain(query))
  })

  server.createContext("/nextresult", (ex: HttpExchange) => safely(ex) { params =>
    val id = params.getOrElse("id", "")
    Option(sessions.get(id)) match {
      case None =>
        Map("result" -> "EOF", "totalRows" -> 1, "error" -> "Already finished")
      // one request at a time per session: the drain iterator is not
      // thread-safe, and the served count must match the rows handed out
      case Some(s) => s.synchronized {
        s.lastAccess = System.currentTimeMillis()
        if (s.it.hasNext) {
          val row = rowMap(s.vars, s.it.next())
          if (s.first < 0) s.first = secondsSince(s.start)
          s.served += 1
          Map("vars" -> s.vars, "result" -> row,
            "execTime" -> secondsSince(s.start), "firstResult" -> s.first,
            "totalRows" -> s.served)
        } else {
          sessions.remove(id, s)
          Map("vars" -> s.vars, "result" -> "EOF",
            "execTime" -> secondsSince(s.start), "firstResult" -> s.first,
            "totalRows" -> s.served)
        }
      }
    }
  })

  /** Start serving; returns the bound port (ephemeral when constructed
    * with port 0). */
  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = { sweeper.shutdownNow(); server.stop(0) }

  // ---- plumbing -------------------------------------------------------------

  private def secondsSince(startNanos: Long): Double =
    (System.nanoTime() - startNanos) / 1e9

  private def rowMap(vars: Seq[String], r: Row): Map[String, Any] =
    vars.zipWithIndex.map { case (v, i) =>
      v -> (r.get(i) match {
        case null => null
        case x @ (_: String | _: java.lang.Boolean | _: java.lang.Number) => x
        case other => other.toString // dates, decimals, arrays → lexical form
      })
    }.toMap

  /** Stream a blocking result: rows are written to the chunked response as
    * the iterator yields them. Summary fields (execTime/firstResult/
    * totalRows) follow the row array — countable only after the last row,
    * and JSON object field order is meaningless to a conforming client.
    * A mid-stream executor failure surfaces as a truncated (unparseable)
    * body; the status line is already on the wire by then — the price of
    * not materializing. */
  private def streamBlocking(ex: HttpExchange, vars: Seq[String],
                             it: Iterator[Row], startNanos: Long,
                             srj: Boolean): Unit = {
    ex.getResponseHeaders.set("Content-Type",
      if (srj) "application/sparql-results+json" else "application/json")
    ex.sendResponseHeaders(200, 0L) // length 0 = chunked transfer
    val gen = mapper.getFactory.createGenerator(ex.getResponseBody)
    try {
      var first = -1.0
      var served = 0L
      gen.writeStartObject()
      if (srj) {
        gen.writeObjectFieldStart("head")
        gen.writeArrayFieldStart("vars")
        vars.foreach(gen.writeString)
        gen.writeEndArray(); gen.writeEndObject()
        gen.writeObjectFieldStart("results")
        gen.writeArrayFieldStart("bindings")
        it.foreach { r =>
          if (first < 0) first = secondsSince(startNanos)
          served += 1
          gen.writeStartObject()
          vars.zipWithIndex.foreach { case (v, i) =>
            if (!r.isNullAt(i)) { // OPTIONAL miss: binding absent, per spec
              gen.writeObjectFieldStart(v)
              val (kind, dt, lex) = srjTerm(r.get(i))
              gen.writeStringField("type", kind)
              dt.foreach(gen.writeStringField("datatype", _))
              gen.writeStringField("value", lex)
              gen.writeEndObject()
            }
          }
          gen.writeEndObject()
        }
        gen.writeEndArray(); gen.writeEndObject()
      } else {
        gen.writeArrayFieldStart("vars")
        vars.foreach(gen.writeString)
        gen.writeEndArray()
        gen.writeArrayFieldStart("result")
        it.foreach { r =>
          if (first < 0) first = secondsSince(startNanos)
          served += 1
          gen.writeStartObject()
          vars.zipWithIndex.foreach { case (v, i) =>
            r.get(i) match {
              case null                  => gen.writeNullField(v)
              case s: String             => gen.writeStringField(v, s)
              case b: java.lang.Boolean  => gen.writeBooleanField(v, b)
              case n: java.lang.Number   => gen.writeFieldName(v); gen.writeNumber(n.toString)
              case other                 => gen.writeStringField(v, other.toString)
            }
          }
          gen.writeEndObject()
        }
        gen.writeEndArray()
        val total = secondsSince(startNanos)
        gen.writeNumberField("execTime", total)
        gen.writeNumberField("firstResult", if (first < 0) total else first)
        gen.writeNumberField("totalRows", served)
      }
      gen.writeEndObject()
    } finally {
      try gen.close() finally ex.close()
    }
  }

  /** SRJ term typing: IRIs by scheme shape (the no-term-map heuristic of
    * DESCRIBE), typed literals from the JVM type. */
  /** W3C SPARQL 1.1 Query Results CSV (plain lexical forms, RFC 4180
    * quoting) and TSV (terms in SPARQL surface syntax: IRIs bracketed,
    * strings quoted+escaped, numerics/booleans bare) — both streamed row
    * by row like the JSON forms. */
  private def streamTabular(ex: HttpExchange, vars: Seq[String],
                            it: Iterator[Row], tsv: Boolean): Unit = {
    ex.getResponseHeaders.set("Content-Type",
      (if (tsv) "text/tab-separated-values" else "text/csv") + "; charset=utf-8")
    ex.sendResponseHeaders(200, 0L)
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(ex.getResponseBody, UTF_8))
    try {
      val sep = if (tsv) "\t" else ","
      w.write(vars.map(v => if (tsv) "?" + v else v).mkString(sep)); w.write("\r\n")
      it.foreach { r =>
        w.write(vars.indices.map { i =>
          if (r.isNullAt(i)) "" // unbound: empty field in both formats
          else if (tsv) tsvTerm(r.get(i))
          else csvField(srjTerm(r.get(i))._3)
        }.mkString(sep))
        w.write("\r\n")
      }
    } finally { w.flush(); w.close(); ex.close() }
  }

  /** W3C SPARQL Query Results XML: the remaining standard serialization
    * (SRJ/CSV/TSV/N-Triples cover the rest). Streamed like the others. */
  private def streamXml(ex: HttpExchange, vars: Seq[String],
                        it: Iterator[Row]): Unit = {
    ex.getResponseHeaders.set("Content-Type",
      "application/sparql-results+xml; charset=utf-8")
    ex.sendResponseHeaders(200, 0L)
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(ex.getResponseBody, UTF_8))
    def esc(s: String): String = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    try {
      w.write("""<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#"><head>""")
      vars.foreach(v => w.write(s"""<variable name="${esc(v)}"/>"""))
      w.write("</head><results>")
      it.foreach { r =>
        w.write("<result>")
        vars.zipWithIndex.foreach { case (v, i) =>
          if (!r.isNullAt(i)) {
            val (kind, dt, lex) = srjTerm(r.get(i))
            w.write(s"""<binding name="${esc(v)}">""")
            if (kind == "uri") w.write(s"<uri>${esc(lex)}</uri>")
            else dt match {
              case Some(d) => w.write(s"""<literal datatype="${esc(d)}">${esc(lex)}</literal>""")
              case None    => w.write(s"<literal>${esc(lex)}</literal>")
            }
            w.write("</binding>")
          }
        }
        w.write("</result>")
      }
      w.write("</results></sparql>")
    } finally { w.flush(); w.close(); ex.close() }
  }

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def tsvTerm(v: Any): String = {
    val (kind, dt, lex) = srjTerm(v)
    // numeric/boolean literals may appear bare per the TSV grammar; any
    // other datatype (dateTime, date, …) must keep its ^^<dt> so a
    // conforming client round-trips the typed term, not a plain string
    val bare = dt.exists(d => d.endsWith("#integer") || d.endsWith("#double") ||
      d.endsWith("#decimal") || d.endsWith("#boolean"))
    def quoted = "\"" + lex.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""
    if (kind == "uri") s"<$lex>"
    else if (bare) lex
    else dt match {
      case Some(d) => s"$quoted^^<$d>"
      case None    => quoted
    }
  }

  private def srjTerm(v: Any): (String, Option[String], String) = {
    val Xsd = "http://www.w3.org/2001/XMLSchema#"
    v match {
      case s: String if s.matches(graft.compiler.Compiled.IriShape) => ("uri", None, s)
      case s: String                => ("literal", None, s)
      case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
           _: java.lang.Byte        => ("literal", Some(Xsd + "integer"), v.toString)
      case _: java.lang.Double | _: java.lang.Float
                                    => ("literal", Some(Xsd + "double"), v.toString)
      case _: java.lang.Boolean     => ("literal", Some(Xsd + "boolean"), v.toString)
      case _: java.math.BigDecimal  => ("literal", Some(Xsd + "decimal"), v.toString)
      case _: java.sql.Date         => ("literal", Some(Xsd + "date"), v.toString)
      case t: java.sql.Timestamp    =>
        ("literal", Some(Xsd + "dateTime"), t.toString.replace(" ", "T"))
      case other                    => ("literal", None, other.toString)
    }
  }

  /** GET query string and/or form-encoded POST body → params; answer JSON.
    * A `null` from the handler means it already streamed the response. */
  private def safely(ex: HttpExchange)(f: Map[String, String] => Map[String, Any]): Unit = {
    val out =
      try {
        val fromUrl = parseParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
        val fromBody =
          if (ex.getRequestMethod == "POST")
            parseParams(new String(ex.getRequestBody.readAllBytes(), UTF_8))
          else Map.empty[String, String]
        f(fromUrl ++ fromBody)
      } catch {
        case e: Throwable => Map("result" -> Seq.empty, "error" -> e.getMessage)
      }
    if (out == null) return // handler streamed its own response
    val bytes = mapper.writeValueAsBytes(toJava(out))
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def parseParams(raw: String): Map[String, String] =
    raw.split('&').toSeq.filter(_.contains('=')).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
    }.toMap

  private def toJava(x: Any): Any = x match {
    case m: Map[_, _] => m.map { case (k, v) => k.toString -> toJava(v) }.asJava
    case s: Seq[_]    => s.map(toJava).asJava
    case other        => other
  }
}
