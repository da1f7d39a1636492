package graft.compiler

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

import graft.algebra._
import graft.decomposer.{Decomposer, Star}
import graft.functions.ExprCompiler
import graft.mapping._

/** Compiled pattern: the lazy DataFrame plus, per template-built variable,
  * the template signature and the *hidden raw key columns* that generated
  * the URI. Joins between two template variables with the same signature are
  * executed on the raw (typically integer) key columns instead of the
  * concatenated URI strings — same results, far cheaper shuffles/compares at
  * 100 TB scale. Hidden columns are named `__k_<var>_<i>` identically on
  * both sides so `join(usingColumns)` applies.
  */
final case class Compiled(df: DataFrame, sigs: Map[String, (String, List[String])],
                          /** catalog says this subplan stays broadcast-size
                            * (dimension molecule); applied at join time */
                          bcast: Boolean = false,
                          /** estimated output rows from probed molecule
                            * cardinalities (RDF-MT stats), scaled down by
                            * constant filters; -1 = unknown. Drives the
                            * small-side-first BGP join order, as the
                            * reference orders its bushy tree by selectivity
                            * (`Tree.py:343-420`). */
                          card: Long = -1L,
                          /** per-backend transfer weight of the most
                            * expensive backend this subplan scans
                            * ([[graft.compiler.RoutePlanner.backendWeight]],
                            * the reference's `getdsscore` source-type rank):
                            * BGP join ordering ranks units by card×weight,
                            * so a mixed federation pulls the cheap-transport
                            * side first. 1 = local. */
                          weight: Long = 1L,
                          /** a constant equality restricts this subplan
                            * (`nSelective > 0` on a non-dimension
                            * molecule), kept through inner joins: a BGP
                            * may evaluate it first and join its rows as a
                            * local build side ([[Compiler]]'s inline
                            * rule) */
                          selective: Boolean = false) {
  def visibleVars: Seq[String] = df.columns.toSeq.filterNot(Compiled.isHidden)
  def dropHidden: DataFrame = {
    val hidden = df.columns.filter(Compiled.isHidden)
    if (hidden.isEmpty) df else df.drop(hidden.toIndexedSeq: _*)
  }
}
object Compiled {
  /** `__k_<var>_<i>` raw template keys; `__lang_<var>` literal lang tags;
    * `__iri_<var>` IRI-vs-literal term kind (from the molecule's term map). */
  def isHidden(c: String): Boolean =
    c.startsWith("__k_") || c.startsWith("__lang_") || c.startsWith("__iri_")

  /** Desugaring artifacts that behave as ordinary variables inside the
    * plan (they JOIN like any var — hiding them from `visibleVars` would
    * sever star-to-star links) but are not user-selectable: parser blank
    * nodes (`__bn_*`, W3C §4.1.4) and path-expansion fresh vars
    * (`__path_*`). Dropped only at SELECT * projection. */
  def isNonProjectable(c: String): Boolean =
    isHidden(c) || c.startsWith("__bn_") || c.startsWith("__path_") ||
      c.startsWith("__grp_")

  /** Lexical IRI shape for a string of unknown provenance: scheme, colon,
    * and no whitespace anywhere (anchored to the whole string). Whitespace
    * is never legal in an IRI, so a plain literal like "note: see below"
    * ranks as a literal; a whitespace-free scheme-shaped value ("mailto:x")
    * still ranks as an IRI — the residual ambiguity of a lexical-string
    * engine, shared with [[graft.api.GraftServer]]'s SRJ term typing. */
  val IriShape: String = "^[A-Za-z][A-Za-z0-9+.-]*:\\S*$"
}

/** SPARQL algebra → DataFrame compiler.
  *
  * The Spark-native replacement for the reference's whole physical layer:
  * planner (`/root/reference/ontario/mediator/Planner.py`), wrapper SQL
  * generation (`ontario/wrappers/sparqltosql.py`) and the per-operator
  * process pipeline (`ontario/mediator/PlanOperators.py`). Every operator
  * (Xgjoin/Xgoptional/Xunion/Xdistinct/Xlimit/Xoffset/Xproject/Xfilter/
  * Xask/Xconstruct) becomes a declarative DataFrame transformation; Catalyst
  * + AQE own join strategy, pushdown, spill and adaptivity.
  */
final class Compiler(catalog: Catalog, load: String => DataFrame,
                     groupShip: Option[QueryShip.GroupShip] = None)
                    (implicit spark: SparkSession) {

  def compile(q: Query): DataFrame = {
    // free the remote-fetch caches pinned by earlier queries: they are
    // persisted (not checkpointed), so a frame already handed out stays
    // correct after the unpersist — re-running it just re-fetches. This
    // bounds the storage-pool footprint instead of leaking one cached RDD
    // per SILENT remote fetch for the session.
    // Only sweep when no sibling compile is in flight — GraftServer
    // compiles concurrently, and a same-JVM loopback federation compiles
    // the SERVICE body on this very engine mid-query.
    if (activeCompiles.get() == 0) sweepRemoteFetchCaches()
    activeCompiles.incrementAndGet()
    try q.form match {
      case SelectForm    => compileSelect(q)
      case AskForm       => compileAsk(q)
      case ConstructForm => compileConstruct(q)
      case DescribeForm  => compileDescribe(q)
    } finally activeCompiles.decrementAndGet()
  }

  private val activeCompiles = new java.util.concurrent.atomic.AtomicInteger(0)
  // Remote-fetch result frames pinned by in-flight queries (SILENT full
  // fetches — bind-join windows collect to a LocalRelation and pin nothing)
  private val remoteFetchCaches = mutable.ListBuffer[DataFrame]()
  private def pinRemoteFetch(df: DataFrame): DataFrame =
    remoteFetchCaches.synchronized { remoteFetchCaches += df; df }
  private def sweepRemoteFetchCaches(): Unit =
    remoteFetchCaches.synchronized {
      remoteFetchCaches.foreach(_.unpersist(blocking = false))
      remoteFetchCaches.clear()
    }

  /** DESCRIBE: the parser planted a `?__dp ?__do` probe over the described
    * term; format (s, p, o) as N-Triples. IRI-vs-literal for the object
    * comes from the molecule's term map (the hidden `__iri___do` marker
    * bound by [[compileVarPredStar]] — TemplateMap/ConstantMap/rdf:type
    * build IRIs, RefMap builds literals), exactly as the reference
    * serializes from term-map type rather than a lexical heuristic. Literal
    * lexical forms are escaped per the N-Triples grammar. */
  private def compileDescribe(q: Query): DataFrame = {
    val c = compilePattern(q.pattern)
    val s = q.template.head.s match {
      case Iri(u) => lit(s"<$u>")
      case Var(n) => concat(lit("<"), c.df.col(n).cast(StringType), lit(">"))
      case Lit(lex, _, _) => lit("\"" + Terms.escapeNt(lex) + "\"")
    }
    val o = c.df.col("__do").cast(StringType)
    val isIri =
      if (c.df.columns.contains("__iri___do")) c.df.col("__iri___do")
      else o.rlike(Compiled.IriShape) // no term map in scope
    val out = c.df.select(
      s.as("s"),
      concat(lit("<"), c.df.col("__dp"), lit(">")).as("p"),
      when(isIri, concat(lit("<"), o, lit(">")))
        .otherwise(concat(lit("\""), escapeNt(o), lit("\""))).as("o"))
      .distinct()
    q.limit.fold(out)(n => out.limit(n.toInt))
  }

  /** N-Triples literal escaping (`\` `"` LF CR TAB) as a column transform. */
  private def escapeNt(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      c, "\\\\", "\\\\\\\\"), "\"", "\\\\\""), "\n", "\\\\n"), "\r", "\\\\r"),
      "\t", "\\\\t")

  // ---- query forms --------------------------------------------------------

  private def compileSelect(q: Query): DataFrame = {
    val c = compilePattern(q.pattern)
    // template-signature vars are molecule-built IRIs — their term kind is
    // constant, so the §15.1 kind rank below would be a per-row no-op; skip
    // it for them (ORDER BY over URI keys is the common hot case)
    val iriVars = c.sigs.keySet
    def sortKeys(df: DataFrame) = q.orderBy.flatMap { ok =>
      val key = ExprCompiler.compile(ok.expr, df)
      // W3C §15.1 term ordering: unbound < blank < IRI < literal. Typed
      // (numeric/temporal/boolean) columns order by value already; only a
      // string column can mix term kinds (a UNION of IRI- and literal-
      // valued branches), so bare string-typed vars of unknown provenance
      // get a kind rank ahead of the value key. Homogeneous columns rank
      // constant — their order is unchanged.
      val kindRank = ok.expr match {
        case Expr.TermRef(Var(n))
          if !iriVars.contains(n) && df.schema.fields.exists(fd =>
            fd.name == n && fd.dataType == StringType) =>
          Some(when(df.col(n).isNull, 0)
            .when(df.col(n).startsWith("_:"), 1)
            .when(df.col(n).rlike(Compiled.IriShape), 2)
            .otherwise(3))
        case _ => None
      }
      val main = if (ok.asc) key.asc_nulls_first else key.desc_nulls_last
      kindRank.map(r => if (ok.asc) r.asc else r.desc).toList :+ main
    }
    var df =
      if (q.hasAggregates || q.distinct) {
        // order keys must come from the projected/aggregated output
        // (SPARQL requires this for DISTINCT/aggregate queries)
        var d = if (q.hasAggregates) compileAggregate(q, c) else project(q, c)
        if (q.distinct) d = d.distinct()
        if (q.orderBy.nonEmpty) d = d.orderBy(sortKeys(d): _*)
        d
      } else {
        // sort before projecting so ORDER BY may reference non-projected
        // vars (projection preserves ordering; Catalyst still collapses
        // sort+project+limit into TakeOrderedAndProject)
        val sorted = if (q.orderBy.isEmpty) c.df
                     else c.df.orderBy(sortKeys(c.df): _*)
        project(q, c.copy(df = sorted))
      }
    q.offset.foreach(n => df = df.offset(n.toInt))
    q.limit.foreach(n => df = df.limit(n.toInt))
    df
  }

  /** SELECT projection (Xproject, `Xproject.py:12-42`): missing vars become
    * null columns (reference pads with '' — SURVEY.md §1.5 maps that to
    * SQL null). */
  private def project(q: Query, c: Compiled): DataFrame = {
    if (q.projection.isEmpty) { // SELECT *: hidden + desugaring artifacts out
      val drop = c.df.columns.filter(Compiled.isNonProjectable)
      if (drop.isEmpty) c.df else c.df.drop(drop.toIndexedSeq: _*)
    }
    else {
      val cols = q.projection.map {
        case ProjVar(v) =>
          if (c.df.columns.contains(v.name)) c.df.col(v.name) else lit(null).as(v.name)
        case ProjExpr(e, as) => ExprCompiler.compile(e, c.df).as(as.name)
        case pa: ProjAgg =>
          throw new IllegalStateException(s"aggregate ${pa.func} without aggregation context")
      }
      c.df.select(cols: _*)
    }
  }

  /** SPARQL 1.1 aggregates (extension — absent from the reference,
    * SURVEY.md §2.7). Map-side partial aggregation comes free from
    * `groupBy.agg`. */
  private def compileAggregate(q: Query, c: Compiled): DataFrame = {
    val df = c.df
    // group template-keyed vars on their raw key columns — the shuffle
    // moves 8-byte longs, not concatenated URI strings — and rebuild the
    // (constant-within-group) URI with first()
    val gcols = q.groupBy.flatMap { v =>
      c.sigs.get(v.name) match {
        case Some((_, hs)) if hs.forall(df.columns.contains) => hs.map(df.col)
        case _                                               => List(df.col(v.name))
      }
    }
    // Template-keyed group vars: rebuild the (constant-within-group) URI
    // AFTER aggregation as a concat over the grouped raw key columns
    // wherever the signature round-trips — carrying the URI string
    // through a first() aggregate gives every aggregate in the plan a
    // var-width buffer, which forces the WHOLE aggregation into
    // SortAggregate (three sorts of the fact table for one COUNT
    // DISTINCT); the post-agg rebuild keeps it hash-based. Vars whose
    // signature does not parse back, or that HAVING references by name,
    // keep the first() path.
    val havingVars: Set[String] = {
      def vars(e: Expr): Set[String] = e match {
        case Expr.TermRef(Var(n))  => Set(n)
        case Expr.TermRef(_)       => Set.empty
        case Expr.Cmp(_, l, r)     => vars(l) ++ vars(r)
        case Expr.Arith(_, l, r)   => vars(l) ++ vars(r)
        case Expr.And(l, r)        => vars(l) ++ vars(r)
        case Expr.Or(l, r)         => vars(l) ++ vars(r)
        case Expr.Not(x)           => vars(x)
        case Expr.Call(_, as)      => as.flatMap(vars).toSet
        case _                     => Set.empty
      }
      // SELECT expressions with hoisted aggregates evaluate post-grouping
      // too — any group var they mention must stay a first() column
      q.having.map(vars).getOrElse(Set.empty) ++
        q.projection.flatMap {
          case ProjExpr(e, _) => vars(e)
          case _              => Nil
        }
    }
    val postUri = mutable.LinkedHashMap[String, Column]()
    val rebuilt = q.groupBy.filter(v => c.sigs.get(v.name)
        .exists(_._2.forall(df.columns.contains)))
      .flatMap { v =>
        val (sig, hs) = c.sigs(v.name)
        parseSignature(sig) match {
          case Some(parts)
            if parts.count(_.isEmpty) == hs.length &&
              !havingVars.contains(v.name) =>
            var ki = -1
            val pieces = parts.map {
              case Some(l) => lit(l)
              case None    => ki += 1; col(hs(ki)).cast("string")
            }
            postUri(v.name) =
              (if (pieces.size == 1) pieces.head else concat(pieces: _*))
            None
          case _ => Some(first(df.col(v.name)).as(v.name))
        }
      }
    // HAVING with inline aggregates (COUNT(*) > n): hoist each agg:* call
    // into a hidden aggregate column and reference it in the filter
    val hoisted = mutable.ListBuffer[Column]()
    def hoist(e: Expr): Expr = e match {
      case Expr.Call(name, args) if name.startsWith("agg:") || name.startsWith("aggd:") =>
        val fn = name.substring(name.indexOf(':') + 1)
        val alias = Var(s"__hav_${hoisted.size}")
        hoisted += aggColumn(
          ProjAgg(fn, args.headOption, distinct = name.startsWith("aggd:"), alias),
          df, c.sigs)
        Expr.TermRef(alias)
      case Expr.Cmp(op, l, r)   => Expr.Cmp(op, hoist(l), hoist(r))
      case Expr.Arith(op, l, r) => Expr.Arith(op, hoist(l), hoist(r))
      case Expr.And(l, r)       => Expr.And(hoist(l), hoist(r))
      case Expr.Or(l, r)        => Expr.Or(hoist(l), hoist(r))
      case Expr.Not(x)          => Expr.Not(hoist(x))
      case Expr.Call(n, as)     => Expr.Call(n, as.map(hoist))
      case other                => other
    }
    val having = q.having.map(hoist)
    // SELECT expressions over aggregates (§18.2.4.4): `(SUM(?x)+1 AS ?y)`
    // hoists its agg calls like HAVING does, and the surrounding
    // arithmetic evaluates POST-grouping over the hidden columns
    val postExprs = mutable.Map[String, Expr]()
    val aggCols = rebuilt ++ q.projection.flatMap {
      case pa: ProjAgg => Some(aggColumn(pa, df, c.sigs))
      case ProjExpr(e, as) =>
        val before = hoisted.size
        val e2 = hoist(e)
        if (hoisted.size > before) { postExprs(as.name) = e2; None }
        else Some(first(ExprCompiler.compile(e, df)).as(as.name))
      case _ => None
    } ++ hoisted
    val grouped =
      if (gcols.nonEmpty) df.groupBy(gcols: _*).agg(aggCols.head, aggCols.tail: _*)
      else df.agg(aggCols.head, aggCols.tail: _*)
    // filter on the grouped frame (aliases + hidden having-aggs visible),
    // then project the declared aliases
    val filtered = having.fold(grouped)(h => grouped.filter(ExprCompiler.predicate(h, grouped)))
    filtered.select(q.projection.map(p => postExprs.get(p.alias)
      .map(e => ExprCompiler.compile(e, filtered).as(p.alias))
      .orElse(postUri.get(p.alias).map(_.as(p.alias)))
      .getOrElse(filtered.col(p.alias))): _*)
  }

  /** Parse a [[graft.mapping.Template.signature]] back to its parts
    * (`Some(literal)` / `None` = column placeholder). Literal delimiter
    * characters arrive backslash-escaped (the signature encoding is
    * injective — see Template.signature), so the parse is exact; a
    * malformed signature (unescaped delimiter, dangling escape) returns
    * None and the rebuild stays on the first() path rather than risk a
    * wrong concat. */
  private def parseSignature(sig: String): Option[List[Option[String]]] = {
    val parts = mutable.ListBuffer[Option[String]]()
    var i = 0
    val n = sig.length
    while (i < n) {
      if (sig.startsWith("L(", i)) {
        val sb = new StringBuilder
        var j = i + 2
        var closed = false
        while (j < n && !closed) {
          sig.charAt(j) match {
            case '\\' =>
              if (j + 1 >= n) return None
              sb += sig.charAt(j + 1); j += 2
            case ')' => closed = true; j += 1
            case '|' | '(' => return None
            case c => sb += c; j += 1
          }
        }
        if (!closed) return None
        parts += Some(sb.toString)
        i = j
      } else if (sig.charAt(i) == 'C') { parts += None; i += 1 }
      else return None
      if (i < n) {
        if (sig.charAt(i) == '|' && i + 1 < n) i += 1 else return None
      }
    }
    if (parts.isEmpty) None else Some(parts.toList)
  }

  private def aggColumn(pa: ProjAgg, df: DataFrame,
                        sigs: Map[String, (String, List[String])]): Column = {
    val arg = pa.arg.map(e => ExprCompiler.compile(e, df))
    // COUNT(DISTINCT ?v) over a template-built var: distinct on the raw key
    // columns (injective template ⇒ same count, integer-width dedup state)
    val rawKeys: Option[List[Column]] = pa.arg.collect {
      case Expr.TermRef(Var(n)) => sigs.get(n).map(_._2)
        .filter(_.forall(df.columns.contains)).map(_.map(df.col))
    }.flatten
    val c = pa.func match {
      case "count" => arg match {
        case Some(_) if pa.distinct && rawKeys.isDefined =>
          countDistinct(rawKeys.get.head, rawKeys.get.tail: _*)
        case Some(a) if pa.distinct => countDistinct(a)
        case Some(a)                => count(a)
        case None if pa.distinct    =>
          // COUNT(DISTINCT *) = distinct solutions. struct() so solutions
          // with unbound (null) vars still count (bare multi-col DISTINCT
          // would drop any row containing a null)
          val cols = df.columns.toSeq.map(df.col)
          if (cols.isEmpty) count(lit(1)) else countDistinct(struct(cols: _*))
        case None                   => count(lit(1))
      }
      case "sum" if pa.distinct => sum_distinct(arg.get)
      case "sum"                => sum(arg.get)
      case "avg" if pa.distinct =>
        // avg over the distinct multiset; the guard keeps the all-null
        // group at SQL null instead of an ANSI divide-by-zero
        val a = arg.get
        when(count_distinct(a) > 0, sum_distinct(a) / count_distinct(a))
      case "avg"    => avg(arg.get)
      // DISTINCT is a semantic no-op for min/max (and SAMPLE may return
      // any element of the multiset, distinct or not)
      case "min"    => min(arg.get)
      case "max"    => max(arg.get)
      case "sample" => first(arg.get, ignoreNulls = true)
      // deterministic GROUP_CONCAT: sorted collect_list/set, then join
      case "group_concat" =>
        val items = if (pa.distinct) collect_set(arg.get.cast(StringType))
                    else collect_list(arg.get.cast(StringType))
        array_join(sort_array(items), pa.separator)
      case other => throw new UnsupportedOperationException(s"aggregate $other")
    }
    c.as(pa.as.name)
  }

  /** ASK (Xask, `Xask.py:11-23`): first tuple ⇒ true, compiled *lazily* —
    * no job runs until the caller acts on the frame. `limit(1)` keeps the
    * early-termination property (LocalLimit 1 stops the scan at the first
    * produced row); the aggregate over it always yields exactly one row. */
  private def compileAsk(q: Query): DataFrame =
    compilePattern(q.pattern).df
      .limit(1)
      .agg((count(lit(1)) > 0).as("ask"))

  /** CONSTRUCT (Xconstruct, `Xconstruct.py:19-104`): instantiate the
    * template per solution, emit N-Triples-style term strings as columns
    * (s, p, o); set semantics via distinct. */
  private def compileConstruct(q: Query): DataFrame =
    constructOver(compilePattern(q.pattern), q)

  /** CONSTRUCT with the WHERE clause shipped to `cfg.endpoint` as a
    * SELECT of the template's variables ([[QueryShip]] whole-query
    * dispatch for graph forms): solution rows transit the wire, while
    * N-Triples formatting, IRI-kind decisions (the local compile's
    * signature knowledge), dedup and LIMIT stay local — the serialization
    * semantics never ride the remote engine. None when the pattern is
    * unshippable or a template object var carries lang-tag metadata (the
    * hidden lang column cannot transit a SELECT wire). */
  private[graft] def compileConstructShipped(
      q: Query, cfg: QueryShip.Config): Option[DataFrame] = {
    if (q.form != ConstructForm || !QueryShip.patternShippable(q.pattern))
      return None
    val localC = compilePattern(q.pattern)
    val tmplVars = q.template.flatMap(tp => Seq(tp.s, tp.p, tp.o))
      .collect { case Var(n) => n }.distinct
    val needed = tmplVars.filter(localC.df.columns.contains)
    val langRisk = q.template.exists(tp => tp.o match {
      case Var(n) => localC.df.columns.contains(s"__lang_$n")
      case _      => false
    })
    if (needed.isEmpty || langRisk) return None
    val schema = StructType(needed.map(n => localC.df.schema(n)))
    val df = QueryShip.shipPattern(cfg.endpoint, q.pattern, Nil, schema,
      QueryShip.GroupShip(cfg.pageSize, cfg.maxPartitions))
    Some(constructOver(localC.copy(df = df), q))
  }

  /** DESCRIBE with the probe shipped to `cfg.endpoint` — the last rung
    * the dispatch ladder was missing (r14 builder note #1): for the
    * common `DESCRIBE <iri>` form, the per-predicate enumeration the
    * local compile performs (one remote scan per molecule predicate)
    * collapses to ONE shipped SELECT of the probe triple, with the
    * object's term kind asked of the STORE (`ISIRI(?__do)`) — term kind
    * is data knowledge and the endpoint is its authority, exactly as the
    * local path trusts the molecule term map. N-Triples formatting,
    * escaping, dedup and LIMIT stay local, like every graph-form
    * dispatch. None (→ local compile) for `DESCRIBE ?v WHERE {…}` — the
    * var-probe machinery is local by design — or when the probe can't
    * render as SPARQL surface text. */
  private[graft] def compileDescribeShipped(
      q: Query, cfg: QueryShip.Config): Option[DataFrame] = {
    if (q.form != DescribeForm) return None
    val subjIri = q.template.head.s match {
      case Iri(u) => u
      case _      => return None
    }
    q.pattern match {
      case Pattern.Bgp(List(TriplePattern(Iri(u), Var("__dp"), Var("__do"))))
        if u == subjIri => ()
      case _ => return None
    }
    val probe = Pattern.Extend(
      Pattern.Bgp(List(
        TriplePattern(Iri(subjIri), Var("__dp"), Var("__do")))),
      Var("__dk"), Expr.Call("isiri", List(Expr.TermRef(Var("__do")))))
    val schema = StructType(Seq(
      StructField("__dp", StringType), StructField("__do", StringType),
      StructField("__dk", BooleanType)))
    val df =
      try QueryShip.shipPattern(cfg.endpoint, probe, Nil, schema,
        QueryShip.GroupShip(cfg.pageSize, cfg.maxPartitions))
      catch { case _: UnsupportedOperationException => return None }
    val o = df.col("__do").cast(StringType)
    val out = df.select(
      lit(s"<$subjIri>").as("s"),
      concat(lit("<"), df.col("__dp"), lit(">")).as("p"),
      when(df.col("__dk"), concat(lit("<"), o, lit(">")))
        .otherwise(concat(lit("\""), escapeNt(o), lit("\""))).as("o"))
      .distinct()
    Some(q.limit.fold(out)(n => out.limit(n.toInt)))
  }

  private def constructOver(c: Compiled, q: Query): DataFrame = {
    /** N-Triples term formatting incl. `^^datatype` for typed and `@lang`
      * for tagged literals (Xconstruct.py:46-104). */
    def fmt(t: Term, pos: String): Column = t match {
      case Iri(u) => lit(s"<$u>")
      case Lit(lex, dt, lang) =>
        val base = "\"" + Terms.escapeNt(lex) + "\""
        lit(dt.map(d => s"$base^^<$d>").orElse(lang.map(l => s"$base@$l")).getOrElse(base))
      case Var(n) =>
        if (!c.df.columns.contains(n)) lit(null)
        else if (c.sigs.contains(n) || pos != "o")
          concat(lit("<"), c.df.col(n).cast(StringType), lit(">"))
        else {
          val quoted = concat(
            lit("\""), escapeNt(c.df.col(n).cast(StringType)), lit("\""))
          val xsd = c.df.schema(n).dataType match {
            case _: LongType | _: IntegerType | _: ShortType => Some(Terms.XsdInt)
            case _: DoubleType | _: FloatType                => Some(Terms.XsdDouble)
            case _: DecimalType                              => Some(Terms.XsdDecimal)
            case _: BooleanType                              => Some(Terms.XsdBoolean)
            case _: TimestampType | TimestampNTZType | _: DateType => Some(Terms.XsdDateTime)
            case _                                           => None
          }
          xsd match {
            case Some(d) => concat(quoted, lit(s"^^<$d>"))
            case None if c.df.columns.contains(s"__lang_$n") =>
              // lang-tagged string literal: "lex"@lang (tag may be null ⇒ plain)
              when(col(s"__lang_$n").isNotNull,
                concat(quoted, lit("@"), col(s"__lang_$n"))).otherwise(quoted)
            case None =>
              // a string var with no signature/type knowledge (e.g. a
              // wire-probed RefMap holding URIs): term kind by lexical
              // shape, the same rule GraftServer's SRJ serializer and the
              // ORDER BY kind rank apply — the residual ambiguity of a
              // lexical-string engine, resolved consistently everywhere
              when(c.df.col(n).cast(StringType).rlike(Compiled.IriShape),
                concat(lit("<"), c.df.col(n).cast(StringType), lit(">")))
                .otherwise(quoted)
          }
        }
    }
    // ONE pass over the solution frame: every template triple becomes a
    // struct in an exploded array, instead of a union of per-triple
    // selects — a union re-reads the source once per template triple
    // (and re-fetches a shipped endpoint scan once per branch)
    val triples = q.template.map { tp =>
      struct(fmt(tp.s, "s").as("s"), fmt(tp.p, "p").as("p"),
        fmt(tp.o, "o").as("o"))
    }
    val out = c.df.select(explode(array(triples: _*)).as("__t"))
      .select(col("__t.s").as("s"), col("__t.p").as("p"), col("__t.o").as("o"))
      .distinct()
    q.limit.fold(out)(n => out.limit(n.toInt))
  }

  // ---- patterns -------------------------------------------------------------

  def compilePattern(p: Pattern): Compiled = p match {
    case Pattern.Bgp(ts)      => compileBgp(ts)
    case Pattern.Join(l, r)   => compileJoin(l, r)
    case pat @ Pattern.LeftJoin(l, r, None) =>
      shipExclusivePattern(pat).getOrElse {
      val lc = compilePattern(l)
      serviceOptionalBind(lc, l, r, None).getOrElse {
      compileGroupScoped(r) match {
        case Some(rc) => join2(lc, rc, "left_outer")
        case None     => padUnbound(lc, r.vars) // empty OPTIONAL: unbound
      }
      }
      }
    case pat @ Pattern.LeftJoin(l, r, Some(f)) =>
      shipExclusivePattern(pat).getOrElse {
      val lc = compilePattern(l)
      serviceOptionalBind(lc, l, r, Some(f)).getOrElse {
      compileGroupScoped(r) match {
        case None => padUnbound(lc, r.vars) // F never sees a match
        case Some(rc) =>
          // fast path: a condition over inner vars only is pointwise
          // equivalent to filtering the right side before the left-outer
          // join (a left row is unmatched iff no right row both joins and
          // passes F)
          if (Expr.vars(f).subsetOf(r.vars))
            join2(lc, rc.copy(df =
              rc.df.filter(ExprCompiler.predicate(f, rc.df))), "left_outer")
          else leftJoinCond(lc, rc, f)
      }
      }
      }
    case pat @ Pattern.Union(l, r)  =>
      shipExclusivePattern(pat).getOrElse {
      // a branch no molecule can answer contributes the empty bag, per
      // SPARQL semantics; both branches dead propagates (outer scopes may
      // still absorb it — e.g. an OPTIONAL around this union)
      (compileGroupScoped(l), compileGroupScoped(r)) match {
        case (Some(a), Some(b)) => union2(a, b)
        case (Some(a), None)    => a
        case (None, Some(b))    => b
        case (None, None) => throw new graft.decomposer.NoSourceException(
          "no source matches either UNION branch")
      }
      }
    case Pattern.Filter(e, p0) =>
      // unwrap the conjunct chain so an exclusive-group ship sees every
      // FILTER scoped to its stars; each conjunct is ALSO applied locally
      // (order within a conjunction is immaterial)
      def unwrap(p: Pattern, fs: List[Expr]): (Pattern, List[Expr]) = p match {
        case Pattern.Filter(f, inner) => unwrap(inner, f :: fs)
        case other                    => (other, fs)
      }
      val (inner, fs) = unwrap(p0, List(e))
      val c = inner match {
        case Pattern.Bgp(ts) => compileBgp(ts, fs)
        case other           => compilePattern(other)
      }
      fs.foldLeft(c)((acc, f) =>
        acc.copy(df = acc.df.filter(ExprCompiler.predicate(f, acc.df))))
    case Pattern.Extend(p0, v, e) =>
      val c = compilePattern(p0)
      c.copy(df = c.df.withColumn(v.name, ExprCompiler.compile(e, c.df)))
    case Pattern.Service(src, p0, silent) => compileService(src, p0, silent)
    case Pattern.Minus(l, r) =>
      val lc = compilePattern(l)
      compileGroupScoped(r) match {
        case Some(rc) => antiSemi(lc, rc, "left_anti", minus = true)
        case None     => lc // MINUS over the empty bag removes nothing
      }
    case Pattern.Exists(l, r, pos) =>
      // correlated EXISTS: a FILTER in the probe referencing outer vars
      // participates in the semi/anti join (W3C §18.6 substitution
      // semantics — outer bindings substitute into the probe, nested
      // groups included, so unwrapping the filter chain is exact here,
      // unlike OPTIONAL's group-scoped conditions)
      def unwrapF(q: Pattern, fs: List[Expr]): (Pattern, List[Expr]) = q match {
        case Pattern.Filter(f, inner) => unwrapF(inner, f :: fs)
        case other                    => (other, fs)
      }
      val (probe, fs) = unwrapF(r, Nil)
      val lc = compilePattern(l)
      compileGroupScoped(probe) match {
        case None =>
          // unanswerable probe = zero matches: EXISTS keeps nothing,
          // NOT EXISTS keeps every left row
          if (pos) lc.copy(df = lc.df.filter(lit(false))) else lc
        case Some(pc) =>
          fs.reduceOption(Expr.And.apply) match {
            case Some(f) if !Expr.vars(f).subsetOf(probe.vars) =>
              correlatedExists(lc, pc, f, pos)
            case Some(f) =>
              antiSemi(lc, pc.copy(df =
                pc.df.filter(ExprCompiler.predicate(f, pc.df))),
                if (pos) "left_semi" else "left_anti", minus = false)
            case None =>
              antiSemi(lc, pc,
                if (pos) "left_semi" else "left_anti", minus = false)
          }
      }
    case Pattern.Values(vs, rows) => compileValues(vs, rows)
    case Pattern.Path(s, ast, o)  => compilePath(s, ast, o)
    // SPARQL 1.1 subquery: compiled like a root SELECT (aggregation,
    // modifiers and all), then joined with siblings on projected vars
    case Pattern.SubSelect(q)     => Compiled(compileSelect(q), Map.empty)
  }

  // ---- property paths (alternation / closure) -------------------------------

  /** Fixpoint round cap for `+`/`*` closures — a session-tunable safety
    * bound, never a silent truncation (the iteration throws if the graph is
    * deeper; semi-naive evaluation otherwise stops at the true diameter). */
  private def pathMaxIters: Int =
    spark.conf.get("graft.path.maxIters", "50").toInt

  private var edgeVarCounter = 0

  /** The (x, y) node-pair DataFrame of a path expression. Nodes are the
    * lexical (string) term forms — closure frontiers join on term identity
    * across heterogeneous molecules, so raw-key joins don't apply here. */
  private def pathEdges(ast: PathAst): DataFrame = ast match {
    case PathAst.Link(Iri(p)) =>
      edgeVarCounter += 1
      val (xv, yv) = (s"__pe${edgeVarCounter}_x", s"__pe${edgeVarCounter}_y")
      val c = compileBgp(List(TriplePattern(Var(xv), Iri(p), Var(yv))))
      c.dropHidden.select(
        col(xv).cast(StringType).as("x"), col(yv).cast(StringType).as("y"))
    case PathAst.Seq2(l, r) =>
      val el = pathEdges(l).select(col("x"), col("y").as("__mid"))
      val er = pathEdges(r).select(col("x").as("__mid"), col("y"))
      el.join(er, "__mid").select("x", "y")
    case PathAst.Alt(l, r) => pathEdges(l).unionByName(pathEdges(r))
    case PathAst.Inv(p)    => pathEdges(p).select(col("y").as("x"), col("x").as("y"))
    case PathAst.Closure(p, includeZero) => closure(pathEdges(p), includeZero)
    case PathAst.ZeroOrOne(p) =>
      // one step plus zero-length pairs over the edge graph's node universe
      // (same universe rule as `*` — see closure())
      val e = pathEdges(p).distinct()
      val nodes = e.select(col("x")).union(e.select(col("y").as("x"))).distinct()
      e.unionByName(nodes.select(col("x"), col("x").as("y"))).distinct()
    case PathAst.Nps(fwd, inv) =>
      // negated property set: every predicate edge of the catalog universe
      // (incl. rdf:type) minus the negated members — the molecule-driven
      // twin of the reference's wrapper predicate enumeration; a direction
      // participates only when the query listed members for it (W3C §9.1).
      // ONE scan per molecule: the backing table is read once and explodes
      // into its non-excluded (subject, object) edges — not one compiled
      // BGP per (molecule, predicate), which on a wide catalog multiplies
      // scan branches by the predicate count for no information gain.
      def union(dfs: List[DataFrame]): DataFrame = dfs match {
        case Nil => spark.range(0).select(
          lit("").cast(StringType).as("x"), lit("").cast(StringType).as("y"))
        case es => es.reduce(_.unionByName(_))
      }
      def edgesExcept(excl: List[String]): DataFrame =
        union(catalog.molecules.flatMap { m =>
          val t = load(m.table)
          val objs: List[Column] =
            m.predicates.toList.collect {
              case (p, tm) if !excl.contains(p) => tm match {
                case RefMap(c, _)    => t(c).cast(StringType)
                case TemplateMap(tp) => tp.build(t(_)).cast(StringType)
                case ConstantMap(v)  => lit(v).cast(StringType)
              }
            } ++
              (if (excl.contains(Terms.RdfType)) Nil
               else List(lit(m.rdfType).cast(StringType)))
          if (objs.isEmpty) Nil
          else List(
            t.select(
              m.subject.build(t(_)).cast(StringType).as("x"),
              explode(array(objs: _*)).as("y"))
             .where(col("x").isNotNull && col("y").isNotNull))
        })
      val parts =
        (if (fwd.nonEmpty) List(edgesExcept(fwd)) else Nil) ++
          (if (inv.nonEmpty)
            List(edgesExcept(inv).select(col("y").as("x"), col("x").as("y")))
          else Nil)
      union(parts).distinct()
  }

  /** Transitive closure, HYBRID semi-naive → path doubling. The first
    * 4 rounds (`switchAfter`) are classic semi-naive (frontier ⋈
    * base edges): on the shallow graphs real catalogs produce (diameter
    * 2-5), every round's right side is the small fixed edge set and the
    * fixpoint lands before the switch — measured A/B at sf0.1, pure
    * doubling is ~1.6× SLOWER here because it joins the growing closure
    * for no round savings. If the graph is deeper, later rounds switch to
    * path doubling (frontier ⋈ closure-so-far): covered distance doubles
    * per round, so a diameter-1000 chain finishes in `switchAfter +
    * log₂(diameter)` rounds instead of diameter-many — each round is one
    * shuffle join + global `except` + eager checkpoint barrier, and at
    * cluster scale the barrier count is what kills deep paths.
    * Correctness of mixing: the loop invariant is `total` = all pairs at
    * distance ≤ D, `frontier` = every pair first discovered last round
    * (distance in (D_prev, D]). A semi-naive step extends to ≤ D+1; a
    * doubling step covers any ℓ ∈ (D, 2D] by splitting its shortest path
    * at position D — the prefix has distance exactly D (in the frontier),
    * the suffix ≤ D (in the closure). Both steps re-establish the
    * invariant, so the schedule is free. `*` adds zero-length pairs for
    * every node of the edge graph (the engine's node universe — the W3C
    * all-graph-terms universe has no finite enumeration over virtual
    * mappings). */
  private def closure(edges0: DataFrame, includeZero: Boolean): DataFrame = {
    val maxIters = pathMaxIters
    val cached = mutable.ListBuffer[DataFrame]()
    val checkpoints = mutable.ListBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { cached += df.persist(); df }
    // Dictionary-encode the iteration (production RDF-store practice):
    // node terms map to dense longs once, every round's join/except then
    // shuffles fixed-width pairs instead of URI strings — 3-5× fewer
    // shuffle bytes per round, multiplied by the round count. The dict is
    // frozen by an eager checkpoint (monotonically_increasing_id is only
    // stable once materialized); encode is two string joins paid once,
    // decode two long joins on the result.
    val edgesStr = keep(edges0.distinct())
    val dict = edgesStr.select(col("x").as("t"))
      .union(edgesStr.select(col("y").as("t"))).distinct()
      .withColumn("nid", monotonically_increasing_id())
      .localCheckpoint()
    checkpoints += dict
    // (r21, measured dead end: persisting this frame pre-partitioned on
    // x — the connectedComponents discipline — regressed both closure
    // rows in a back-to-back A/B, deep 5.47 → 6.14 s and shallow 1.50 →
    // 1.91 s: under AQE the tiny per-round right side goes broadcast, so
    // the cached layout buys nothing and the setup exchange is pure cost)
    val edges = keep(edgesStr
      .join(dict.select(col("t").as("x"), col("nid").as("__xid")), "x")
      .join(dict.select(col("t").as("y"), col("nid").as("__yid")), "y")
      .select(col("__xid").as("x"), col("__yid").as("y")))
    var total = edges
    var frontier = edges
    var converged = false
    var i = 0
    // each round: ONE materializing action (the eager localCheckpoint of the
    // post-except frontier). Checkpointing also *truncates lineage* — the
    // frontier becomes a leaf, so `total` stays a linear union of leaves;
    // without it the except/union cross-references grow the logical plan
    // exponentially with depth (plan stringification alone OOMs past ~25
    // rounds). The follow-up isEmpty probe only touches the cached blocks.
    val switchAfter = 4
    // NOTE (r21, measured dead end): batching TWO doubling steps per
    // materialization barrier (step 2 lazily referencing step 1's
    // frontier; one checkpoint + one emptiness probe per batch) is
    // semantically exact but measured strictly worse on the deep fixture
    // — isolated medians 5.88 → 6.77 s, jobs 99 → 139, executor task
    // time 12.1 → 43.9 s, shuffle 8.6 → 12.6 MB. Exchange reuse does NOT
    // absorb the three lazy references to the unmaterialized step-1
    // frontier (the except rewrite yields non-identical exchange
    // subtrees), so step 1 recomputes ~3× per barrier and the combined
    // plan spawns MORE AQE stage jobs than the barrier it saves. One
    // step per barrier stays the floor.
    while (!converged && i < maxIters) {
      // semi-naive right side (fixed edge set) until switchAfter rounds,
      // then the closure-so-far: covered distance doubles per round
      val right = if (i < switchAfter) edges else total
      val grown = frontier.select(col("x"), col("y").as("__mid"))
        .join(right.select(col("x").as("__mid"), col("y")), "__mid")
        .select("x", "y")
      frontier = grown.except(total).localCheckpoint()
      checkpoints += frontier
      if (frontier.isEmpty) converged = true
      else total = total.union(frontier)
      i += 1
    }
    // a silently truncated fixpoint is a wrong answer, not a result
    // (post-switch doubling bounds reachable depth at switchAfter·2^k)
    if (!converged)
      throw new IllegalStateException(
        s"property-path closure did not converge within $maxIters iterations; " +
          "the graph is deeper than the engine's bound — raise maxIters")
    // zero-length pairs: the node universe is the dict's key set
    val result =
      if (!includeZero) total
      else total.union(dict.select(col("nid").as("x"), col("nid").as("y"))).distinct()
    // decode ids back to term strings (result-sized, two long-key joins)
    val decoded = result
      .join(dict.select(col("nid").as("x"), col("t").as("__xs")), "x")
      .join(dict.select(col("nid").as("y"), col("t").as("__ys")), "y")
      .select(col("__xs").as("x"), col("__ys").as("y"))
    // materialize the fixpoint once (eager checkpoint), then free BOTH the
    // per-round caches and the per-round checkpoint blocks. The latter are
    // otherwise reclaimed only by the GC-driven ContextCleaner — in a
    // long-lived session the leaked frontiers from repeated path queries
    // fill the storage pool and evict live blocks (round-4 bench regressed
    // this query 4.4× exactly that way).
    val out = decoded.localCheckpoint()
    cached.foreach(_.unpersist(blocking = false))
    checkpoints.foreach(org.apache.spark.sql.GraftBridge.freeCheckpoint)
    out
  }

  /** Seeded reachability for a closure with a constant endpoint: BFS from
    * the seed over the (possibly reversed) edge set instead of materializing
    * the full transitive closure — at corpus scale the difference between
    * touching one component and touching the whole graph. Returns the set of
    * reached nodes as a one-column ("n") DataFrame. */
  private def reachableFrom(inner: PathAst, seed: String, forward: Boolean,
                            includeZero: Boolean): DataFrame = {
    val maxIters = pathMaxIters
    val cached = mutable.ListBuffer[DataFrame]()
    val checkpoints = mutable.ListBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { cached += df.persist(); df }
    val base0 = pathEdges(inner)
    val base = keep(if (forward) base0.distinct()
                    else base0.select(col("y").as("x"), col("x").as("y")).distinct())
    var frontier = base.filter(col("x") === lit(seed))
      .select(col("y").as("n")).distinct().localCheckpoint()
    checkpoints += frontier
    var total = frontier
    var converged = frontier.isEmpty
    var i = 0
    // eager localCheckpoint per round: one materializing action + lineage
    // truncation (see closure() — the fixpoint plan otherwise grows
    // exponentially with depth)
    while (!converged && i < maxIters) {
      val next = frontier.join(base, col("n") === col("x"))
        .select(col("y").as("n")).distinct().except(total).localCheckpoint()
      checkpoints += next
      if (next.isEmpty) converged = true
      else total = total.union(next)
      frontier = next
      i += 1
    }
    if (!converged) {
      // Deeper than the per-round cap. A reached-SET frontier cannot path-
      // double (doubling composes pairs), so instead of failing like the
      // pre-doubling engine did, fall back to the doubling closure — its
      // log-round convergence reaches any depth — and select the seed's
      // row. This trades the BFS's one-component locality for guaranteed
      // convergence; the cap is the user's knob for where that trade
      // happens (a too-low cap in a shallow graph still surfaces as the
      // closure's own convergence error).
      cached.foreach(_.unpersist(blocking = false))
      checkpoints.foreach(org.apache.spark.sql.GraftBridge.freeCheckpoint)
      val all = closure(if (forward) base0
                        else base0.select(col("y").as("x"), col("x").as("y")),
                        includeZero = false)
      val reached = all.filter(col("x") === lit(seed))
        .select(col("y").as("n")).distinct()
      val zeroed =
        if (includeZero)
          reached.union(spark.range(1).select(lit(seed).as("n"))).distinct()
        else reached
      val outFb = zeroed.localCheckpoint()
      org.apache.spark.sql.GraftBridge.freeCheckpoint(all)
      return outFb
    }
    val result =
      if (includeZero)
        total.union(spark.range(1).select(lit(seed).as("n"))).distinct()
      else total
    val out = result.localCheckpoint()
    cached.foreach(_.unpersist(blocking = false))
    // free the per-round frontier blocks deterministically (see closure())
    checkpoints.foreach(org.apache.spark.sql.GraftBridge.freeCheckpoint)
    out
  }

  /** `s path o` where the path kept alternation/closure: compile the edge
    * set, then bind/filter the endpoints. A top-level closure with a
    * constant endpoint runs as a seeded BFS instead. */
  private def compilePath(s: Term, ast: PathAst, o: Term): Compiled = {
    def constOf(t: Term): Option[String] = t match {
      case Iri(u)         => Some(u)
      case Lit(lex, _, _) => Some(lex)
      case Var(_)         => None
    }
    ast match {
      case PathAst.Closure(inner, z) if constOf(s).isDefined || constOf(o).isDefined =>
        val forward = constOf(s).isDefined
        val seed = (if (forward) constOf(s) else constOf(o)).get
        val reached = reachableFrom(inner, seed, forward, z)
        return (if (forward) o else s) match {
          case Var(v) => Compiled(reached.select(col("n").as(v)), Map.empty)
          case other  => // both endpoints constant: membership test
            val otherConst = constOf(other).get
            Compiled(reached.filter(col("n") === lit(otherConst)).select(), Map.empty)
        }
      case _ => ()
    }
    var df = pathEdges(ast)
    def end(t: Term, c: String): Option[String] = t match {
      case Var(n)         => Some(n)
      case Iri(u)         => df = df.filter(col(c) === lit(u)); None
      case Lit(lex, _, _) => df = df.filter(col(c) === lit(lex)); None
    }
    (end(s, "x"), end(o, "y")) match {
      case (Some(sv), Some(ov)) if sv == ov =>
        Compiled(df.filter(col("x") === col("y")).select(col("x").as(sv)), Map.empty)
      case (Some(sv), Some(ov)) =>
        Compiled(df.select(col("x").as(sv), col("y").as(ov)), Map.empty)
      case (Some(sv), None) => Compiled(df.select(col("x").as(sv)), Map.empty)
      case (None, Some(ov)) => Compiled(df.select(col("y").as(ov)), Map.empty)
      case (None, None)     => Compiled(df.select(), Map.empty)
    }
  }

  /** SERVICE: compile the inner pattern against only the named source's
    * molecules — the explicit SPARQL 1.1 federation form of the source
    * selection the reference performs transparently via RDF-MTs (its
    * per-source Service UnionBlocks, `utility.py:76-98`). The service IRI
    * matches a molecule source either verbatim or by local name
    * (`<urn:g:src:srcB>` → "srcB"). SILENT converts any failure — unknown
    * source or an inner pattern the scoped catalog cannot answer — into
    * the unit solution, per W3C SPARQL 1.1 Federated Query §4. */
  /** True when the service IRI names a live remote endpoint rather than a
    * registered local source (local registration wins — loopback tests
    * register molecules under http sources too). */
  private def isRemoteService(src: String): Boolean = {
    val i = math.max(src.lastIndexOf('/'), math.max(src.lastIndexOf('#'), src.lastIndexOf(':')))
    val name = src.substring(i + 1)
    (src.startsWith("http://") || src.startsWith("https://")) &&
      !catalog.molecules.exists(m => m.source == src || m.source == name)
  }

  /** Full remote fetch: ship the pattern as a paged SELECT over its
    * sorted vars through the shared remote scan (W3C Federated Query §2
    * dispatch; one COUNT sizes the page plan, pages group into at most
    * 32 ranges; rows come back as lexical forms, joining siblings on term
    * identity like path results). */
  private def remoteServiceFetch(src: String, p: Pattern,
                                 silent: Boolean): Compiled = {
    val vars = p.vars.toList.sorted
    require(vars.nonEmpty, s"SERVICE <$src>: pattern binds no variables")
    val schema = StructType(vars.map(StructField(_, StringType, nullable = true)))
    val df = QueryShip.shipPattern(src, p, Nil, schema, QueryShip.GroupShip())
    // Under SILENT the fetch materializes HERE, driver-side: page pulls
    // otherwise run lazily on executors at action time, outside the
    // caller's try, so a remote failure mid-query would fail the whole
    // query instead of degrading to the unit solution per W3C Federated
    // Query §4. The persisted result is pinned and swept at a later idle
    // compile. (Residual edge: a frame re-run after its sweep re-fetches,
    // and if the endpoint has died SINCE the successful silent fetch that
    // late re-fetch fails loudly — acceptable; SILENT guarded the query
    // that carried the clause.) Non-silent services stay fully lazy —
    // their failures SHOULD fail the query.
    if (silent) {
      val mat = pinRemoteFetch(
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      mat.count()
      Compiled(mat, Map.empty)
    } else Compiled(df, Map.empty)
  }

  /** Join, with the reference's flagship federation optimization: a remote
    * SERVICE branch that shares variables with its sibling compiles to a
    * dependent (bind) join — the local side's distinct keys travel to the
    * endpoint as VALUES windows (`NestedHashJoinFilter.py:166-234`'s
    * filter instantiation) instead of paging the whole remote result.
    * Intrinsically eager: the window batching collects the local keys at
    * compile time, exactly as the reference buffers its `filter_bag`.
    * Non-selective local sides (over `graft.service.bindJoin.maxKeys`)
    * fall back to the full paged fetch, where a shuffled join is the
    * right plan anyway. */
  private def compileJoin(l: Pattern, r: Pattern): Compiled = {
    def bindable(p: Pattern, other: Pattern) = p match {
      case Pattern.Service(src, inner, silent)
        if isRemoteService(src) && other.vars.intersect(inner.vars).nonEmpty &&
          spark.conf.get("graft.service.bindJoin", "true").toBoolean =>
        Some((src, inner, silent))
      case _ => None
    }
    bindable(r, l).map { case (src, inner, silent) =>
      serviceBindJoin(compilePattern(l), src, inner, silent) }
      .orElse(bindable(l, r).map { case (src, inner, silent) =>
        serviceBindJoin(compilePattern(r), src, inner, silent) })
      .getOrElse(join2(compilePattern(l), compilePattern(r), "inner"))
  }

  /** OPTIONAL { SERVICE <remote> { … } } sharing variables with the
    * required side → dependent LEFT-OUTER bind join, the reference's
    * NestedHashOptionalFilter (`operators/nonblocking/
    * NestedHashOptionalFilter.py`) with the same MEASURED-key window
    * sizing as the inner path (its fixed WINDOW_SIZE twin): only the
    * left side's bound keys travel to the endpoint as VALUES windows;
    * unmatched left rows null-pad the service vars locally — identical
    * answers to the full paged fetch, a fraction of the transfer. A
    * condition over inner vars only ships INSIDE the batch query as a
    * FILTER (pointwise equivalent to filtering the right side before
    * the left-outer join); a condition spanning both sides falls back
    * to the generic path. */
  private def serviceOptionalBind(lc: Compiled, l: Pattern, r: Pattern,
                                  cond: Option[Expr]): Option[Compiled] =
    r match {
      case Pattern.Service(src, inner, silent)
        if isRemoteService(src) &&
          l.vars.intersect(inner.vars).nonEmpty &&
          cond.forall(f => Expr.vars(f).subsetOf(inner.vars)) &&
          spark.conf.get("graft.service.bindJoin", "true").toBoolean =>
        val eff = cond.fold(inner)(f => Pattern.Filter(f, inner))
        Some(serviceBindJoin(lc, src, eff, silent, "left_outer"))
      case _ => None
    }

  private def serviceBindJoin(lc: Compiled, src: String, inner: Pattern,
                              silent: Boolean,
                              joinType: String = "inner"): Compiled = {
    val vars = inner.vars.toList.sorted
    val shared = lc.visibleVars.toSet.intersect(inner.vars).toList.sorted
    val schema = StructType(vars.map(StructField(_, StringType, nullable = true)))
    // "auto" (the default) sizes the VALUES window from the MEASURED key
    // count and page economics (BindJoin.adaptiveWindow) — few distinct
    // keys ⇒ ONE remote request, huge builds batch at the page-filling
    // width; a pinned integer still wins, and a malformed value still
    // throws (the Round6 contract: config errors surface, never degrade)
    val windowConf = spark.conf.get("graft.service.bindJoin.window", "auto")
    val maxKeys = spark.conf.get("graft.service.bindJoin.maxKeys", "10000").toInt
    // over the key cap a shuffled join over the full paged fetch is the
    // right plan anyway — an explicit branch, not exception control flow:
    // the old catch of IllegalArgumentException also swallowed
    // NumberFormatException (it extends IAE) from a malformed window/
    // maxKeys config, silently degrading to a full fetch
    def fullFetch: Compiled =
      join2(lc, remoteServiceFetch(src, inner, silent), joinType)
    def run: Compiled = {
      // the remote side casts every binding to its lexical string form;
      // the local keys must compare the same way
      val left = shared.foldLeft(lc.df)((d, v) => d.withColumn(v, col(v).cast(StringType)))
      // buffering the distinct keys is intrinsic to a bind join (the
      // reference's filter_bag); the cap bounds it
      val keys = left.select(shared.map(col): _*).distinct()
        .limit(maxKeys + 1).collect()
        .map(b => shared.indices.map(i => Option(b.get(i))))
        .collect { case r if r.forall(_.isDefined) => r.map(_.get.toString) }
      if (keys.length > maxKeys) return fullFetch
      if (keys.isEmpty)
        // no bindable keys: inner ⇒ provably empty; left-outer ⇒ every
        // left row survives with the service vars null-padded — both
        // fall out of joining the empty typed frame under joinType
        return Compiled(left.join(
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
          shared, joinType), lc.sigs -- shared)
      val window =
        if (windowConf == "auto")
          graft.operators.BindJoin.adaptiveWindow(keys.length)
        else windowConf.toInt
      // one VALUES-window query per batch, fetched ON THE EXECUTORS —
      // window requests run in parallel across the cluster; the driver
      // only builds the query strings and receives the matched rows
      val batchQueries = keys.grouped(window).map { rows =>
        s"SELECT ${vars.map("?" + _).mkString(" ")} WHERE { " +
          s"${SparqlText.pattern(inner)} ${SparqlText.valuesBlock(shared, rows.toSeq)} }"
      }.toSeq
      // concurrency against the endpoint is CAPPED (default 32, the
      // maxPartitions convention of the paged scans): past the cap each
      // task walks several window queries sequentially — a thousand-
      // batch build must not open a thousand sockets against one store
      // (and on a loopback harness, unbounded fetch tasks would hold
      // every executor slot while the server needs one — deadlock)
      val fetchPar = math.max(1, spark.conf
        .get("graft.service.bindJoin.maxConcurrentFetch", "32").toInt)
      val fetched = spark.sparkContext
        .parallelize(batchQueries, math.min(batchQueries.size, fetchPar))
        .flatMap(q => graft.sources.SparqlHttp.select(src, q, schema))
        .collect()
      // the matched rows land in a LocalRelation, not a persisted RDD:
      // (a) each VALUES window hits the endpoint exactly once even though
      // downstream sorts/AQE recompute inputs (each request would be an
      // independent snapshot); (b) executor-side transport failures
      // surface here, inside the SILENT try below, not at action time;
      // (c) nothing is cached, so nothing can leak or be swept mid-query;
      // (d) Catalyst sees a known-small local side and BROADCASTS it —
      // the big local pattern never shuffles for this join. Bounded by
      // construction (selective keys are why a bind join was chosen) and
      // by the explicit row cap, past which the distributed full paged
      // fetch is the right plan anyway.
      if (fetched.length > Compiler.BindJoinMaxFetchRows) return fullFetch
      val right = spark.createDataFrame(
        java.util.Arrays.asList(fetched: _*), schema)
      Compiled(left.join(right, shared, joinType), lc.sigs -- shared)
    }
    if (silent)
      try run catch {
        case scala.util.control.NonFatal(_) =>
          try fullFetch
          catch {
            case scala.util.control.NonFatal(_) =>
              // SILENT unit fallback: inner keeps the left side as-is;
              // an OPTIONAL must still pad its body-only vars unbound
              if (joinType == "inner") lc else padUnbound(lc, inner.vars)
          }
      }
    else run
  }

  private def compileService(src: String, p: Pattern, silent: Boolean): Compiled = {
    val i = math.max(src.lastIndexOf('/'), math.max(src.lastIndexOf('#'), src.lastIndexOf(':')))
    val name = src.substring(i + 1)
    val scoped = catalog.molecules.filter(m => m.source == src || m.source == name)
    def unit = Compiled(spark.range(1).select(), Map.empty)
    if (scoped.isEmpty && isRemoteService(src)) {
      def remote: Compiled = remoteServiceFetch(src, p, silent)
      return if (silent)
        try remote catch { case scala.util.control.NonFatal(_) => unit }
      else remote
    }
    if (scoped.isEmpty) {
      if (silent) unit
      else throw new IllegalArgumentException(
        s"SERVICE: no molecules registered for source <$src>")
    } else {
      val sub = new Compiler(Catalog(scoped), load)
      if (silent)
        try sub.compilePattern(p)
        catch { case scala.util.control.NonFatal(_) => unit }
      else sub.compilePattern(p)
    }
  }

  /** MINUS / FILTER [NOT] EXISTS → semi/anti join on the shared variables.
    * The no-shared-vars edge differs by operator: MINUS removes nothing
    * (per SPARQL's dom-disjointness rule), while [NOT] EXISTS evaluates the
    * probe pattern independently — any solution ⇒ EXISTS keeps all / NOT
    * EXISTS drops all. The probe stays lazy: a broadcast `limit(1)` side
    * semi/anti-joined on a constant-true condition, so `Graft.sparql()`
    * never runs a job before the caller acts. */
  /** Compile a GROUP-SCOPED sub-pattern (OPTIONAL body, UNION branch,
    * MINUS/EXISTS probe), where an unanswerable star means the EMPTY
    * solution bag per SPARQL semantics, not a failed query. None = no
    * molecule can answer it; the caller applies the empty-bag algebra.
    * Required patterns never come through here — their
    * [[graft.decomposer.NoSourceException]] stays loud. */
  private def compileGroupScoped(p: Pattern): Option[Compiled] =
    try Some(compilePattern(p))
    catch { case _: graft.decomposer.NoSourceException => None }

  /** OPTIONAL whose body is unanswerable: every left row survives with the
    * body-only vars unbound (typed as the null string — the lexical type
    * of a variable no molecule ever types). */
  private def padUnbound(lc: Compiled, rightVars: Set[String]): Compiled = {
    val add = rightVars.toSeq.sorted.filterNot(lc.df.columns.contains)
    lc.copy(df = add.foldLeft(lc.df)((d, v) =>
      d.withColumn(v, lit(null).cast(StringType))))
  }

  private def antiSemi(cl: Compiled, cr: Compiled, how: String, minus: Boolean): Compiled = {
    val shared = cl.visibleVars.toSet intersect cr.visibleVars.toSet
    if (shared.isEmpty) {
      if (minus) cl // MINUS with disjoint domains removes nothing
      else {
        val probe = broadcast(cr.df.limit(1).select(lit(1).as("__probe")))
        Compiled(cl.df.join(probe, lit(true), how), cl.sigs, cl.bcast)
      }
    } else {
      // join on visible shared vars (semi/anti output keeps only left cols)
      val rClean = cr.df.drop(cr.df.columns.filter(_.startsWith("__k_")).toIndexedSeq: _*)
      // rename right's shared columns to avoid ambiguity
      val renamed = shared.toSeq.sorted.foldLeft(rClean)((d, v) => d.withColumnRenamed(v, s"__r_$v"))
      val c2 = shared.toSeq.sorted
        .map(v => cl.df.col(v) === renamed.col(s"__r_$v")).reduce(_ && _)
      val rHinted = if (cr.bcast) broadcast(renamed) else renamed
      Compiled(cl.df.join(rHinted, c2, how), cl.sigs, cl.bcast)
    }
  }

  /** VALUES inline data → a local DataFrame (broadcast-joined into the
    * pattern by Catalyst).
    *
    * Type-homogeneous columns (every VALUES block a bind join or a real
    * query writes) build ONE LocalRelation of typed Rows — a thousand-row
    * VALUES must be one plan node, not a thousand unioned single-row
    * selects (the union form is O(rows) plan nodes; analysis goes
    * quadratic and whole-stage codegen bursts janino's 64 KB method cap —
    * measured with a 2500-key bind-join window before this fast path;
    * SCALE.md "Round-16: adaptive bind-join window, measured").
    * Columns mixing term KINDS across rows (legal, rare, and always
    * small) keep the per-row literal-select union, whose coercion
    * semantics the sparql_values gate pins. */
  private def compileValues(vs: List[Var], rows: List[List[Option[Term]]]): Compiled = {
    // 0 = null/unbound (joins any kind), 1 = string/iri lexical,
    // 2 = long, 3 = double, 4 = boolean
    def kind(ot: Option[Term]): Int = ot match {
      case None | Some(Var(_)) => 0
      case Some(Iri(_))        => 1
      case Some(Lit(_, dt, _)) => dt match {
        case Some(Terms.XsdInt)     => 2
        case Some(Terms.XsdDecimal) | Some(Terms.XsdDouble) => 3
        case Some(Terms.XsdBoolean) => 4
        case _                      => 1
      }
    }
    val colKinds = vs.indices.map(i =>
      rows.map(r => kind(r(i))).filter(_ != 0).distinct)
    if (colKinds.forall(_.size <= 1)) {
      val types = colKinds.map(_.headOption.getOrElse(1)).map {
        case 2 => LongType
        case 3 => DoubleType
        case 4 => BooleanType
        case _ => StringType
      }
      val schema = StructType(vs.lazyZip(types).map((v, t) =>
        StructField(v.name, t, nullable = true)))
      def value(ot: Option[Term]): Any = ot match {
        case None | Some(Var(_)) => null
        case Some(Iri(u))        => u
        case Some(Lit(lex, dt, _)) => dt match {
          case Some(Terms.XsdInt)     => lex.toLong
          case Some(Terms.XsdDecimal) | Some(Terms.XsdDouble) => lex.toDouble
          case Some(Terms.XsdBoolean) => lex == "true"
          case _                      => lex
        }
      }
      val data = rows.map(r =>
        org.apache.spark.sql.Row.fromSeq(r.map(value)))
      return Compiled(spark.createDataFrame(
        java.util.Arrays.asList(data: _*), schema), Map.empty)
    }
    val rowDfs = rows.map { row =>
      val cols = vs.lazyZip(row).map { (v, ot) =>
        (ot match {
          case None => lit(null)
          case Some(Iri(u)) => lit(u)
          case Some(Lit(lex, dt, _)) => dt match {
            case Some(Terms.XsdInt)     => lit(lex.toLong)
            case Some(Terms.XsdDecimal) | Some(Terms.XsdDouble) => lit(lex.toDouble)
            case Some(Terms.XsdBoolean) => lit(lex == "true")
            case _                      => lit(lex)
          }
          case Some(Var(_)) => lit(null)
        }).as(v.name)
      }
      spark.range(1).select(cols.toSeq: _*)
    }
    Compiled(rowDfs.reduce(_.unionByName(_)), Map.empty)
  }

  /** BGP: decompose into stars, then join greedily on shared variables in
    * estimated-cardinality order — the reference's selectivity-ordered
    * bushy-tree construction (`Tree.py:343-420, 466-501`) reduced to a
    * cartesian-free linear order that starts from the smallest star and
    * always joins the smallest var-sharing candidate next (constant-
    * filtered stars estimate below their molecule size, so "constants <
    * smallest molecule < …" falls out). With no probed cardinalities
    * (est = unknown for every star) the order degrades to the original
    * first-shared-var order. Catalyst/AQE still reorder further at
    * runtime. */
  private def compileBgp(ts: List[TriplePattern],
                         shipFilters: List[Expr] = Nil): Compiled = {
    require(ts.nonEmpty, "empty BGP")
    // an open decision record (Graft.explain) gets what this BGP decided
    val record = Option(Compiler.decisions.get)
    val t0 = if (record.isEmpty) 0L else System.nanoTime()
    def decided(stars: Option[List[Star]]): Unit = record.foreach(
      _ += Compiler.BgpDecision(ts, stars, System.nanoTime() - t0))
    val stars =
      try Decomposer.decompose(ts, catalog)
      catch {
        case e: graft.decomposer.ProvablyEmptyException =>
          decided(None)
          // pruning PROVED the join empty (no source pair has compatible
          // URI templates): the correct answer is the empty bag over the
          // pattern's variables — zero rows, not a failed query (a
          // discovery probe counting a non-linked (A, p, B) needs 0)
          val vars = ts.flatMap(_.vars).distinct.sorted
          return Compiled(
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              StructType(vars.map(v => StructField(v, StringType, nullable = true)))),
            Map.empty, bcast = false, card = 0L)
      }
    decided(Some(stars))
    val slot = record.map(_.size - 1)
    // one bounded drain per BGP at most: the first selective side that
    // meets an unselective star ([[inlineApplies]]), inlined or not
    var drained = false
    def inline(sel: Compiled, other: Compiled, side: List[Star]): Option[Compiled] =
      if (drained || !inlineApplies(sel, other)) None
      else {
        drained = true
        val local = inlineRows(sel)
        for (c <- local; r <- record; i <- slot) r(i) = r(i).copy(inlined = Some(
          Compiler.Inlined(side.map(st => stars.indexWhere(_ eq st)).sorted, c.card)))
        local
      }
    // each unit with the stars it covers (a shipped group covers several)
    val units = groupShip match {
      case Some(cfg) => shipExclusiveGroups(stars, shipFilters, cfg)
      case None      => stars.map(st => (compileStar(st), List(st)))
    }
    val compiled = mutable.ListBuffer(units: _*)
    // rank by TRANSFER, not raw rows: card × backend weight (saturating),
    // so a mixed federation pulls the cheap-transport side first — the
    // reference's getdsscore source-type rank with real statistics
    def est(u: (Compiled, List[Star])): Long = {
      val c = u._1
      if (c.card < 0) Long.MaxValue
      else if (c.weight > 0 && c.card > Long.MaxValue / c.weight) Long.MaxValue
      else c.card * c.weight
    }
    val first = compiled.minBy(est)
    var (acc, accStars) = compiled.remove(compiled.indexWhere(_ eq first))
    var accVars = acc.visibleVars.toSet
    while (compiled.nonEmpty) {
      val sharing = compiled.filter(u => u._1.visibleVars.exists(accVars.contains))
      val next = if (sharing.nonEmpty) sharing.minBy(est) else compiled.head
      compiled.remove(compiled.indexWhere(_ eq next))
      val (nc, nStars) = next
      // at most one side qualifies: the rule needs the other unselective
      val (l, r) = inline(acc, nc, accStars) match {
        case Some(a) => (a, nc)
        case None    => (acc, inline(nc, acc, nStars).getOrElse(nc))
      }
      acc = join2(l, r, "inner")
      accVars ++= nc.visibleVars
      accStars ++= nStars
    }
    acc
  }

  /** The selective side first, as the reference's `NestedHashJoinFilter`
    * evaluates its selective input before the other. The first time in a
    * BGP that a selective subplan (a constant equality on a non-dimension
    * star, or an inner join that contains one) meets a star that is
    * neither selective nor broadcast-hinted, with both over local
    * molecules ([[RoutePlanner.backendWeight]] 1, so nothing remote is
    * fetched at compile time), the compiler evaluates the selective side
    * now ([[inlineRows]]). */
  private def inlineApplies(sel: Compiled, other: Compiled): Boolean =
    sel.selective && !other.selective && !other.bcast &&
      sel.weight == 1 && other.weight == 1 &&
      !sel.df.isStreaming && !other.df.isStreaming

  /** A bounded drain ([[org.apache.spark.sql.GraftBridge.waveRows]]) of at
    * most [[RoutePlanner.BindKeyCap]] + 1 rows — the cap RoutePlanner
    * already uses as its definition of "selective". With at most
    * `BindKeyCap` rows, they replace the subplan as a local relation, so
    * Catalyst builds the join's hash table on those rows instead of
    * broadcasting the other, unfiltered star. Otherwise the plan stays as
    * it was.
    *
    * The cost of a miss: every partition of the drained subplan reads at
    * most `BindKeyCap` + 1 rows, and the drain stops after the wave in
    * which the total passed the cap — one wave, one job, when the
    * subplan's scans fit in the task slots. A subplan over more
    * partitions than slots can pay more waves before it passes the cap. */
  private def inlineRows(sel: Compiled): Option[Compiled] = {
    val cap = RoutePlanner.BindKeyCap.toInt
    val rows = org.apache.spark.sql.GraftBridge.waveRows(sel.df, cap + 1).toArray
    Option.when(rows.length <= cap)(sel.copy(
      df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), sel.df.schema),
      card = rows.length.toLong))
  }

  /** Exclusive-group dispatch (FedX §5.2, the optimization the reference's
    * per-star wrapper queries stop short of): stars whose EVERY candidate
    * molecule lives on the same SPARQL endpoint, connected by shared
    * variables, ship to that endpoint as ONE remote subquery — the joins
    * between them run at the store and per-star bindings never transit the
    * wire. Singleton groups keep the per-concept DSv2 scan (which already
    * pushes column pruning + FILTERs); unconnected same-endpoint stars
    * never group (a remote cartesian is strictly worse than a local one).
    * Conservative guards: no variable-predicate stars (the local
    * enumeration binds extra term-kind metadata), no lang-tagged
    * predicates (LANG() reads a hidden column a shipped scan cannot
    * return). Each group's schema and cardinality estimate come from the
    * LOCAL compile of the same stars, so the shipped frame drops into join
    * ordering exactly where the local one would. */
  /** The one endpoint every candidate molecule of `st` lives on, if any. */
  private def soleEndpointOf(st: Star): Option[String] =
    st.sources.flatMap(_.fragments.map(_.molecule.source)).distinct match {
      case List(u) if u.startsWith("http://") || u.startsWith("https://") =>
        Some(u)
      case _ => None
    }

  /** Conservative per-star ship guards: no variable-predicate stars (the
    * local enumeration binds extra term-kind metadata), no lang-tagged
    * predicates (LANG() reads a hidden column a shipped scan cannot
    * return). */
  private def starShipEligible(st: Star): Boolean =
    st.triples.forall(!_.p.isInstanceOf[Var]) &&
      !st.sources.exists(_.fragments.exists(_.molecule.predicates.values.exists {
        case RefMap(_, Some(_)) => true
        case _                  => false
      }))

  private def shipExclusiveGroups(stars: List[Star], filters: List[Expr],
                                  cfg: QueryShip.GroupShip): List[(Compiled, List[Star])] = {
    def sole(st: Star): Option[String] = soleEndpointOf(st)
    def eligible(st: Star): Boolean = starShipEligible(st)
    def components(sts: List[Star]): List[List[Star]] = {
      val remaining = mutable.ListBuffer(sts: _*)
      val comps = mutable.ListBuffer[List[Star]]()
      while (remaining.nonEmpty) {
        var comp = List(remaining.remove(0))
        var vars = comp.head.vars
        var grew = true
        while (grew) {
          val i = remaining.indexWhere(_.vars.exists(vars.contains))
          grew = i >= 0
          if (grew) {
            val s = remaining.remove(i)
            comp ::= s
            vars ++= s.vars
          }
        }
        comps += comp
      }
      comps.toList
    }
    val consumed = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Star, java.lang.Boolean]())
    val shipped = for {
      (ep, sts) <- stars.filter(st => eligible(st) && sole(st).isDefined)
        .groupBy(st => sole(st).get).toList
      comp <- components(sts) if comp.size >= 2
    } yield {
      comp.foreach(consumed.add)
      (shipComponent(ep, comp, filters, cfg), comp)
    }
    shipped ++ stars.filterNot(consumed.contains).map(st => (compileStar(st), List(st)))
  }

  /** Exclusive-PATTERN dispatch — the ladder rung between exclusive star
    * GROUPS and whole-query dispatch: an OPTIONAL / UNION (or a MINUS /
    * EXISTS reached through one) whose EVERY star is exclusive to one
    * endpoint ships whole, so the left-join/union itself runs at the
    * store. Without this, a federation compiles such blocks per-concept
    * even when no other store could contribute a row, and each side's
    * bindings transit the wire just to be joined back locally (FedX §5.2
    * exclusive groups, extended past BGP granularity). The local compile
    * of the same pattern is the schema + cardinality authority, exactly
    * like [[shipComponent]], and the fallback when the pattern or one of
    * its FILTER expressions can't render as SPARQL surface text.
    *
    * The local twin compiles through a ship-less child Compiler (the
    * subquery-compiler pattern): this instance is shared by concurrent
    * server requests, so the recursion guard must not be instance
    * state. */
  private def shipExclusivePattern(p: Pattern): Option[Compiled] =
    groupShip.flatMap { cfg =>
      exclusivePatternEndpoint(p).flatMap { ep =>
        val local = new Compiler(catalog, load).compilePattern(p)
        if (local.card == 0L) Some(local) // provably empty: nothing to fetch
        else
          try {
            val df = QueryShip.shipPattern(ep, p, Nil,
              local.dropHidden.schema, cfg)
            Some(Compiled(df, Map.empty, bcast = false, card = local.card))
          } catch { case _: UnsupportedOperationException => None }
      }
    }

  /** The single endpoint every star inside `p` is exclusive to, if such
    * exists. BGP leaves decompose against the catalog and each star must
    * pass the per-star ship guards with the same sole endpoint;
    * VALUES / BIND are endpoint-neutral; any other node (SERVICE, paths,
    * subqueries — each with its own dispatch rules) opts the pattern out
    * and it compiles per-concept as before. */
  private def exclusivePatternEndpoint(p: Pattern): Option[String] = {
    def both(l: Pattern, r: Pattern): Option[Set[String]] =
      for (a <- walk(l); b <- walk(r)) yield a ++ b
    def walk(p: Pattern): Option[Set[String]] = p match {
      case Pattern.Bgp(ts) =>
        val stars =
          try Decomposer.decompose(ts, catalog)
          catch { case scala.util.control.NonFatal(_) => return None }
        val eps = stars.map(st =>
          if (starShipEligible(st)) soleEndpointOf(st) else None)
        if (eps.exists(_.isEmpty)) None else Some(eps.flatten.toSet)
      case Pattern.Filter(_, p0)     => walk(p0)
      case Pattern.Extend(p0, _, _)  => walk(p0)
      case Pattern.LeftJoin(l, r, _) => both(l, r)
      case Pattern.Union(l, r)       => both(l, r)
      case Pattern.Minus(l, r)       => both(l, r)
      case Pattern.Exists(l, r, _)   => both(l, r)
      case _: Pattern.Values         => Some(Set.empty)
      case _                         => None
    }
    walk(p) match {
      case Some(s) if s.size == 1 => Some(s.head)
      case _                      => None
    }
  }

  private def shipComponent(endpoint: String, comp: List[Star],
                            filters: List[Expr],
                            cfg: QueryShip.GroupShip): Compiled = {
    // the local compile of the same stars: schema authority (shipped and
    // local frames agree column-for-column) + the join-ordering estimate
    val compiled = comp.map(compileStar)
    val local = compiled.reduce(join2(_, _, "inner"))
    // under auto, the group rung prices its decision with the SAME
    // transfer model as the whole-query route (RoutePlanner): shipping
    // moves the group's joined rows; staying local moves the
    // bind-join-aware per-concept scans. Unknown estimates and ties keep
    // the authoritative local compile — `local` IS that execution.
    if (cfg.auto) {
      val bindLocal = RoutePlanner.groupTransfer(compiled.map(_.card))
      if (bindLocal < 0 || local.card < 0 ||
          local.card > bindLocal / RoutePlanner.ShipMargin)
        return local
    }
    val compVars = comp.flatMap(_.vars).toSet
    val fs = filters.filter(f =>
      Expr.vars(f).nonEmpty && Expr.vars(f).subsetOf(compVars))
    val df = QueryShip.shipGroup(endpoint, comp.flatMap(_.triples), fs,
      local.dropHidden.schema, cfg)
    // no sigs: downstream joins key on the var values themselves (URI
    // strings) — mediator-granularity frames, not raw-key fragments
    Compiled(df, Map.empty, bcast = false, card = local.card)
  }

  /** One star over its candidate sources; alternative sources union
    * (the reference's per-source Service UnionBlock, `utility.py:76-98`).
    * A source spanning several triple maps of one class self-joins its
    * fragments on the shared subject — on the raw subject key columns via
    * join2's hidden-column path (`sparqltosql.py:446-481` semantics). */
  private def compileStar(star: Star): Compiled = {
    val (varTs, constTs) = star.triples.partition(_.p.isInstanceOf[Var])
    if (varTs.isEmpty)
      star.sources.map(compileSource(star.subject, _)).reduce(union2)
    else star.sources.map { src =>
      // each ?p triple expands over the source's molecules (predicate
      // enumeration); molecules of one source union, then join the probe
      // onto the constant-predicate part of the star on the subject
      // (raw-key join via the shared subject signature)
      val mols = src.fragments.map(_.molecule).distinct
      val probes = varTs.map(tp =>
        mols.map(m => compileVarPredStar(star.subject, tp, m)).reduce(union2))
      val parts =
        if (constTs.isEmpty) probes
        else compileSource(star.subject, src) :: probes
      parts.reduce(join2(_, _, "inner"))
    }.reduce(union2)
  }

  private def compileSource(subject: Term, src: graft.decomposer.StarSource): Compiled =
    src.fragments.map(f => compileFragment(subject, f.triples, f.molecule))
      .reduce(join2(_, _, "inner"))

  /** `?s ?p ?o`-style probe: enumerate the molecule's predicates (plus
    * rdf:type), one union branch each — how the reference's wrappers expand
    * a variable predicate over their triple maps. Object values are cast to
    * their lexical (string) form so branches union cleanly. */
  private def compileVarPredStar(subject: Term, tp: TriplePattern,
                                 m: Molecule): Compiled = {
    val TriplePattern(_, Var(pv), o) = tp: @unchecked
    val s = subject
    val df = load(m.table)

    def branch(predIri: String, value: Column, guards: Seq[Column],
               objIsIri: Boolean): Compiled = {
      val conds = mutable.ListBuffer[Column](guards: _*)
      val bindings = mutable.LinkedHashMap[String, Column]()
      var sigs = Map[String, (String, List[String])]()
      val hidden = mutable.LinkedHashMap[String, Column]()
      s match {
        case Var(sv) =>
          bindings(sv) = m.subject.build(df.col)
          val hnames = m.subject.columns.zipWithIndex.map { case (_, i) => s"__k_${sv}_$i" }
          hnames.lazyZip(m.subject.columns).foreach((h, c) => hidden(h) = df.col(c))
          sigs += sv -> (m.subject.signature, hnames)
          m.subject.columns.foreach(c => conds += df.col(c).isNotNull)
        case Iri(u) => m.subject.invert(u) match {
          case Some(kvs) =>
            kvs.foreach { case (c, lex) => conds += df.col(c).cast(StringType) === lit(lex) }
          case None => conds += lit(false)
        }
        case _ => conds += lit(false)
      }
      bindings.get(pv) match {
        case Some(existing) => conds += existing === lit(predIri)
        case None           => bindings(pv) = lit(predIri)
      }
      o match {
        case Var(ov) =>
          bindings.get(ov) match {
            case Some(existing) => conds += existing === value
            case None =>
              bindings(ov) = value
              // term kind from the term map (TemplateMap/ConstantMap/rdf:type
              // build IRIs, RefMap literals) — consumed by DESCRIBE
              hidden(s"__iri_$ov") = lit(objIsIri)
          }
        case Iri(u)         => conds += value === lit(u)
        case Lit(lex, _, _) => conds += value === lit(lex)
      }
      val filtered = if (conds.isEmpty) df else df.filter(conds.reduce(_ && _))
      Compiled(filtered.select((bindings.map { case (v, c) => c.as(v) } ++
        hidden.map { case (h, c) => c.as(h) }).toSeq: _*), sigs)
    }

    val predBranches = m.predicates.toList.sortBy(_._1).map {
      case (p, RefMap(c, _)) =>
        branch(p, df.col(c).cast(StringType), Seq(df.col(c).isNotNull),
          objIsIri = false)
      case (p, TemplateMap(t)) =>
        branch(p, t.build(df.col), t.columns.map(df.col(_).isNotNull),
          objIsIri = true)
      case (p, ConstantMap(v)) => branch(p, lit(v), Nil, objIsIri = true)
    }
    val typeBranch = branch(Terms.RdfType, lit(m.rdfType), Nil, objIsIri = true)
    (typeBranch :: predBranches).reduce(union2)
  }

  /** Star fragment × molecule → single-table scan with template concat
    * columns, constant inversions, and not-null guards — what the
    * reference's star→SQL translator emits (`sparqltosql.py:96-154`), left
    * to Catalyst for pushdown. */
  private def compileFragment(subject: Term, triples: List[TriplePattern],
                              m: Molecule): Compiled = {
    val df = load(m.table)
    val conds = mutable.ListBuffer[Column]()
    var nSelective = 0 // constant equality filters only — not null guards
    val bindings = mutable.LinkedHashMap[String, Column]()
    val hidden = mutable.LinkedHashMap[String, Column]()
    var sigs = Map[String, (String, List[String])]()

    // nested-XML support: a RefMap may point through struct fields into
    // *repeated* elements (`synonyms.synonym` where `synonym` is an array —
    // the rowTag-relative RML iterator paths of the reference's
    // `ontario/wrappers/spark/utils.py:460-560`, explode at `:514`). Walking
    // the path explodes at every array hop, so each repeat yields its own
    // solution, exactly the LATERAL VIEW semantics the reference emits.
    var base = df
    var explodeId = 0
    def resolve(path: String): (Column, DataType) = {
      val parts = path.split("\\.")
      if (!df.columns.contains(parts(0)))
        return (df.col(path), StringType) // flat dotted name; let Spark resolve
      var c: Column = df.col(parts(0))
      var t: DataType = df.schema(parts(0)).dataType
      def maybeExplode(): Unit = t match {
        case a: ArrayType =>
          explodeId += 1
          val alias = s"__x_$explodeId"
          base = base.withColumn(alias, explode(c))
          c = col(alias); t = a.elementType
          maybeExplode() // arrays of arrays
        case _ => ()
      }
      maybeExplode()
      parts.drop(1).foreach { seg =>
        c = c.getField(seg)
        t = t match {
          case s: StructType => s.find(_.name == seg).map(_.dataType).getOrElse(StringType)
          case _             => StringType
        }
        maybeExplode()
      }
      (c, t)
    }

    def bindTemplate(v: String, t: Template): Unit =
      bindings.get(v) match {
        case Some(existing) => conds += existing === t.build(df.col)
        case None =>
          bindings(v) = t.build(df.col)
          val hnames = t.columns.zipWithIndex.map { case (_, i) => s"__k_${v}_$i" }
          hnames.lazyZip(t.columns).foreach((h, c) => hidden(h) = df.col(c))
          sigs += v -> (t.signature, hnames)
          t.columns.foreach(c => conds += df.col(c).isNotNull)
      }

    def invertConst(t: Template, value: String): Unit = {
      nSelective += 1
      t.invert(value) match {
        case Some(kvs) =>
          kvs.foreach { case (c, lex) => conds += df.col(c).cast(StringType) === lit(lex) }
        case None => conds += lit(false)
      }
    }

    subject match {
      case Var(v)  => bindTemplate(v, m.subject)
      case Iri(u)  => invertConst(m.subject, u)
      case Lit(lex, _, _) => invertConst(m.subject, lex)
    }

    triples.foreach { tp =>
      tp.p match {
        case Iri(Terms.RdfType) => tp.o match {
          case Iri(cls) => if (cls != m.rdfType) conds += lit(false)
          case Var(v) =>
            bindings.get(v) match {
              case Some(existing) => conds += existing === lit(m.rdfType)
              case None           => bindings(v) = lit(m.rdfType)
            }
          case _ => conds += lit(false)
        }
        case Iri(p) => m.predicates.get(p) match {
          case None => conds += lit(false)
          case Some(RefMap(c, langCol)) => tp.o match {
            case Var(v) => bindings.get(v) match {
              case Some(existing) => conds += existing === resolve(c)._1
              case None =>
                val (rc, _) = resolve(c)
                bindings(v) = rc
                langCol.foreach(lc => hidden(s"__lang_$v") = df.col(lc))
                conds += rc.isNotNull
            }
            case Lit(lex, dt, _) =>
              val (rc, rt) = resolve(c)
              nSelective += 1
              conds += (rc === typedLit(lex, dt, rt))
            case Iri(u) =>
              nSelective += 1
              conds += resolve(c)._1.cast(StringType) === lit(u)
          }
          case Some(TemplateMap(t)) => tp.o match {
            case Var(v)         => bindTemplate(v, t)
            case Iri(u)         => invertConst(t, u)
            case Lit(lex, _, _) => invertConst(t, lex)
          }
          case Some(ConstantMap(value)) => tp.o match {
            case Var(v) => bindings.get(v) match {
              case Some(existing) => conds += existing === lit(value)
              case None           => bindings(v) = lit(value)
            }
            case Iri(u)         => if (u != value) conds += lit(false)
            case Lit(lex, _, _) => if (lex != value) conds += lit(false)
          }
        }
        case Var(_) =>
          throw new UnsupportedOperationException(
            "variable predicates are not supported yet")
        case Lit(_, _, _) => conds += lit(false) // literal predicate: no match
      }
    }

    val filtered = if (conds.isEmpty) base else base.filter(conds.reduce(_ && _))
    val out = filtered.select(
      (bindings.map { case (v, c) => c.as(v) } ++
        hidden.map { case (h, c) => c.as(h) }).toSeq: _*)
    // selectivity estimate for join ordering: start from the probed
    // molecule cardinality and discount 10× per constant filter — crude,
    // but it only has to rank stars, and constants < unfiltered molecule
    // always holds under it
    val estCard =
      if (m.cardinality < 0) -1L
      else (0 until nSelective).foldLeft(m.cardinality)((c, _) => math.max(1L, c / 10))
    // the broadcast hint is *carried*, not applied: wrapping every fragment
    // leaves dangling hints on fragments that end up union branches
    // (HintErrorLogger noise); join2 attaches it at join construction
    Compiled(out, sigs, bcast = m.broadcastHint, card = estCard,
      weight = RoutePlanner.backendWeight(m.source),
      selective = nSelective > 0 && !m.broadcastHint)
  }

  /** Join on shared variables. Template-built vars with matching signatures
    * join on hidden raw key columns (int keys, not URI strings); everything
    * else joins on the visible column. No shared vars ⇒ cross join, as the
    * reference defers unconnected subplans (`Tree.py:466-501` "others"). */
  private def join2(l: Compiled, r: Compiled, how: String): Compiled = {
    // apply carried broadcast hints here, where a join relation actually
    // exists (a dimension-molecule side never shuffles); the joined result
    // stays broadcast-size only if both inputs were
    val ldf = if (l.bcast) broadcast(l.df) else l.df
    def hint(rdf: DataFrame) = if (r.bcast) broadcast(rdf) else rdf
    val outBcast = l.bcast && r.bcast
    // crude output estimate: FK-style star joins stay near the larger side;
    // cross joins multiply (saturating); unknown taints
    def joinCard(cross: Boolean): Long =
      if (l.card < 0 || r.card < 0) -1L
      else if (!cross) math.max(l.card, r.card)
      else if (l.card > 0 && r.card > Long.MaxValue / math.max(l.card, 1L)) Long.MaxValue
      else l.card * r.card
    val shared = l.visibleVars.toSet intersect r.visibleVars.toSet
    if (shared.isEmpty) {
      val rClean = hint(dropCollidingHidden(l, r))
      val joined =
        if (how == "inner") ldf.crossJoin(rClean)
        else ldf.join(rClean, lit(true), "left_outer")
      // a cross join of two broadcast-size sides is |l|·|r| rows — never
      // propagate the broadcast hint through it (a later join would inhale
      // an oversized broadcast)
      Compiled(joined, l.sigs ++ r.sigs, bcast = false,
        card = joinCard(cross = true), weight = math.max(l.weight, r.weight))
    } else {
      val joinCols = mutable.ListBuffer[String]()
      val dropRight = mutable.ListBuffer[String]()
      var sigs = l.sigs
      shared.toSeq.sorted.foreach { v =>
        (l.sigs.get(v), r.sigs.get(v)) match {
          case (Some((sl, hl)), Some((sr, _))) if sl == sr =>
            joinCols ++= hl        // same hidden names on both sides
            dropRight += v         // right URI string is redundant
          case _ =>
            joinCols += v
            r.sigs.get(v).foreach { case (_, hr) => dropRight ++= hr }
            l.sigs.get(v).foreach(_ => sigs -= v) // signature no longer reliable
        }
      }
      // drop any remaining hidden columns that would collide by name
      // (e.g. __lang_<v> bound on both sides — keep left's)
      val stillColliding = r.df.columns.filter(c =>
        Compiled.isHidden(c) && l.df.columns.contains(c) && !joinCols.contains(c))
      val rClean = hint(r.df.drop((dropRight ++ stillColliding).toSeq: _*))
      val joined = ldf.join(rClean, joinCols.toSeq.distinct, how)
      val rSigs = (r.sigs -- shared).filter { case (_, (_, h)) =>
        h.forall(joined.columns.contains)
      }
      Compiled(joined, sigs ++ rSigs, outBcast,
        card = joinCard(cross = false), weight = math.max(l.weight, r.weight),
        selective = how == "inner" && (l.selective || r.selective))
    }
  }

  /** LeftJoin(Ω1, Ω2, F) where F ranges over the *merged* bindings (W3C
    * §18.5): F is part of the join, not a post-filter — a left row whose
    * every compatible right row fails F still appears, null-padded. Spark
    * has no "left outer join with residual condition over a using-join",
    * so it's composed: inner ⋈ filtered by F, plus an anti-join recovering
    * the left rows with zero surviving matches. The anti-join compares
    * null-safely (`<=>`): a left row carrying an OPTIONAL-null column must
    * still match its own copy inside the surviving set. */
  private def leftJoinCond(lc: Compiled, rc: Compiled, f: Expr): Compiled = {
    val inner = join2(lc, rc, "inner")
    val matched = inner.df.filter(ExprCompiler.predicate(f, inner.df))
    val lcols = lc.df.columns.toSeq
    val survivors = matched.select(lcols.map(c => col(c).as(s"__lj_$c")): _*)
    val unmatched = lc.df.join(survivors,
      lcols.map(c => lc.df(c) <=> survivors(s"__lj_$c")).reduce(_ && _),
      "left_anti")
    val padded = unmatched.select(inner.df.schema.fields.toSeq.map { fd =>
      if (lcols.contains(fd.name)) col(fd.name)
      else lit(null).cast(fd.dataType).as(fd.name)
    }: _*)
    inner.copy(df = matched.unionByName(padded))
  }

  /** EXISTS/NOT EXISTS with a condition over the merged bindings: the
    * probe joins the outer solution (inner join + filter), and the outer
    * rows with ≥1 / 0 survivors pass — a null-safe semi/anti join against
    * the surviving left projections, the same composition as
    * [[leftJoinCond]]. */
  private def correlatedExists(lc: Compiled, pc: Compiled, f: Expr,
                               positive: Boolean): Compiled = {
    val inner = join2(lc, pc, "inner")
    val matched = inner.df.filter(ExprCompiler.predicate(f, inner.df))
    val lcols = lc.df.columns.toSeq
    val survivors = matched.select(lcols.map(c => col(c).as(s"__ex_$c")): _*)
    val cond = lcols.map(c => lc.df(c) <=> survivors(s"__ex_$c")).reduce(_ && _)
    Compiled(lc.df.join(survivors, cond,
      if (positive) "left_semi" else "left_anti"), lc.sigs, lc.bcast)
  }

  private def dropCollidingHidden(l: Compiled, r: Compiled): DataFrame = {
    val collide = l.df.columns.toSet intersect
      r.df.columns.filter(Compiled.isHidden).toSet
    if (collide.isEmpty) r.df else r.df.drop(collide.toSeq: _*)
  }

  /** UNION (Xunion, `Xunion.py:34-131`): bag union with schema alignment;
    * the reference pads missing vars with '', we use nulls via
    * allowMissingColumns. Hidden key columns survive only when both branches
    * agree on the signature. */
  private def union2(l: Compiled, r: Compiled): Compiled = {
    val dropL = mutable.ListBuffer[String]()
    val dropR = mutable.ListBuffer[String]()
    var sigs = Map[String, (String, List[String])]()
    val allVars = l.visibleVars.toSet ++ r.visibleVars.toSet
    allVars.foreach { v =>
      (l.sigs.get(v), r.sigs.get(v)) match {
        case (Some((sl, hl)), Some((sr, _))) =>
          if (sl == sr) sigs += v -> (sl, hl)
          else { dropL ++= hl; dropR ++= r.sigs(v)._2 }
        case (Some((sl, hl)), None) =>
          if (r.visibleVars.contains(v)) dropL ++= hl // right binds it un-keyed
          else sigs += v -> (sl, hl)                  // right pads nulls
        case (None, Some((sr, hr))) =>
          if (l.visibleVars.contains(v)) dropR ++= hr
          else sigs += v -> (sr, hr)
        case _ => ()
      }
    }
    val ldf = if (dropL.isEmpty) l.df else l.df.drop(dropL.toSeq: _*)
    val rdf = if (dropR.isEmpty) r.df else r.df.drop(dropR.toSeq: _*)
    Compiled(ldf.unionByName(rdf, allowMissingColumns = true), sigs,
      l.bcast && r.bcast,
      card = if (l.card < 0 || r.card < 0) -1L else l.card + r.card,
      weight = math.max(l.weight, r.weight),
      selective = l.selective && r.selective)
  }

  private def typedLit(lex: String, dt: Option[String], target: DataType): Column =
    target match {
      case _: NumericType   => lit(lex.toDouble).cast(target)
      case BooleanType      => lit(lex == "true")
      case TimestampType    => to_timestamp(lit(lex.replace("T", " ")))
      case DateType         => to_date(lit(lex))
      case _                => lit(lex)
    }
}

object Compiler {
  /** Row cap on a SERVICE bind join's fetched matches, which land on the
    * driver as a local relation; past it the distributed full fetch is
    * the right plan. */
  val BindJoinMaxFetchRows = 1000000

  /** What compiling one BGP decided: the stars it built, or None when
    * join-link pruning proved the BGP empty; the decomposition time; and
    * the selective side, if any, the join loop evaluated at compile time
    * and joined as a local relation. */
  final case class BgpDecision(triples: List[TriplePattern],
                               stars: Option[List[Star]], decomposeNs: Long,
                               inlined: Option[Inlined] = None)

  /** A side of a BGP join inlined as a local build side: the indices (in
    * [[BgpDecision.stars]]) of the stars it covers and its row count. */
  final case class Inlined(stars: List[Int], rows: Long)

  // Thread-scoped, not instance state: a GraftServer shares one Compiler
  // across concurrent requests, and SERVICE / exclusive-pattern bodies
  // compile on child Compilers whose decisions belong to the same record.
  private[compiler] val decisions = new ThreadLocal[mutable.ListBuffer[BgpDecision]]

  /** Runs `body` with a decision record open on this thread and returns
    * its result with every BGP decision compiled inside it, in order. */
  def recordingDecisions[A](body: => A): (A, List[BgpDecision]) = {
    val outer = decisions.get
    val record = mutable.ListBuffer.empty[BgpDecision]
    decisions.set(record)
    try { val a = body; (a, record.toList) }
    finally decisions.set(outer)
  }
}
