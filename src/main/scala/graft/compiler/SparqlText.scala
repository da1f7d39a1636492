package graft.compiler

import graft.algebra._

/** Algebra → SPARQL surface-text serialization, for shipping a SERVICE
  * block's inner pattern to a remote endpoint (the dispatch half of W3C
  * SPARQL 1.1 Federated Query — the reference instead re-assembles wrapper
  * query strings per star, `ontario/wrappers/triplestore/__init__.py:125-186`).
  * IRIs are emitted in full `<…>` form so no prefix context travels.
  *
  * Covers the pattern/expression surface a SERVICE body can carry through
  * our own parser: BGPs, property paths, FILTER / OPTIONAL / UNION / BIND /
  * VALUES and the compiled expression grammar. Anything else throws — under
  * SERVICE SILENT that degrades to the unit solution per §4. */
object SparqlText {

  /** A complete SELECT/ASK query — the whole-query dispatch of
    * [[QueryShip]] (a single-endpoint mediator ships the full query, the
    * FedX-style "exclusive group" at query granularity). Modifier order
    * follows the grammar: GROUP BY, HAVING, ORDER BY, LIMIT, OFFSET. */
  def query(q: Query): String = q.form match {
    case AskForm => s"ASK { ${pattern(q.pattern)} }"
    case SelectForm =>
      val proj =
        if (q.projection.isEmpty) "*"
        else q.projection.map(projItem).mkString(" ")
      val dist = if (q.distinct) "DISTINCT " else ""
      val grp =
        if (q.groupBy.isEmpty) ""
        else " GROUP BY " + q.groupBy.map("?" + _.name).mkString(" ")
      val hav = q.having.fold("")(h => s" HAVING (${expr(h)})")
      val ord =
        if (q.orderBy.isEmpty) ""
        else " ORDER BY " + q.orderBy.map(orderKey).mkString(" ")
      val lim = q.limit.fold("")(" LIMIT " + _)
      val off = q.offset.fold("")(" OFFSET " + _)
      s"SELECT $dist$proj WHERE { ${pattern(q.pattern)} }$grp$hav$ord$lim$off"
    case other => throw new UnsupportedOperationException(
      s"cannot serialize $other query for endpoint dispatch")
  }

  def projItem(pi: ProjItem): String = pi match {
    case ProjVar(v)      => s"?${v.name}"
    case ProjExpr(e, as) => s"(${expr(e)} AS ?${as.name})"
    case ProjAgg(fn, arg, d, as, sep) =>
      s"(${aggCall(fn, if (d) "DISTINCT " else "", arg.map(expr), sep)} AS ?${as.name})"
  }

  /** One aggregate call body; `arg` None ⇒ `*`. The separator is emitted
    * only for GROUP_CONCAT and only when it differs from the parser's
    * default (a single space) — `SEPARATOR = " "` round-trips to the same
    * AST either way. */
  private def aggCall(fn: String, dist: String, arg: Option[String],
                      sep: String): String = {
    val sepTxt =
      if (fn == "group_concat" && sep != " ")
        s" ; SEPARATOR = ${"\"" + Terms.escapeNt(sep) + "\""}"
      else ""
    s"${fn.toUpperCase}($dist${arg.getOrElse("*")}$sepTxt)"
  }

  def orderKey(k: OrderKey): String = k.expr match {
    case Expr.TermRef(Var(n)) if k.asc => s"?$n"
    case e if k.asc                    => s"ASC(${expr(e)})"
    case e                             => s"DESC(${expr(e)})"
  }

  /** An operand rendered with its algebra scope made EXPLICIT: SPARQL
    * surface syntax hoists a bare FILTER to the end of its enclosing
    * group and attaches OPTIONAL to everything before it, so a non-leaf
    * operand flattened into the parent's text re-associates — e.g.
    * LeftJoin(Filter(e, P), R) rendered unbraced as `P FILTER(e)
    * OPTIONAL { R }` parses back as Filter(e, LeftJoin(P, R)), letting
    * `e` see OPTIONAL-bound vars it must not. Braces make the operand a
    * group, which is exactly what the algebra node means; leaves and
    * self-delimiting forms (UNION braces its branches, subselects brace
    * themselves) stay bare. */
  private def grouped(p: Pattern): String = p match {
    case _: Pattern.Bgp | _: Pattern.Values | _: Pattern.Path |
         _: Pattern.Union | _: Pattern.SubSelect => pattern(p)
    case _ => s"{ ${pattern(p)} }"
  }

  def pattern(p: Pattern): String = p match {
    case Pattern.Bgp(ts)       => ts.map(triple).mkString(" ")
    case Pattern.Join(l, r)    => s"${grouped(l)} ${grouped(r)}"
    case Pattern.Filter(e, p0) => s"${pattern(p0)} FILTER (${expr(e)})"
    case Pattern.LeftJoin(l, r, cond) =>
      val f = cond.fold("")(e => s" FILTER (${expr(e)})")
      s"${grouped(l)} OPTIONAL { ${pattern(r)}$f }"
    case Pattern.Union(l, r)   => s"{ ${pattern(l)} } UNION { ${pattern(r)} }"
    case Pattern.Extend(p0, v, e) => s"${pattern(p0)} BIND (${expr(e)} AS ?${v.name})"
    case Pattern.Minus(l, r)   => s"${grouped(l)} MINUS { ${pattern(r)} }"
    // EXISTS is a filter FORM, not an expression operand — no wrapping
    // parens (the grammar, ours included, rejects `FILTER (EXISTS {…})`)
    case Pattern.Exists(l, r, pos) =>
      s"${grouped(l)} FILTER ${if (pos) "" else "NOT "}EXISTS { ${pattern(r)} }"
    case Pattern.Values(vs, rows) =>
      val hdr = vs.map("?" + _.name).mkString("(", " ", ")")
      val body = rows.map(_.map(_.fold("UNDEF")(term)).mkString("(", " ", ")"))
        .mkString(" ")
      s"VALUES $hdr { $body }"
    case Pattern.Path(s, ast, o) => s"${term(s)} ${path(ast)} ${term(o)} ."
    case Pattern.SubSelect(sq)   => s"{ ${query(sq)} }"
    case other => throw new UnsupportedOperationException(
      s"cannot serialize pattern for SERVICE dispatch: ${other.getClass.getSimpleName}")
  }

  def triple(tp: TriplePattern): String =
    s"${term(tp.s)} ${term(tp.p)} ${term(tp.o)} ."

  def term(t: Term): String = t match {
    case Var(n) => s"?$n"
    case Iri(u) => s"<$u>"
    case Lit(lex, dt, lang) =>
      val q = "\"" + Terms.escapeNt(lex) + "\""
      (dt, lang) match {
        // bare numerals round-trip as numerals (the parser tags them)
        case (Some(Terms.XsdInt), _) if lex.matches("[+-]?\\d+")         => lex
        case (Some(Terms.XsdDecimal | Terms.XsdDouble), _)
          if lex.matches("[+-]?\\d*\\.?\\d+([eE][+-]?\\d+)?")            => lex
        case (Some(Terms.XsdBoolean), _) if lex == "true" || lex == "false" => lex
        case (Some(d), _)  => s"$q^^<$d>"
        case (_, Some(l))  => s"$q@$l"
        case _             => q
      }
  }

  def path(ast: PathAst): String = ast match {
    case PathAst.Link(Iri(p))   => s"<$p>"
    case PathAst.Seq2(l, r)     => s"${path(l)}/${path(r)}"
    case PathAst.Alt(l, r)      => s"(${path(l)}|${path(r)})"
    case PathAst.Inv(p)         => s"^${path(p)}"
    case PathAst.Closure(p, z)  => s"(${path(p)})${if (z) "*" else "+"}"
    case PathAst.ZeroOrOne(p)   => s"(${path(p)})?"
    case PathAst.Nps(fwd, inv)  =>
      val members = fwd.map(u => s"<$u>") ++ inv.map(u => s"^<$u>")
      s"!(${members.mkString("|")})"
  }

  /** VALUES block for dependent-join dispatch: lexical key values from the
    * local side become remote terms by shape — IRI scheme ⇒ `<…>`, numeral
    * ⇒ bare (typed comparison at the endpoint), else quoted literal. Null
    * keys are dropped by the caller (they cannot join). */
  def valuesBlock(vars: Seq[String], rows: Seq[Seq[String]]): String = {
    def termOf(lex: String): String =
      if (lex.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")) s"<$lex>"
      else if (lex.matches("[+-]?\\d+") ||
               lex.matches("[+-]?\\d*\\.\\d+([eE][+-]?\\d+)?")) lex
      else "\"" + Terms.escapeNt(lex) + "\""
    val hdr = vars.map("?" + _).mkString("(", " ", ")")
    val body = rows.map(_.map(termOf).mkString("(", " ", ")")).mkString(" ")
    s"VALUES $hdr { $body }"
  }

  def expr(e: Expr): String = e match {
    case Expr.TermRef(t)       => term(t)
    case Expr.Cmp(op, l, r)    => s"(${expr(l)} $op ${expr(r)})"
    case Expr.Arith(op, l, r)  => s"(${expr(l)} $op ${expr(r)})"
    case Expr.And(l, r)        => s"(${expr(l)} && ${expr(r)})"
    case Expr.Or(l, r)         => s"(${expr(l)} || ${expr(r)})"
    case Expr.Not(x)           => s"(!${expr(x)})"
    case Expr.Call("in", subj :: items) =>
      s"(${expr(subj)} IN (${items.map(expr).mkString(", ")}))"
    // aggregate calls in HAVING / projection-expression position — the
    // parser encodes them "agg:<fn>" ("aggd:" under DISTINCT), empty
    // args ⇒ COUNT(*)
    case Expr.Call(name, args) if name.startsWith("agg:") || name.startsWith("aggd:") =>
      aggCall(name.substring(name.indexOf(':') + 1),
        if (name.startsWith("aggd:")) "DISTINCT " else "",
        args.headOption.map(expr), " ")
    case Expr.Call(name, args) =>
      // IRI-named calls (ExprCompiler's xsd cast names are full IRIs) must
      // serialize as <iri>(args) — uppercasing a bare IRI is invalid SPARQL
      val fn = if (name.contains(":")) s"<$name>" else name.toUpperCase
      s"$fn(${args.map(expr).mkString(", ")})"
  }
}
