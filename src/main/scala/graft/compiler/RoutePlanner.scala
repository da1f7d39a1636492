package graft.compiler

import scala.util.control.NonFatal

import graft.algebra._
import graft.decomposer.{Decomposer, Star}
import graft.mapping.Catalog

/** Cost-based whole-query dispatch: per query, estimate the rows each
  * route moves over the wire and pick the cheaper one — the reference's
  * planner heuristics (`ontario/mediator/Tree.py:343-420` ranks sources
  * by `getdsscore` selectivity scores; `Planner.py:261-293` picks join
  * methods from the same statistics) done with the REAL statistics the
  * probed RDF-MT catalog already holds, instead of an all-or-nothing
  * opt-in flag.
  *
  * The two candidate routes for a query whose every star lives on one
  * endpoint ([[QueryShip.shippable]]):
  *
  *  - LOCAL (per-concept scans): each star's concept pages over the
  *    wire (column-pruned, FILTER-pushed, bind-join-filtered at
  *    runtime) and the joins/aggregates run here. Transfer ≈ the SUM of
  *    the per-star scan estimates.
  *  - SHIPPED (whole query): only FINAL result rows transit. Transfer ≈
  *    the result-cardinality estimate (+ one COUNT probe the paged mode
  *    pays either way).
  *
  * Estimates reuse the compiler's own arithmetic so routing and join
  * ordering never disagree about what is big: a star scan starts from
  * the probed molecule cardinality, pins to 1 on a bound subject and
  * discounts 10× per bound object (`Compiler.compileFragment`); shared-
  * var joins take the MAX side (FK-shaped, `Compiler.join2`), var-
  * disjoint joins multiply saturating; UNION adds; a GROUP BY divides
  * by 10 (order-of-magnitude reduction — like every factor here it only
  * has to RANK the routes, not predict throughput); LIMIT caps; ASK is
  * one boolean document.
  *
  * The decision is asymmetric by design: ship only on a CLEAR win
  * ([[RouteEstimate.ship]] requires the shipped route to move at least
  * [[ShipMargin]]× fewer rows), because the local route keeps this
  * compiler authoritative for SPARQL semantics while shipping trusts
  * the remote engine end-to-end — a tie routes local. Unknown
  * cardinalities (unprobed molecules, property-path closures, SERVICE)
  * taint the estimate and also route local.
  */
object RoutePlanner {

  /** Ship only when the shipped route moves at least this factor fewer
    * rows than the local one. The margin absorbs the estimate's
    * crudeness AND prices the semantics risk of trusting the remote
    * engine: near parity, staying local costs ~nothing and keeps this
    * compiler authoritative. */
  val ShipMargin = 2L

  private val Unknown = -1L

  final case class RouteEstimate(localRows: Long, shippedRows: Long) {
    def known: Boolean = localRows >= 0 && shippedRows >= 0
    def ship: Boolean = known && shippedRows <= localRows / ShipMargin
    def describe: String =
      if (!known) "unknown cardinality — local is authoritative"
      else s"shipped≈$shippedRows rows vs local≈$localRows rows"
  }

  private def sat(a: Long, b: Long): Long =
    if (a < 0 || b < 0) Unknown
    else if (a > Long.MaxValue - b) Long.MaxValue
    else a + b

  private def satMul(a: Long, b: Long): Long =
    if (a < 0 || b < 0) Unknown
    else if (a > 0 && b > Long.MaxValue / a) Long.MaxValue
    else a * b

  /** Wire transfer of one star's concept scan under the LOCAL route:
    * min candidate-fragment cardinality per source (fragments of one
    * source self-join on the subject), summed over alternative sources
    * (they union), with the compiler's own constant discounts. */
  private def starScan(st: Star): Long = {
    // the rdf:type triple selects the molecule (its cardinality already
    // reflects it) — only NON-type constants discount further
    val boundObjs = st.triples.count(t =>
      !t.o.isInstanceOf[Var] && t.p != Iri(Terms.RdfType))
    val boundSubject = !st.subject.isInstanceOf[Var]
    st.sources.map { src =>
      val cards = src.fragments.map(_.molecule.cardinality)
      if (cards.exists(_ < 0)) Unknown
      else if (boundSubject) 1L
      else (0 until boundObjs).foldLeft(cards.min)((c, _) =>
        math.max(1L, c / 10))
    }.foldLeft(0L)(sat)
  }

  /** Bind-join modeling constants, mirroring the runtime machinery: the
    * DSv2 scans accept runtime IN-filters up to 10k build keys
    * ([[graft.sources.SparqlQuerySource]]/`SparqlEndpointSource`
    * MaxBoundKeys), and a filtered scan is priced at `BindFanout` rows
    * per build key (the FK-fanout allowance — a constant with the same
    * job as the 10× constant discount: ranking, not prediction). Public:
    * the exclusive-GROUP rung prices its ship decision with the same
    * model ([[groupTransfer]]), so the ladder never disagrees with the
    * whole-query route about what a bind join is worth. */
  val BindKeyCap = 10000L
  val BindFanout = 4L

  /** Per-backend transfer weight — the reference's source-TYPE ranking
    * (`Tree.py:381-420` `getdsscore` scores a star by its source's
    * capabilities before cardinality tie-breaks) done as a multiplier on
    * the probed cardinality: in a MIXED federation the join order should
    * prefer pulling N rows from the local lake over N rows from a wire
    * backend, and among wire backends prefer the cheaper transport.
    * Weights, smallest first:
    *
    *  - local lake / unrecognized (1): columnar splits inside the
    *    cluster, no wire;
    *  - JDBC (2): one row cursor over a single connection — compact
    *    rows, no paging overhead, but serial;
    *  - document/graph stores (3): per-document/record re-serialization
    *    (BSON / Bolt records) plus cursor paging;
    *  - SPARQL endpoints (4): HTTP paging with per-page request overhead
    *    AND row-per-binding verbosity (measured in SCALE.md "Round-14:
    *    endpoint query dispatch — transfer economics measured").
    *
    * Like every constant in this model the weight only has to RANK the
    * alternatives, not predict throughput; equal-weight stars keep the
    * pure cardinality order, so single-backend federations are
    * unchanged. */
  def backendWeight(source: String): Long = {
    val s = source.toLowerCase
    if (s.startsWith("http://") || s.startsWith("https://")) 4L
    else if (s.startsWith("mongodb") || s.startsWith("bolt:") ||
      s.startsWith("neo4j")) 3L
    else if (s.startsWith("jdbc:")) 2L
    else 1L
  }

  /** LOCAL-route transfer for one connected star group, from the
    * members' cardinality estimates: bind-join-aware sum (see
    * [[bgpEst]]); Unknown taints. Used by the whole-query estimator and
    * by `Compiler.shipComponent`'s per-group auto decision. */
  def groupTransfer(cards: Seq[Long]): Long = {
    if (cards.isEmpty || cards.exists(_ < 0)) return Unknown
    val smallest = cards.min
    val priced =
      if (cards.size >= 2 && smallest <= BindKeyCap)
        cards.map(c => math.min(c, smallest * BindFanout))
      else cards
    priced.foldLeft(0L)(sat)
  }

  /** (local scan-transfer sum, result-cardinality estimate) for a BGP:
    * stars sharing variables join FK-style (max side), variable-disjoint
    * components multiply.
    *
    * The LOCAL side models the runtime bound join: within a connected
    * component whose smallest star is selective (≤ [[BindKeyCap]] est.
    * rows), every other member's scan is priced at
    * `min(scan, smallest · BindFanout)` — the dynamic-pruning path
    * delivers the build side's keys to the remote scans as SPARQL IN,
    * so a selective build makes the whole component's transfer track
    * the build, not the raw concept sizes. This is what makes
    * "selective local build ⇒ stay local" a priced decision instead of
    * a tie-break. */
  private def bgpEst(ts: List[TriplePattern], catalog: Catalog): (Long, Long) = {
    val stars =
      try Decomposer.decompose(ts, catalog)
      catch { case NonFatal(_) => return (Unknown, Unknown) }
    val ests = stars.map(st => st -> starScan(st))
    if (ests.exists(_._2 < 0)) return (Unknown, Unknown)
    // connected components over shared vars — same grouping the
    // exclusive-group dispatch uses
    val remaining = scala.collection.mutable.ListBuffer(ests: _*)
    var result = 1L
    var local = 0L
    while (remaining.nonEmpty) {
      var comp = List(remaining.remove(0))
      var vars = comp.head._1.vars
      var grew = true
      while (grew) {
        val i = remaining.indexWhere(_._1.vars.exists(vars.contains))
        grew = i >= 0
        if (grew) {
          val e = remaining.remove(i)
          comp ::= e
          vars ++= e._1.vars
        }
      }
      val cards = comp.map(_._2)
      local = sat(local, groupTransfer(cards))
      result = satMul(result, cards.max)
    }
    (local, result)
  }

  /** (local transfer, result estimate) for a pattern tree. Any node the
    * estimator cannot price (paths page a fixpoint; SERVICE routes
    * elsewhere) taints BOTH numbers — the caller routes local. */
  private def walk(p: Pattern, catalog: Catalog): (Long, Long) = p match {
    case Pattern.Bgp(ts) if ts.nonEmpty => bgpEst(ts, catalog)
    case Pattern.Bgp(_)                 => (0L, 1L)
    case Pattern.Join(l, r) =>
      val (ll, lr) = walk(l, catalog)
      val (rl, rr) = walk(r, catalog)
      val res =
        if (lr < 0 || rr < 0) Unknown
        else if ((l.vars intersect r.vars).nonEmpty) math.max(lr, rr)
        else satMul(lr, rr)
      (sat(ll, rl), res)
    case Pattern.Union(l, r) =>
      val (ll, lr) = walk(l, catalog)
      val (rl, rr) = walk(r, catalog)
      (sat(ll, rl), sat(lr, rr))
    case Pattern.LeftJoin(l, r, _) =>
      val (ll, lr) = walk(l, catalog)
      val (rl, rr) = walk(r, catalog)
      (sat(ll, rl), if (lr < 0 || rr < 0) Unknown else math.max(lr, rr))
    case Pattern.Minus(l, r) =>
      val (ll, lr) = walk(l, catalog)
      val (rl, _) = walk(r, catalog)
      (sat(ll, rl), lr) // MINUS/EXISTS only remove left rows
    case Pattern.Exists(l, r, _) =>
      val (ll, lr) = walk(l, catalog)
      val (rl, _) = walk(r, catalog)
      (sat(ll, rl), lr)
    case Pattern.Filter(_, p0)    => walk(p0, catalog)
    case Pattern.Extend(p0, _, _) => walk(p0, catalog)
    case Pattern.Values(_, rows)  => (0L, rows.size.toLong)
    case Pattern.SubSelect(sq) =>
      val (l, _) = walk(sq.pattern, catalog)
      (l, resultEst(sq, catalog))
    case _: Pattern.Path    => (Unknown, Unknown)
    case _: Pattern.Service => (Unknown, Unknown)
  }

  /** Result-cardinality estimate of a whole query: the pattern estimate
    * through the solution modifiers. */
  private def resultEst(q: Query, catalog: Catalog): Long = {
    val (_, res0) = walk(q.pattern, catalog)
    if (res0 < 0) return Unknown
    if (q.form == AskForm) return 1L
    var res = res0
    if (q.hasAggregates)
      res = if (q.groupBy.isEmpty) 1L else math.max(1L, res / 10)
    q.limit.foreach(n => res = math.min(res, n + q.offset.getOrElse(0L)))
    res
  }

  /** The route decision for a [[QueryShip.shippable]] query. */
  def estimate(q: Query, catalog: Catalog): RouteEstimate = {
    val (local, _) = walk(q.pattern, catalog)
    RouteEstimate(local, if (local < 0) Unknown else resultEst(q, catalog))
  }
}
