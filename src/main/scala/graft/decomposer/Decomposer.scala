package graft.decomposer

import graft.algebra._
import graft.mapping.{Catalog, Molecule, TemplateMap}

/** Star decomposition + source selection.
  *
  * Reimplements the reference's `MediatorCatalyst` decomposition
  * (`/root/reference/ontario/mediator/Decomposer.py:120-335`): group the
  * BGP's triples by subject term into star-shaped subqueries, then match
  * each star to candidate sources. A source is a *class group* of triple
  * maps: the reference maps one class across many per-predicate tables
  * (demo/mappings/tsv/chebi — one TSV per predicate), so a star may need
  * several fragments of the same class self-joined on the subject template
  * (`sparqltosql.py:446-481` join_condition). Pure Scala, no Spark
  * dependency.
  */

/** One triple map's share of a star. */
final case class Fragment(molecule: Molecule, triples: List[TriplePattern])

/** One way to answer a star: fragments of a single class, joined on the
  * shared subject. Alternative sources union. */
final case class StarSource(fragments: List[Fragment]) {
  def primary: Molecule = fragments.head.molecule
  def providerOf(pred: String): Option[Molecule] =
    fragments.map(_.molecule).find(_.predicates.contains(pred))
}

final case class Star(
    subject: Term,
    triples: List[TriplePattern],
    sources: List[StarSource]) {
  def vars: Set[String] = triples.flatMap(_.vars).toSet
}

/** Thrown when no molecule in the catalog can answer a star (or when
  * join-link pruning eliminates every candidate). Group-scoped patterns
  * (OPTIONAL / UNION branch / MINUS / EXISTS) catch this in the compiler
  * and apply SPARQL's empty-pattern semantics — the reference instead
  * aborts the whole query on ANY unmatched star (`Decomposer.py`), which
  * breaks legitimate queries like the discovery protocol's
  * `OPTIONAL { ?t rdfs:label ?label }` against a label-less catalog. A
  * required (top-level) pattern still propagates it to the user. */
final class NoSourceException(msg: String) extends IllegalArgumentException(msg)

/** Thrown when join-link pruning PROVES a BGP empty: every candidate
  * source pair has incompatible subject/object URI templates, so no row
  * can ever join. Unlike [[NoSourceException]] ("the federation cannot
  * answer this"), this is "the answer is the empty bag" — the compiler
  * materializes zero rows over the pattern's variables, which is what a
  * discovery probe counting `?s a <A> . ?s <p> ?o . ?o a <B>` for a
  * non-linked (A, p, B) needs: count 0, not an error. */
final class ProvablyEmptyException(msg: String) extends IllegalArgumentException(msg)

object Decomposer {

  /** Group BGP triples into stars by subject (bgp_stars,
    * Decomposer.py:120-136) preserving first-appearance order, then prune
    * candidates by join-link consistency. */
  def decompose(triples: List[TriplePattern], catalog: Catalog): List[Star] = {
    val order = scala.collection.mutable.LinkedHashMap[Term, List[TriplePattern]]()
    triples.foreach { t =>
      order(t.s) = order.getOrElse(t.s, Nil) :+ t
    }
    prune(order.map { case (subj, ts) => makeStar(subj, ts, catalog) }.toList,
      catalog.links)
  }

  private def makeStar(subj: Term, ts: List[TriplePattern], catalog: Catalog): Star = {
    val typeConst: Option[String] = ts.collectFirst {
      case TriplePattern(_, Iri(Terms.RdfType), Iri(cls)) => cls
    }
    val constPreds: Set[String] = ts.collect {
      case TriplePattern(_, Iri(p), _) if p != Terms.RdfType => p
    }.toSet
    val hasVarPred = ts.exists(_.p.isInstanceOf[Var])

    def subjectOk(m: Molecule): Boolean = subj match {
      case Iri(u) => m.subject.invert(u).isDefined
      case _      => true
    }

    val sources: List[StarSource] =
      if (hasVarPred && constPreds.isEmpty && typeConst.isEmpty) {
        // ?s ?p ?o probe: every molecule separately (wrappers enumerate maps)
        catalog.molecules.filter(subjectOk).map(m => StarSource(List(Fragment(m, ts))))
      } else {
        // union across data sources, self-join across triple maps *within*
        // one source (the reference's Service-per-datasource grouping,
        // utility.py:76-98, vs. intra-source table self-joins)
        catalog.byType.toList.sortBy(_._1).flatMap { case (cls, all) =>
          if (typeConst.exists(_ != cls)) Nil
          else all.filter(subjectOk).groupBy(_.source).toList.sortBy(_._1)
            .flatMap { case (_, members0) =>
            val members = members0.sortBy(_.table)
            // assign each constant-predicate triple to the first member
            // providing it; class qualifies only if every triple lands
            val assignment = scala.collection.mutable.LinkedHashMap[Molecule, List[TriplePattern]]()
            var ok = members.nonEmpty
            ts.foreach {
              case t @ TriplePattern(_, Iri(p), _) if p != Terms.RdfType =>
                members.find(_.predicates.contains(p)) match {
                  case Some(m) => assignment(m) = assignment.getOrElse(m, Nil) :+ t
                  case None    => ok = false
                }
              case _ => () // rdf:type triples attach to the first fragment below
            }
            if (!ok) None
            else {
              val typeTs = ts.filter(_.p == Iri(Terms.RdfType))
              val frags =
                if (assignment.isEmpty) List(Fragment(members.head, typeTs))
                else {
                  val fs = assignment.toList.map { case (m, mts) => Fragment(m, mts) }
                  fs.headOption.map(h => h.copy(triples = typeTs ++ h.triples)).toList ++ fs.tail
                }
              Some(StarSource(frags))
            }
          }
        }
      }
    // (end class × source grouping)
    if (sources.isEmpty)
      throw new NoSourceException(
        s"no source matches star on $subj with predicates $constPreds" +
          typeConst.fold("")(c => s" (rdf:type <$c>)"))
    Star(subj, ts, sources)
  }

  /** Link-consistency pruning (the reference's RDF-MT range pruning,
    * `Decomposer.py:209-287`): when a variable is produced as a template
    * URI by one star's predicate and consumed as another star's subject (or
    * produced by two stars), the template signatures must agree — sources
    * whose signatures cannot match any counterpart are dropped. Runs to
    * fixpoint. A variable with any non-template (RefMap) usage is left
    * unpruned by the signature pass; a second, link-metadata pass covers
    * exactly that case for wire-probed catalogs: when the catalog declares
    * complete range knowledge for (rdfType, predicate) ([[Catalog.links]],
    * `create_inter_ds_links` parity), a shared variable's possible concept
    * set is the intersection across its usages, and candidate sources whose
    * declared concepts miss it are dropped. Both passes share one fixpoint
    * loop. */
  private def prune(stars: List[Star],
                    links: Map[(String, String), List[String]] = Map.empty): List[Star] = {
    val current = stars.toArray

    val usages = scala.collection.mutable.Map[String, List[Either[Int, (Int, String)]]]()
    current.zipWithIndex.foreach { case (st, i) =>
      st.subject match {
        case Var(v) => usages(v) = usages.getOrElse(v, Nil) :+ Left(i)
        case _      => ()
      }
      st.triples.foreach {
        case TriplePattern(_, Iri(p), Var(v)) if p != Terms.RdfType =>
          usages(v) = usages.getOrElse(v, Nil) :+ Right((i, p))
        case _ => ()
      }
    }

    def sigsOf(src: StarSource, usage: Either[Int, (Int, String)]): Option[String] =
      usage match {
        case Left(_) => Some(src.primary.subject.signature)
        case Right((_, p)) => src.providerOf(p).flatMap(_.predicates.get(p)) match {
          case Some(TemplateMap(t)) => Some(t.signature)
          case _                    => None // RefMap/constant: unconstrained
        }
      }

    // link-metadata view of a usage: the set of concepts the variable can
    // be an instance of under this source — Some only when the catalog has
    // authoritative knowledge (a subject star instance IS its molecule's
    // class; an object is constrained only when [[Catalog.links]] declares
    // the predicate's probed ranges). None = no claim, never prunes.
    def conceptsOf(src: StarSource, usage: Either[Int, (Int, String)]): Option[Set[String]] =
      usage match {
        case Left(_) => Some(Set(src.primary.rdfType))
        case Right((_, p)) =>
          src.providerOf(p).flatMap(m => links.get((m.rdfType, p)).map(_.toSet))
      }

    var changed = true
    var rounds = 0
    while (changed && rounds < 8) {
      changed = false
      rounds += 1
      usages.foreach { case (_, us) =>
        if (us.size > 1) {
          val perUsage = us.map { u =>
            val idx = u.fold(identity, _._1)
            val sigs = current(idx).sources.flatMap(s => sigsOf(s, u)).toSet
            (u, idx, sigs,
              current(idx).sources.exists(s => sigsOf(s, u).isEmpty))
          }
          if (!perUsage.exists(_._4)) {
            val common = perUsage.map(_._3).reduce(_ intersect _)
            perUsage.foreach { case (u, idx, _, _) =>
              val kept = current(idx).sources.filter(s =>
                sigsOf(s, u).forall(common.contains))
              if (kept.size != current(idx).sources.size) {
                if (kept.isEmpty)
                  throw new ProvablyEmptyException(
                    s"join-link pruning left no source for star on ${current(idx).subject}")
                current(idx) = current(idx).copy(sources = kept)
                changed = true
              }
            }
          }
          // link-metadata pass: a usage whose sources ALL carry concept
          // claims contributes the union of its claims; the variable's
          // possible concepts are the intersection of contributing usages,
          // and every usage's sources are filtered against the constraint
          // the OTHER usages impose (an unconstrained source survives).
          // Gated on a subject usage being present: a star subject is an
          // IRI by construction, so only IRI objects can ever join and the
          // probed ranges are authoritative; for object-object-only joins
          // a mixed literal/IRI predicate could still join on literal
          // values the ranges say nothing about, so we never prune there.
          if (links.nonEmpty && us.exists(_.isLeft)) {
            val perLink = us.map { u =>
              val idx = u.fold(identity, _._1)
              val per = current(idx).sources.map(s => conceptsOf(s, u))
              val agg: Option[Set[String]] =
                if (per.exists(_.isEmpty)) None
                else Some(per.flatMap(_.get).toSet)
              (u, idx, agg)
            }
            perLink.zipWithIndex.foreach { case ((u, idx, _), k) =>
              val others = perLink.zipWithIndex
                .collect { case ((_, _, Some(s)), j) if j != k => s }
              if (others.nonEmpty) {
                val constraint = others.reduce(_ intersect _)
                val kept = current(idx).sources.filter(s =>
                  conceptsOf(s, u).forall(cs => (cs intersect constraint).nonEmpty))
                if (kept.size != current(idx).sources.size) {
                  if (kept.isEmpty)
                    throw new ProvablyEmptyException(
                      s"inter-concept link pruning left no source for star on ${current(idx).subject}")
                  current(idx) = current(idx).copy(sources = kept)
                  changed = true
                }
              }
            }
          }
        }
      }
    }
    current.toList
  }
}
