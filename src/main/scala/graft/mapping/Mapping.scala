package graft.mapping

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** RML-equivalent mapping model (cf. `/root/reference/ontario/model/
  * rml_model.py:8-134`): a molecule maps one backing table to one RDF class,
  * with a subject URI template and per-predicate term maps. Instead of the
  * reference's runtime string re-assembly (`sparql2spark.py:203-221`), term
  * maps compile straight to Catalyst `Column` expressions.
  */

/** URI template `"urn:g:cust:{c_custkey}"` → alternating literal/column
  * parts. Handles multi-column templates (`{a}_{b}`, cf. the reference's
  * list-column case `sparqltosql.py:247-258`). */
final case class Template(parts: List[Either[String, String]]) {
  val columns: List[String] = parts.collect { case Right(c) => c }

  /** Column expression building the URI string (codegen'd concat). */
  def build(resolve: String => Column): Column = {
    val cols = parts.map {
      case Left(litPart) => lit(litPart)
      case Right(c)      => resolve(c).cast("string")
    }
    if (cols.size == 1) cols.head else concat(cols: _*)
  }

  /** Invert a constant URI against this template → per-column lexical values
    * (the reference's constant-subject rewrite, `sparqltosql.py:288-348`).
    * Greedy left-to-right match on the literal separators; None if the
    * constant does not fit the template. */
  def invert(value: String): Option[List[(String, String)]] = {
    def loop(rest: String, ps: List[Either[String, String]],
             acc: List[(String, String)]): Option[List[(String, String)]] =
      ps match {
        case Nil => if (rest.isEmpty) Some(acc.reverse) else None
        case Left(l) :: t =>
          if (rest.startsWith(l)) loop(rest.substring(l.length), t, acc) else None
        case Right(c) :: Left(sep) :: t =>
          val i = rest.indexOf(sep)
          if (i < 0) None
          else loop(rest.substring(i + sep.length), t, (c, rest.substring(0, i)) :: acc)
        case Right(c) :: Nil => Some(((c, rest) :: acc).reverse)
        case Right(_) :: Right(_) :: _ =>
          // ambiguous adjacent columns — unsupported (reference punts too)
          None
      }
    loop(value, parts, Nil)
  }

  /** Canonical signature: two vars built from the same template shape can be
    * joined on the underlying key columns instead of the concat string.
    * Literal delimiter characters are backslash-escaped so the encoding is
    * INJECTIVE — without it a literal like `x)|L(y` produced the same
    * signature as two clean literals, which both mis-joined same-signature
    * templates and let the post-aggregation URI rebuild concat the wrong
    * string (r21 ADVICE). */
  def signature: String = parts.map {
    case Left(l) => "L(" + l.flatMap {
        case '\\' => "\\\\"
        case '|'  => "\\|"
        case '('  => "\\("
        case ')'  => "\\)"
        case c    => c.toString
      } + ")"
    case Right(_) => "C"
  }.mkString("|")
}

object Template {
  /** Parse `"urn:g:cust:{c_custkey}"`. */
  def apply(tmpl: String): Template = {
    val re = """\{([^}]+)\}""".r
    val parts = scala.collection.mutable.ListBuffer[Either[String, String]]()
    var last = 0
    re.findAllMatchIn(tmpl).foreach { m =>
      if (m.start > last) parts += Left(tmpl.substring(last, m.start))
      parts += Right(m.group(1))
      last = m.end
    }
    if (last < tmpl.length) parts += Left(tmpl.substring(last))
    Template(parts.toList)
  }
}

/** Predicate object term map (rml_model.py:66-71 TripleMapType). */
sealed trait TermMap
/** Raw column, keeps the native Spark type (rml:reference).
  * `langColumn` optionally names a sibling column carrying the literal's
  * language tag — the tabular equivalent of the reference's per-binding
  * `xml:lang` (`sparql2spark.py:203-221`); it surfaces to LANG()/
  * LANGMATCHES via a hidden `__lang_<var>` column. */
final case class RefMap(column: String, langColumn: Option[String] = None) extends TermMap
/** URI template over one or more columns (rr:template). */
final case class TemplateMap(template: Template) extends TermMap
/** Constant IRI (rr:constant). */
final case class ConstantMap(value: String) extends TermMap

/** One molecule = rdf:type class + backing table + subject template +
  * predicate maps (the RDF-MT of `rdfmt_model.py:66-98` fused with its
  * single triple map for the local-lake case). `source` simulates the
  * federation membership used for source selection. */
final case class Molecule(
    rdfType: String,
    table: String,
    subject: Template,
    predicates: Map[String, TermMap],
    source: String = "default",
    /** Catalog-level size knowledge: molecules known to stay broadcast-size
      * at full scale (dimension tables) get an explicit broadcast hint so
      * their joins never shuffle — the RDF-MT cardinality metadata of
      * `rdfmt_model.py:66-98` applied the Spark way. */
    broadcastHint: Boolean = false,
    /** Probed instance count (RDF-MT `get_cardinality` stat); -1 unknown. */
    cardinality: Long = -1L)

/** RDF-MT catalog with the predicate inverted index of
  * `/root/reference/ontario/config/__init__.py:63-114`.
  *
  * `links` carries discovered inter-concept links — the RDF-MT range
  * metadata of `create_inter_ds_links` (`rdfmt/__init__.py:791-1030`):
  * `(rdfType, predicate) -> concepts its IRI objects are instances of`.
  * PRESENCE of a key is an authority claim: the catalog builder probed
  * that predicate's objects against every concept in the federation, so
  * the listed ranges are COMPLETE (an empty list means "links to nothing
  * here" and a join through it is provably empty). Absence means unknown
  * — join-link pruning must not fire on it. Tabular catalogs encode the
  * same knowledge structurally as [[TemplateMap]] signatures and leave
  * this empty. */
final case class Catalog(molecules: List[Molecule],
                         links: Map[(String, String), List[String]] = Map.empty) {
  val byType: Map[String, List[Molecule]] = molecules.groupBy(_.rdfType)

  val predIndex: Map[String, List[Molecule]] =
    molecules.flatMap(m => m.predicates.keys.map(_ -> m))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
}
