package graft.sources

import graft.algebra._
import graft.mapping._

/** Star → document/graph-store query translation — the reference's MongoDB
  * and Neo4j wrapper logic (`/root/reference/ontario/wrappers/mongodb/
  * sparql2mongo.py:80-243` and `ontario/wrappers/neo4j/sparql2cypher.py:
  * 243-343`) re-expressed over the molecule catalog. The zero-egress bench
  * container has no Mongo/Neo4j to connect to, so the translators emit the
  * native queries (an aggregation pipeline / a Cypher statement) and the
  * specs assert them; transport is a connector's concern, as
  * [[SparqlHttp]] is for SPARQL endpoints. When a store IS reachable, the
  * emitted pipeline goes to the connector and rows come back through the
  * normal `load(table)` path — translation, not execution, is the
  * wrapper's logic.
  */
object DocStoreTranslators {

  private def localName(iri: String): String = {
    val i = math.max(iri.lastIndexOf('/'), math.max(iri.lastIndexOf('#'), iri.lastIndexOf(':')))
    iri.substring(i + 1)
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Star → MongoDB aggregation pipeline (JSON array string).
    *
    * Mirrors `sparql2mongo.translate/translate_4_col/get_match_clause`:
    *  - constant objects invert to `$match` equalities on the mapped field;
    *  - variable objects add exists / non-null guards and a `$project`
    *    field → variable rename;
    *  - constant subjects invert the subject template into key matches;
    *  - variable subjects project the subject key columns (the client
    *    re-applies the URI template, `sparql2mongo.py:44-79`);
    *  - LIMIT/OFFSET append `$limit`/`$skip` (`translate :103-114`).
    */
  def toMongoPipeline(subject: Term, triples: List[TriplePattern], m: Molecule,
                      limit: Option[Long] = None, offset: Option[Long] = None): String = {
    val matches = scala.collection.mutable.LinkedHashMap[String, String]()
    val projects = scala.collection.mutable.LinkedHashMap[String, String]()

    subject match {
      case Var(v) =>
        m.subject.columns.zipWithIndex.foreach { case (c, i) =>
          matches(c) = s"{${q("$exists")}: true, ${q("$ne")}: null}"
          projects(s"__k_${v}_$i") = q("$" + c)
        }
      case Iri(u) => m.subject.invert(u).getOrElse(Nil).foreach {
        case (c, lex) => matches(c) = q(lex)
      }
      case Lit(lex, _, _) => m.subject.invert(lex).getOrElse(Nil).foreach {
        case (c, l) => matches(c) = q(l)
      }
    }

    triples.foreach { tp =>
      (tp.p, tp.o) match {
        case (Iri(Terms.RdfType), _) => () // class pins the collection itself
        case (Iri(p), o) => m.predicates.get(p).foreach {
          case RefMap(c, _) => o match {
            case Var(v) =>
              matches.getOrElseUpdate(c, s"{${q("$exists")}: true, ${q("$ne")}: null}")
              projects(v) = q("$" + c)
            case Lit(lex, _, _) => matches(c) = q(lex)
            case Iri(u)         => matches(c) = q(u)
          }
          case TemplateMap(t) => o match {
            case Var(v) =>
              t.columns.foreach { c =>
                matches.getOrElseUpdate(c, s"{${q("$exists")}: true, ${q("$ne")}: null}")
              }
              t.columns.zipWithIndex.foreach { case (c, i) =>
                projects(s"__k_${v}_$i") = q("$" + c)
              }
            case Iri(u)         => t.invert(u).getOrElse(Nil).foreach {
              case (c, lex) => matches(c) = q(lex)
            }
            case Lit(lex, _, _) => t.invert(lex).getOrElse(Nil).foreach {
              case (c, l) => matches(c) = q(l)
            }
          }
          case ConstantMap(_) => () // constant term map constrains nothing
        }
        case _ => ()
      }
    }

    val stages = scala.collection.mutable.ListBuffer[String]()
    if (matches.nonEmpty)
      stages += s"{${q("$match")}: {${matches.map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")}}}"
    if (projects.nonEmpty)
      stages += s"{${q("$project")}: {${projects.map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")}}}"
    offset.foreach(n => stages += s"{${q("$skip")}: $n}")
    limit.foreach(n => stages += s"{${q("$limit")}: $n}")
    s"[${stages.mkString(", ")}]"
  }

  /** Star → Cypher (`sparql2cypher.translate/translate_4_col`):
    * `MATCH (n:Label)` with equality WHERE terms for constant objects,
    * `RETURN n.col AS var` for variable objects; link predicates
    * (TemplateMap pointing at another molecule's subject shape) become
    * relationship patterns `(n)-[:pred]->(vN:OtherLabel)` with the target's
    * key returned — the graph-native join the reference emits for
    * star-internal edges. */
  def toCypher(subject: Term, triples: List[TriplePattern], m: Molecule,
               catalog: Catalog, limit: Option[Long] = None,
               offset: Option[Long] = None): String = {
    val label = localName(m.rdfType)
    val where = scala.collection.mutable.ListBuffer[String]()
    val ret = scala.collection.mutable.LinkedHashMap[String, String]()
    val rels = scala.collection.mutable.ListBuffer[String]()
    var relCount = 0

    subject match {
      case Var(v) =>
        m.subject.columns.zipWithIndex.foreach { case (c, i) =>
          ret(s"__k_${v}_$i") = s"n.$c"
          where += s"n.$c IS NOT NULL"
        }
      case Iri(u) => m.subject.invert(u).getOrElse(Nil).foreach {
        case (c, lex) => where += s"n.$c = ${q(lex)}"
      }
      case Lit(lex, _, _) => m.subject.invert(lex).getOrElse(Nil).foreach {
        case (c, l) => where += s"n.$c = ${q(l)}"
      }
    }

    triples.foreach { tp =>
      (tp.p, tp.o) match {
        case (Iri(Terms.RdfType), _) => () // the MATCH label
        case (Iri(p), o) => m.predicates.get(p).foreach {
          case RefMap(c, _) => o match {
            case Var(v)         => ret(v) = s"n.$c"; where += s"n.$c IS NOT NULL"
            case Lit(lex, _, _) => where += s"n.$c = ${q(lex)}"
            case Iri(u)         => where += s"n.$c = ${q(u)}"
          }
          case TemplateMap(t) =>
            // a template link to another molecule's subject = a relationship
            val target = catalog.molecules.find(_.subject.signature == t.signature)
            (o, target) match {
              case (Var(v), Some(tm)) =>
                relCount += 1
                val nv = s"m$relCount"
                rels += s"(n)-[:${localName(p)}]->($nv:${localName(tm.rdfType)})"
                tm.subject.columns.zipWithIndex.foreach { case (c, i) =>
                  ret(s"__k_${v}_$i") = s"$nv.$c"
                }
              case (Var(v), None) => // plain property holding the key columns
                t.columns.zipWithIndex.foreach { case (c, i) =>
                  ret(s"__k_${v}_$i") = s"n.$c"; where += s"n.$c IS NOT NULL"
                }
              case (Iri(u), _) => t.invert(u).getOrElse(Nil).foreach {
                case (c, lex) => where += s"n.$c = ${q(lex)}"
              }
              case (Lit(lex, _, _), _) => t.invert(lex).getOrElse(Nil).foreach {
                case (c, l) => where += s"n.$c = ${q(l)}"
              }
            }
          case ConstantMap(_) => ()
        }
        case _ => ()
      }
    }

    val matchClause = (s"(n:$label)" :: rels.toList).mkString("MATCH ", ", MATCH ", "")
    val whereClause = if (where.isEmpty) "" else where.distinct.mkString(" WHERE ", " AND ", "")
    val retClause = ret.map { case (as, e) => s"$e AS $as" }.mkString(" RETURN ", ", ", "")
    val page = offset.fold("")(n => s" SKIP $n") + limit.fold("")(n => s" LIMIT $n")
    matchClause + whereClause + retClause + page
  }
}
