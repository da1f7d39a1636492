package graft.sources

/** Discovery-query generation for live stores — the probe half of RDF-MT
  * catalog creation (`/root/reference/ontario/rdfmt/__init__.py`) as pure
  * translations, mirroring how [[graft.mapping.CatalogGen]] probes tabular
  * sources. The zero-egress container has no live endpoint/Mongo/Neo4j to
  * answer them, so — like [[DocStoreTranslators]] — the emitted query text
  * IS the wrapper logic and the specs assert it; when a store is reachable
  * the text goes through a transport ([[SparqlHttp]] for SPARQL
  * endpoints) and the answers feed `Molecule` construction.
  *
  * SPARQL discovery follows the reference's exact protocol:
  *   - typed concepts + English labels (`get_typed_concepts`, `:127-131`)
  *   - predicates of a concept (`get_predicates`, `:364-375`)
  *   - rdfs:range then instance-range fallback (`get_rdfs_ranges` `:275-279`,
  *     `find_instance_range` `:319-323`)
  *   - subclasses (`get_subclasses`, `:692-695`)
  *   - cardinalities at every granularity (`get_cardinality`, `:670-690`)
  *   - LIMIT/OFFSET pages with the halve-on-failure retry loop
  *     (`:133-151`) — [[sparqlPaged]] reproduces the windowing; the caller
  *     owns retry state.
  *
  * Mongo/Neo4j have no rdf:type, so discovery maps onto their native
  * introspection: sampled field harvesting / label+key enumeration. Each
  * builder documents the analogue it answers.
  */
object DiscoveryTranslators {

  private val Rdfs = "http://www.w3.org/2000/01/rdf-schema#"

  // ---- SPARQL endpoint discovery -------------------------------------------

  /** All typed concepts with optional English labels
    * (`get_typed_concepts`). */
  val sparqlTypedConcepts: String =
    "SELECT DISTINCT ?t ?label WHERE { ?s a ?t . " +
      s"OPTIONAL { ?t <${Rdfs}label> ?label " +
      "FILTER langMatches(lang(?label), \"EN\") } }"

  /** Predicates used by instances of concept `t` (`get_predicates`). */
  def sparqlPredicates(t: String): String =
    s"SELECT DISTINCT ?p ?label WHERE { ?s a <$t> . ?s ?p ?pt . " +
      s"OPTIONAL { ?p <${Rdfs}label> ?label " +
      "FILTER langMatches(lang(?label), \"EN\") } }"

  /** Declared ranges of predicate `p` (`get_rdfs_ranges`). */
  def sparqlRdfsRanges(p: String): String =
    s"SELECT DISTINCT ?range WHERE { <$p> <${Rdfs}range> ?range }"

  /** Instance-observed ranges of `p` on concept `t` — the fallback when no
    * rdfs:range is declared (`find_instance_range`). */
  def sparqlInstanceRange(t: String, p: String): String =
    s"SELECT DISTINCT ?r WHERE { ?s a <$t> . ?s <$p> ?pt . ?pt a ?r }"

  /** Direct subclasses of `root` (`get_subclasses`). */
  def sparqlSubclasses(root: String): String =
    s"SELECT DISTINCT ?subc WHERE { <${root.replace(" ", "_")}> " +
      s"<${Rdfs}subClassOf> ?subc }"

  /** Cardinality at the four granularities of `get_cardinality`:
    * whole endpoint / concept / concept+predicate / concept+predicate+range
    * (object-class or datatype). */
  def sparqlCardinality(concept: Option[String] = None,
                        predicate: Option[String] = None,
                        range: Option[String] = None,
                        rangeIsDatatype: Boolean = false): String =
    (concept.map(_.replace(" ", "_")), predicate, range.map(_.replace(" ", "_"))) match {
      case (None, _, _) =>
        "SELECT (COUNT(*) AS ?count) WHERE { ?s ?p ?o }"
      case (Some(t), None, _) =>
        s"SELECT (COUNT(?s) AS ?count) WHERE { ?s a <$t> }"
      case (Some(t), Some(p), None) =>
        s"SELECT (COUNT(?s) AS ?count) WHERE { ?s a <$t> . ?s <$p> ?o }"
      case (Some(t), Some(p), Some(r)) if rangeIsDatatype =>
        s"SELECT (COUNT(?s) AS ?count) WHERE { ?s a <$t> . ?s <$p> ?o . " +
          s"FILTER(datatype(?o) = <$r>) }"
      case (Some(t), Some(p), Some(r)) =>
        s"SELECT (COUNT(?s) AS ?count) WHERE { ?s a <$t> . ?s <$p> ?o . ?o a <$r> }"
    }

  /** One page of any discovery query — the reference appends LIMIT/OFFSET
    * and walks offsets until a short page, halving the limit when an
    * endpoint rejects the window. */
  def sparqlPaged(query: String, limit: Int, offset: Long): String =
    s"$query LIMIT $limit OFFSET $offset"

  // ---- MongoDB discovery ----------------------------------------------------

  /** Typed-concept analogue: collections are the concepts; per collection
    * the field universe is harvested from a bounded sample (`$sample` keeps
    * the probe O(sampleSize), never a collection scan) — the document-store
    * counterpart of `get_predicates`. Emits an aggregation pipeline. */
  def mongoFieldHarvest(sampleSize: Int = 1000): String =
    s"""[{"$$sample": {"size": $sampleSize}}, """ +
      """{"$project": {"kv": {"$objectToArray": "$$ROOT"}}}, """ +
      """{"$unwind": "$kv"}, """ +
      """{"$group": {"_id": "$kv.k", "n": {"$sum": 1}, """ +
      """"types": {"$addToSet": {"$type": "$kv.v"}}}}]"""

  /** Collection cardinality; with a field, the count of documents carrying
    * it (predicate cardinality — `get_cardinality(mt, prop)`). */
  def mongoCardinality(field: Option[String] = None): String = field match {
    case None => """[{"$count": "count"}]"""
    case Some(f) =>
      s"""[{"$$match": {"$f": {"$$exists": true, "$$ne": null}}}, """ +
        """{"$count": "count"}]"""
  }

  // ---- Neo4j / Cypher discovery --------------------------------------------

  /** Typed concepts = node labels. */
  val cypherLabels: String =
    "MATCH (n) UNWIND labels(n) AS t RETURN DISTINCT t"

  /** Property keys of a label (`get_predicates` analogue). */
  def cypherPredicates(label: String): String =
    s"MATCH (n:`$label`) UNWIND keys(n) AS p RETURN DISTINCT p"

  /** Outgoing relationship types of a label — the graph-store counterpart
    * of object-property discovery. */
  def cypherRelTypes(label: String): String =
    s"MATCH (n:`$label`)-[r]->() RETURN DISTINCT type(r) AS p"

  /** Ranges of a relationship: labels of its target nodes
    * (`find_instance_range` analogue). */
  def cypherInstanceRange(label: String, relType: String): String =
    s"MATCH (n:`$label`)-[r:`$relType`]->(m) " +
      "UNWIND labels(m) AS range RETURN DISTINCT range"

  /** Label cardinality; with a property, the count of nodes carrying it. */
  def cypherCardinality(label: String, property: Option[String] = None): String =
    property match {
      case None    => s"MATCH (n:`$label`) RETURN count(n) AS count"
      case Some(p) => s"MATCH (n:`$label`) WHERE n.`$p` IS NOT NULL " +
        "RETURN count(n) AS count"
    }
}
