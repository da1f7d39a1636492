package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

import graft.compiler.Compiler
import graft.mapping.Catalog
import graft.parser.SparqlParser

/** Public entry point — the Spark-native `Ontario(config).sparql(query)`
  * (cf. `/root/reference/run_query.py:1-60`): parse → decompose/source-select
  * → compile to one lazy DataFrame. One shared SparkSession (the reference
  * boots a fresh SparkSession per query, `sparql2spark.py:103-112` — an
  * anti-pattern this rebuild eliminates).
  */
final class Graft(val catalog: Catalog, tableLoader: String => DataFrame,
                  ship: Option[graft.compiler.QueryShip.Config] = None,
                  groupShip: Option[graft.compiler.QueryShip.GroupShip] = None)
                 (implicit spark: SparkSession) {

  private val cache = TrieMap[String, DataFrame]()
  private val compiler = new Compiler(
    catalog, t => cache.getOrElseUpdate(t, tableLoader(t)), groupShip)

  /** Execute a SPARQL query, returning the lazy result DataFrame. When
    * this Graft fronts a single SPARQL endpoint with whole-query dispatch
    * enabled, a shippable query goes to the endpoint verbatim
    * ([[graft.compiler.QueryShip]]) — the local compile still supplies the
    * result schema, so both paths agree column-for-column. */
  def sparql(query: String): DataFrame =
    route(SparqlParser.parseUnsafe(query))._2

  /** (dispatch description, result frame) — one routing for [[sparql]]
    * and [[explain]], so the report always describes the plan actually
    * taken. Under an `auto` config the ship-vs-local choice is a
    * PER-QUERY cost decision ([[graft.compiler.RoutePlanner]]): the
    * probed cardinalities estimate the rows each route moves, and the
    * description carries both numbers so `explain` proves which way —
    * and why — the route went. */
  private def route(q: graft.algebra.Query): (String, DataFrame) =
    ship match {
      case Some(cfg) if graft.compiler.QueryShip.shippable(q, cfg) =>
        val est = Option.when(cfg.auto)(
          graft.compiler.RoutePlanner.estimate(q, catalog))
        if (est.forall(_.ship))
          (s"whole-query dispatch -> ${cfg.endpoint}" +
            est.fold("")(e => s" (route: ${e.describe})"),
            graft.compiler.QueryShip.ship(q, cfg,
              compiler.compile(graft.compiler.QueryShip.schemaProxy(q)).schema))
        else
          (s"local compile (route: ${est.get.describe})", compiler.compile(q))
      case Some(cfg) if q.form == graft.algebra.ConstructForm =>
        // graph form: ship the WHERE as a SELECT, instantiate the
        // template locally (falls back to the local compile when the
        // pattern is unshippable or the cost decision says local)
        val est = Option.when(cfg.auto)(
          graft.compiler.RoutePlanner.estimate(q, catalog))
        if (est.exists(e => !e.ship))
          (s"local compile (route: ${est.get.describe})", compiler.compile(q))
        else compiler.compileConstructShipped(q, cfg) match {
          case Some(df) =>
            (s"CONSTRUCT WHERE dispatch -> ${cfg.endpoint} (template local)" +
              est.fold("")(e => s" (route: ${e.describe})"), df)
          case None => ("local compile (pattern not shippable)",
            compiler.compile(q))
        }
      case Some(cfg) if q.form == graft.algebra.DescribeForm =>
        // DESCRIBE <iri>: one shipped probe SELECT (term kind asked of
        // the store) replaces the per-predicate local enumeration — a
        // wire-query-count win at ANY cardinality, so it ships under
        // Always and Auto alike; DESCRIBE ?v forms fall back to the
        // local machinery
        compiler.compileDescribeShipped(q, cfg) match {
          case Some(df) =>
            (s"DESCRIBE dispatch -> ${cfg.endpoint} (format local)", df)
          case None => ("local compile (describe probe not shippable)",
            compiler.compile(q))
        }
      case _ => ("local compile", compiler.compile(q))
    }

  /** The local-compile route line enriched with what the compile
    * actually did — each shipped exclusive group/pattern plans as one
    * remote query scan. Computed HERE, not in [[route]]: [[sparql]]
    * discards the description, and stringifying the analyzed plan per
    * query would tax the server hot path for a label nobody reads. */
  private def describeLocal(df: DataFrame): String =
    if (groupShip.isEmpty) "local compile"
    else {
      val shipped = "sparql-query@".r
        .findAllIn(df.queryExecution.analyzed.toString).size
      if (shipped > 0)
        s"local compile + $shipped shipped exclusive group/pattern scan" +
          (if (shipped > 1) "s" else "")
      else "local compile (no endpoint-exclusive groups or patterns)"
    }

  /** Compile an already-parsed query (the [[Experiment]] metrics path
    * times parse and compile separately). */
  def compile(q: graft.algebra.Query): DataFrame = compiler.compile(q)

  /** Decomposition + plan report — the reference CLI's primary output
    * (`run_query.py:22-44` prints the star decomposition, then the
    * operator plan, then timings). The decomposition is the one the
    * compiler built while routing this query (each star with its
    * candidate source fragments from RDF-MT source selection, or a BGP
    * that link pruning proved empty, and the selective side it inlined
    * with its row count), and the plan is Catalyst's formatted physical
    * plan — the thing to read for PushedFilters / join strategy /
    * Exchange placement. Explain does not run the query, but compiling it
    * runs the bounded scan of any selective side the compiler inlines
    * (at most `RoutePlanner.BindKeyCap` + 1 rows, see `Compiler`'s
    * inline rule), as answering it would. */
  def explain(query: String): String = {
    import graft.algebra._
    val q = SparqlParser.parseUnsafe(query)
    val t0 = System.nanoTime()
    val ((routed, df), decisions) = Compiler.recordingDecisions(route(q))
    // auto-routed local compiles carry their cost reasoning in the route
    // string — keep it and enrich with what the compile actually shipped
    val dispatch =
      if (routed.startsWith("local compile"))
        describeLocal(df) + routed.stripPrefix("local compile")
      else routed
    val planTime = (System.nanoTime() - t0) / 1e9
    val decTime = decisions.map(_.decomposeNs).sum / 1e9
    val stars = decisions.flatMap(_.stars.getOrElse(Nil))
    // star numbers run on across decisions; an inlined side names its own
    val offsets = decisions.scanLeft(0)(_ + _.stars.fold(0)(_.length))
    val inlined = decisions.zip(offsets).flatMap { case (d, off) =>
      d.inlined.map { in =>
        val rows = if (in.rows == 1) "1 row" else s"${in.rows} rows"
        s"  star ${in.stars.map(_ + off).mkString(" ⋈ star ")} inlined ($rows): " +
          "evaluated at compile time, joined as a local build side"
      }
    }
    val dec = (stars.zipWithIndex.map { case (s, i) =>
      val subj = s.subject match {
        case Var(n) => s"?$n"
        case Iri(v) => s"<$v>"
        case other  => other.toString
      }
      val srcs = s.sources.map(_.fragments
        .map(f => s"${f.molecule.table}@${f.molecule.source}")
        .mkString("[", " ⋈ ", "]")).mkString(", ")
      s"  star $i: $subj {${s.triples.length} triples} -> $srcs"
    } ++ inlined ++ decisions.collect { case d if d.stars.isEmpty =>
      s"  bgp {${d.triples.length} triples}: provably empty (no joinable source pair)"
    }).mkString("\n")
    s"""Decomposition (${stars.length} stars, ${f"$decTime%.3f"}s):
       |$dec
       |Dispatch: $dispatch
       |Plan (compile ${f"$planTime%.3f"}s):
       |${df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)}""".stripMargin
  }
}

object Graft {
  /** All molecule tables backed by `<dir>/<table>.parquet`. */
  def overParquetDir(catalog: Catalog, dir: String)(implicit spark: SparkSession): Graft =
    new Graft(catalog, t => spark.read.parquet(s"$dir/$t.parquet"))

  // keyed by EVERY parameter that shapes the probe, not just dir — two
  // calls differing in tables/aliases must not share a catalog
  private val probedCatalogs = TrieMap[(String, Seq[String], Map[String, String]), Catalog]()

  /** Catalog PROBED from the lake itself (`create_rdfmts.py` parity via
    * [[graft.mapping.CatalogGen]]): keys, links, and cardinalities are
    * discovered, not declared; only vocabulary aliases are deployment
    * config. The probe result persists to a fingerprint-keyed sidecar
    * ([[graft.mapping.CatalogCache]]) — a fresh session loads it, it
    * never re-probes an unchanged lake. */
  def overProbedParquetDir(dir: String, tableNames: Seq[String],
                           aliases: Map[String, String] = Map.empty,
                           cacheDir: String =
                             sys.env.getOrElse("GRAFT_CATALOG_CACHE",
                               "target/catalog-cache"))
                          (implicit spark: SparkSession): Graft = {
    val tables = tableNames.map(t =>
      t -> spark.read.parquet(s"$dir/$t.parquet")).toMap
    val cat = probedCatalogs.getOrElseUpdate((dir, tableNames, aliases), {
      val fp = graft.mapping.CatalogCache.fingerprint(
        tableNames.map(t => s"$dir/$t.parquet"))
      // the sidecar name also carries the probe configuration: a sidecar
      // probed under different tables/aliases must never validate
      val cfg = dir + "|" + tableNames.mkString(",") + "|" +
        aliases.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
      val sidecar = java.nio.file.Paths.get(cacheDir,
        "autogen-" + java.security.MessageDigest.getInstance("MD5")
          .digest(cfg.getBytes("UTF-8")).map("%02x".format(_)).mkString + ".json")
      graft.mapping.CatalogCache.cached(sidecar, fp)(
        graft.mapping.CatalogGen.fromTables(tables,
          graft.mapping.CatalogGen.GenOptions(aliases = aliases)))
    })
    new Graft(cat, tables)
  }

  /** Probed catalog over MIXED sources — snapshot lakes, parquet, any
    * [[graft.sources.SourceSpec]]: the `create_rdfmts.py` discovery run
    * against tables read through their OWN resolution (a snapshot lake
    * probes its committed manifest state, never the raw directory tree),
    * so keys, links and cardinalities describe exactly what queries will
    * see. Sidecar caching keys on a per-source VERSION: a snapshot source
    * versions as `root@snapshotId` (manifests are immutable — an
    * unchanged lake never re-probes, a new commit invalidates exactly
    * like changed files); parquet versions by file fingerprint; a source
    * with no stable version (live endpoints, JDBC) disables the sidecar
    * and probes per process. */
  def overProbedSources(sources: Map[String, graft.sources.SourceSpec],
                        aliases: Map[String, String] = Map.empty,
                        cacheDir: String =
                          sys.env.getOrElse("GRAFT_CATALOG_CACHE",
                            "target/catalog-cache"))
                       (implicit spark: SparkSession): Graft = {
    def version(spec: graft.sources.SourceSpec): Option[String] = spec match {
      case graft.sources.ParquetSource(p) =>
        Some("pq:" + graft.mapping.CatalogCache.fingerprint(Seq(p)))
      case sn @ graft.sources.SnapshotSource(root, _, _, br) =>
        Some("snap:" + root + (if (br.isEmpty) "" else s"#$br") + "@" +
          sn.epoch(spark).orElse(
            graft.pipeline.Lakehouse.currentSnapshotId(spark, root, br))
          .getOrElse(0))
      case _ => None
    }
    val tables = sources.map { case (t, s) => t -> s.load(spark) }
    val versions = sources.toSeq.sortBy(_._1)
      .map { case (t, s) => version(s).map(v => s"$t=$v") }
    def gen() = graft.mapping.CatalogGen.fromTables(tables,
      graft.mapping.CatalogGen.GenOptions(aliases = aliases))
    val cat =
      if (versions.exists(_.isEmpty)) gen() // no stable version: no cache
      else {
        val fp = versions.flatten.mkString("|")
        probedCatalogs.getOrElseUpdate((fp, sources.keys.toSeq.sorted,
          aliases), {
          val cfg = "sources|" + sources.keys.toSeq.sorted.mkString(",") +
            "|" + aliases.toSeq.sorted
              .map { case (k, v) => s"$k=$v" }.mkString(",")
          val sidecar = java.nio.file.Paths.get(cacheDir,
            "autogen-" + java.security.MessageDigest.getInstance("MD5")
              .digest(cfg.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString + ".json")
          graft.mapping.CatalogCache.cached(sidecar,
            java.security.MessageDigest.getInstance("MD5")
              .digest(fp.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString)(gen())
        })
      }
    new Graft(cat, tables)
  }

  /** Graft over a LIVE SPARQL endpoint: the catalog is wire-probed with
    * the reference's discovery protocol
    * ([[graft.mapping.EndpointCatalogGen]] — `create_rdfmts.py` against a
    * triple store), and every concept table is a distributed paged SPARQL
    * fetch whose page plan comes from the probed cardinalities. Probing is
    * deploy-time work; reuse the returned Graft across queries. */
  def overSparqlEndpoint(endpoint: String,
                         opts: graft.mapping.EndpointCatalogGen.EndpointOptions =
                           graft.mapping.EndpointCatalogGen.EndpointOptions())
                        (implicit spark: SparkSession): Graft = {
    // fingerprint-keyed probe cache: a re-deployed endpoint with unchanged
    // content (new port, fresh session) pays only the skeleton queries
    val (_, probed) = graft.mapping.EndpointCatalogGen.probeCached(endpoint, opts)
    import graft.mapping.EndpointCatalogGen.ShipPolicy
    val policy = opts.effectivePolicy
    new Graft(probed.catalog, probed.loader,
      ship = Option.when(policy != ShipPolicy.Never)(
        graft.compiler.QueryShip.Config(endpoint, opts.pageSize,
          opts.maxPartitions, auto = policy == ShipPolicy.Auto)),
      // queries the whole-query path can't take (SERVICE bodies, graph
      // forms, unprojected order keys) or that the cost decision keeps
      // local still ship their exclusive groups — under Auto each group
      // is cost-gated with the same transfer model, so a selective
      // local build keeps its bind join at the group rung too
      groupShip = Option.when(policy != ShipPolicy.Never)(
        graft.compiler.QueryShip.GroupShip(opts.pageSize, opts.maxPartitions,
          auto = policy == ShipPolicy.Auto)))
  }

  /** Graft over a FEDERATION of SPARQL endpoints — the reference's actual
    * deployment shape (one mediator, N endpoints, `create_rdfmts.py` run
    * against each): every endpoint is wire-probed independently, the
    * catalogs merge with per-endpoint `source` membership, and source
    * selection / star pruning work across them exactly as over the
    * declared multi-source catalogs (a concept served by several
    * endpoints unions; cross-endpoint joins ride subject-URI identity).
    * Table names are namespaced per endpoint so same-named concepts on
    * different endpoints keep distinct paged fetches. */
  def overSparqlEndpoints(endpoints: Seq[String],
                          opts: graft.mapping.EndpointCatalogGen.EndpointOptions =
                            graft.mapping.EndpointCatalogGen.EndpointOptions())
                         (implicit spark: SparkSession): Graft = {
    require(endpoints.nonEmpty, "no endpoints given")
    val fpProbes = endpoints.map(e =>
      graft.mapping.EndpointCatalogGen.probeCached(e, opts))
    val probes = fpProbes.map(_._2)
    val molecules = probes.zipWithIndex.flatMap { case (p, i) =>
      p.catalog.molecules.map(m => m.copy(table = s"e${i}_${m.table}"))
    }
    val loaders = probes.zipWithIndex.flatMap { case (p, i) =>
      p.loaders.map { case (t, l) => s"e${i}_$t" -> l }
    }.toMap
    // a single endpoint's link probe can't see that its IRI objects are
    // typed instances on ANOTHER endpoint — merge the per-endpoint ranges
    // and containment-probe the cross-endpoint pairs before the catalog's
    // link claims become authoritative for join-link pruning; cached by
    // the members' content fingerprints like the per-endpoint shapes
    val links = graft.mapping.EndpointCatalogGen.crossLinksCached(
      endpoints.zip(probes), fpProbes.map(_._1),
      ttlMs = opts.probeCacheTtlMs)
    new Graft(graft.mapping.Catalog(molecules.toList, links), t => loaders(t)(),
      // a federation never ships the WHOLE query (stars span endpoints by
      // construction), but connected stars exclusive to ONE member ship as
      // a group — the joins between them run at that endpoint
      groupShip = Option.when(opts.effectivePolicy !=
        graft.mapping.EndpointCatalogGen.ShipPolicy.Never)(
        graft.compiler.QueryShip.GroupShip(opts.pageSize, opts.maxPartitions,
          auto = opts.effectivePolicy ==
            graft.mapping.EndpointCatalogGen.ShipPolicy.Auto)))
  }
}
