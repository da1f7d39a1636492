package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{GraphOps, Lakehouse}

/** Round-16: loud-contract closures from the r15 adjudications —
  * pagerank id typing (verdict What's-wrong #2) and snapshotDiff marker
  * collisions (r15 ADVICE #4) — plus the round's new machinery specs. */
class Round16Spec extends SparkTestBase {

  // ---- pagerankInt id typing -----------------------------------------------

  test("pagerankInt: string vertex ids THROW — the silent bigint cast " +
    "would null the endpoints and vanish nodes (the CC mislabel class)") {
    import spark.implicits._
    val stringEdges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      GraphOps.pagerankInt(stringEdges, iters = 2)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // integral ids of any width still work (the declared contract)
    val intEdges = Seq((1, 2), (2, 3)).toDF("src", "dst")
    assert(GraphOps.pagerankInt(intEdges, iters = 2).count() == 3L)
  }

  // ---- snapshotDiff marker collisions --------------------------------------

  test("snapshotDiff: an input already carrying a reserved marker column " +
    "fails loudly instead of silently misclassifying rows") {
    import spark.implicits._
    val clean = Seq((1L, "x")).toDF("k", "v")
    val dirty = Seq((1L, "x", false)).toDF("k", "v", "__in_old")
    val e = intercept[IllegalArgumentException] {
      Lakehouse.snapshotDiff(dirty, clean, Seq("k"), Seq("v"))
    }
    assert(e.getMessage.contains("__in_old"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Lakehouse.snapshotDiff(clean,
        Seq((1L, "x", true)).toDF("k", "v", "__in_new"), Seq("k"), Seq("v"))
    }
    assert(e2.getMessage.contains("__in_new"), e2.getMessage)
    // the clean path is untouched
    val diff = Lakehouse.snapshotDiff(clean,
      Seq((1L, "y")).toDF("k", "v"), Seq("k"), Seq("v")).collect()
    assert(diff.length == 1 && diff.head.getString(1) == "U")
  }

  // ---- streaming golden records --------------------------------------------

  test("streaming golden records: the Complete-mode counts aggregate + " +
    "batch finisher equal batch survivorship — ties, null votes, " +
    "all-null attributes, and records split across micro-batches") {
    import spark.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val recs = Seq(
      (10L, Some("en"), Some("a")), (10L, Some("en"), Some("b")),
      (10L, Some("fr"), Some("b")),              // en 2-1; a/b tie -> b
      (20L, None, Some("x")), (20L, None, Some("x")),
      (20L, Some("de"), None),                   // de from its only vote
      (30L, None, None))                         // all null: stays null
      .toDF("entity", "lang", "source")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.getString(2)))).toSet
    val batch = rows(graft.pipeline.FuzzyJoin
      .goldenRecords(recs, "entity", Seq("lang", "source")))
    // 3 chunks split entity 10's votes across micro-batches — the
    // maintained counts must still merge them
    val streamed = rows(graft.streaming.EventStreams
      .goldenReplayed(recs, chunks = 3))
    assert(streamed === batch && batch.size == 3)
  }

  // ---- adaptive bind-join window, end to end --------------------------------

  test("SERVICE bind join sizes its VALUES window adaptively end to end: " +
    "auto sends ONE request for a 150-key build, the pinned reference " +
    "window pays ceil(n/20), answers identical") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import graft.api.{Graft, GraftServer, TpchCatalog}
    val g = Graft.overParquetDir(TpchCatalog.catalog, sfDir)
    val server = new GraftServer(g)
    val port = server.start()
    try {
      val q =
        s"""PREFIX g: <urn:g:>
           |SELECT ?c ?n ?tp WHERE {
           |  ?c a g:Customer ; g:name ?n .
           |  SERVICE <http://127.0.0.1:$port/sparql> {
           |    ?o g:customer ?c ; g:totalprice ?tp }
           |} ORDER BY ?c ?tp""".stripMargin
      // loopback safety: ≤2 concurrent fetch tasks under local[4]
      spark.conf.set("graft.service.bindJoin.maxConcurrentFetch", "2")
      def run(window: String): (Long, Long, Seq[Seq[Any]]) = {
        spark.conf.set("graft.service.bindJoin.window", window)
        val q0 = server.queriesServed.get()
        val rows = g.sparql(q).collect().map(_.toSeq).toSeq
        (rows.size.toLong, server.queriesServed.get() - q0, rows)
      }
      val (nAuto, reqAuto, rowsAuto) = run("auto")
      val (nPin, reqPin, rowsPin) = run("20")
      assert(nAuto == nPin && rowsAuto == rowsPin && nAuto > 0)
      // sf0.001 has 150 customers: auto = min(150, 512) → ONE request;
      // the reference's fixed 20 pays ceil(150/20) = 8
      assert(reqAuto == 1, s"auto sent $reqAuto requests")
      assert(reqPin == 8, s"window=20 sent $reqPin requests")
    } finally {
      spark.conf.unset("graft.service.bindJoin.window")
      spark.conf.unset("graft.service.bindJoin.maxConcurrentFetch")
      server.stop()
    }
  }

  // ---- lake-wide atomic snapshot commit ------------------------------------

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r16_$tag"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    d
  }

  private def part(lang: String, ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, lang, s"v$i")).toDF("id", "lang", "v")
  }

  test("lake snapshot: a multi-partition commit is ALL-OR-NOTHING — a " +
    "reader mid-sweep sees entirely pre- or entirely post-commit state, " +
    "and time travel reads the kept snapshot") {
    val root = freshDir("snap")
    val s1 = Lakehouse.commitSnapshot(spark, root, Seq(
      "lang=en" -> part("en", 1L to 10L),
      "lang=fr" -> part("fr", 11L to 20L)))
    assert(s1 == 1)
    assert(Lakehouse.readSnapshot(spark, root).count() == 20L)
    // a reader planned BEFORE the next commit is pinned to snapshot 1
    val preReader = Lakehouse.readSnapshot(spark, root)
    // MID-SWEEP: the next commit's generations land before its manifest —
    // simulate the window by writing a generation with NO commit: every
    // reader still resolves snapshot 1 in full
    part("en", 100L to 120L).write.parquet(s"$root/lang=en/_gen-00000099")
    assert(Lakehouse.readSnapshot(spark, root).count() == 20L)
    // the real commit: en shrinks, fr rewrites, de appears — one flip
    val s2 = Lakehouse.commitSnapshot(spark, root, Seq(
      "lang=en" -> part("en", 1L to 5L),
      "lang=fr" -> part("fr", 11L to 25L),
      "lang=de" -> part("de", 31L to 33L)))
    assert(s2 == 2)
    val after = Lakehouse.readSnapshot(spark, root)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after === Map("en" -> 5L, "fr" -> 15L, "de" -> 3L))
    // entirely-pre: the pinned reader still collects snapshot 1
    assert(preReader.count() == 20L)
    // time travel: asOf the kept snapshot 1
    assert(Lakehouse.readSnapshot(spark, root, asOf = Some(1)).count() == 20L)
    // manifest-level partition pruning plans only the named partition
    assert(Lakehouse.readSnapshot(spark, root,
      partitionFilter = _ == "lang=de").count() == 3L)
  }

  test("plan: readSnapshot is ONE multi-root scan — never a union per " +
    "partition (the plan stays O(1) in partition count)") {
    val root = freshDir("snapplan")
    Lakehouse.commitSnapshot(spark, root,
      (0 until 8).map(i => s"lang=l$i" -> part(s"l$i", 1L to 5L)))
    val plan = Lakehouse.readSnapshot(spark, root)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Union"), plan)
    assert(plan.linesIterator.count(_.contains("Relation")) == 1, plan)
  }

  test("lake snapshot: crash relics (generations with no manifest) are " +
    "invisible to readers and snapshotGc removes them; GC'd snapshots " +
    "refuse time travel loudly; kept ones stay readable") {
    val root = freshDir("snapgc")
    Lakehouse.commitSnapshot(spark, root, Seq("p=a" -> part("a", 1L to 4L)))
    Lakehouse.commitSnapshot(spark, root, Seq("p=a" -> part("a", 1L to 6L)))
    Lakehouse.commitSnapshot(spark, root, Seq("p=b" -> part("b", 7L to 9L)))
    // crash relics: one in a known partition, one in a brand-new dir
    part("x", 50L to 99L).write.parquet(s"$root/p=a/_gen-00000077")
    part("x", 50L to 99L).write.parquet(s"$root/p=new/_gen-00000001")
    assert(Lakehouse.readSnapshot(spark, root).count() == 9L)
    val (snapsDropped, gensDropped) = Lakehouse.snapshotGc(spark, root,
      keepSnapshots = 2)
    // snapshot 1 dropped; relics + snapshot-1-only generation removed
    assert(snapsDropped == 1 && gensDropped == 3, (snapsDropped, gensDropped))
    assert(Lakehouse.readSnapshot(spark, root).count() == 9L)
    assert(Lakehouse.readSnapshot(spark, root, asOf = Some(2)).count() == 6L)
    val e = intercept[IllegalArgumentException] {
      Lakehouse.readSnapshot(spark, root, asOf = Some(1))
    }
    assert(e.getMessage.contains("kept snapshots"), e.getMessage)
  }

  test("naive whole-root reads degrade STALE-CORRECT then LOUD, never " +
    "silently wrong: hidden generations + the sentinel; managed reads " +
    "untouched; compactFiles on a snapshot-managed root is compactDrifted") {
    import spark.implicits._
    // fresh snapshot lake: data only in hidden generations → naive read
    // fails immediately (sentinel at the bare root)
    val root = freshDir("snapnaive")
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=a" -> part("a", 1L to 40L).repartition(4)))
    val e = intercept[Exception] { spark.read.parquet(root).collect() }
    assert(e.getMessage != null, "naive read must fail, not return rows")
    assert(Lakehouse.readSnapshot(spark, root).count() == 40L)
    // compacting the managed root is one more snapshot commit
    val (nb, na, _) = Lakehouse.compactFiles(spark, root, 1L << 20)
    assert(nb > na && na == 1, (nb, na))
    assert(Lakehouse.currentSnapshotId(spark, root).contains(2))
    assert(Lakehouse.readSnapshot(spark, root).count() == 40L)
    // plain dir: the compaction adopts it with ONE rewrite into snapshot
    // 1, and the loose files stay until snapshotGc, so a naive read is
    // stale-but-CORRECT (content-preserving rewrite, hidden gen
    // invisible to the listing)...
    val dir = freshDir("comnaive")
    (1L to 400L).map(i => (i, s"s$i")).toDF("id", "s")
      .repartition(32).write.parquet(dir)
    Lakehouse.compactFiles(spark, dir, targetBytes = Long.MaxValue)
    assert(Lakehouse.currentSnapshotId(spark, dir).contains(1))
    assert(spark.read.parquet(dir).count() == 400L,
      "adoption window: naive reads still see the loose copies")
    // ...and once snapshotGc reclaims the loose files the sentinel makes
    // naive reads fail loudly instead of returning stale rows
    Lakehouse.commitSnapshot(spark, dir, Seq("" ->
      Lakehouse.readCompacted(spark, dir).unionByName(
        (401L to 500L).map(i => (i, s"s$i")).toDF("id", "s"))))
    Lakehouse.snapshotGc(spark, dir, keepSnapshots = 2)
    intercept[Exception] { spark.read.parquet(dir).collect() }
    assert(Lakehouse.readCompacted(spark, dir).count() == 500L)
  }

  test("lake snapshot: adopting a plain parquet dir rewrites it once " +
    "into a generation; resolveCompacted resolves snapshot-managed " +
    "tables through the manifest") {
    import spark.implicits._
    val root = freshDir("snapadopt")
    (1L to 50L).map(i => (i, s"s$i")).toDF("id", "s").write.parquet(root)
    Lakehouse.commitSnapshot(spark, root, Seq(
      "extra" -> (51L to 60L).map(i => (i, s"s$i")).toDF("id", "s")))
    assert(Lakehouse.readSnapshot(spark, root).count() == 60L)
    val m = Lakehouse.currentManifest(spark, root)
    assert(m.keySet === Set("", "extra"))
    // r17 contract: a mapping with ANY entry besides "" cannot resolve to
    // one directory — returning just the root entry would be a silently
    // PARTIAL table (50 of 60 rows here), so it throws like the
    // fully-partitioned case
    val eMixed = intercept[IllegalStateException] {
      Lakehouse.resolveCompacted(spark, root)
    }
    assert(eMixed.getMessage.contains("readSnapshot"), eMixed.getMessage)
    // a PURE single-"" manifest still resolves through the manifest
    val uroot = freshDir("snapadoptu")
    (1L to 40L).map(i => (i, s"s$i")).toDF("id", "s").write.parquet(uroot)
    Lakehouse.commitSnapshot(spark, uroot, Seq(
      "" -> (1L to 45L).map(i => (i, s"s$i")).toDF("id", "s")))
    val um = Lakehouse.currentManifest(spark, uroot)
    assert(um.keySet === Set(""))
    assert(Lakehouse.resolveCompacted(spark, uroot).endsWith(um("")))
    assert(spark.read.parquet(
      Lakehouse.resolveCompacted(spark, uroot)).count() == 45L)
    // a PARTITIONED snapshot lake cannot resolve to one dir — loud
    val proot = freshDir("snapparts")
    Lakehouse.commitSnapshot(spark, proot, Seq(
      "p=a" -> part("a", 1L to 3L), "p=b" -> part("b", 4L to 6L)))
    val e = intercept[IllegalStateException] {
      Lakehouse.resolveCompacted(spark, proot)
    }
    assert(e.getMessage.contains("readSnapshot"), e.getMessage)
  }

  test("commitSnapshot runs partition writes through the bounded pool: " +
    "a 12-partition commit lands every entry and reads back exactly") {
    import spark.implicits._
    val root = freshDir("snappar")
    val writes = (0 until 12).map { i =>
      s"b=$i" -> (1L to 20L).map(j => (i * 100L + j, i, s"v$i-$j"))
        .toDF("id", "b", "v")
    }
    spark.conf.set("graft.lake.commitParallelism", "6")
    try Lakehouse.commitSnapshot(spark, root, writes)
    finally spark.conf.unset("graft.lake.commitParallelism")
    val m = Lakehouse.currentManifest(spark, root)
    assert(m.keySet == (0 until 12).map(i => s"b=$i").toSet)
    val back = Lakehouse.readSnapshot(spark, root)
    assert(back.count() == 240L)
    assert(back.groupBy("b").count().collect()
      .forall(_.getLong(1) == 20L))
  }

  test("model-based snapshot-lake torture: 24 random merge/CDC/sweep/GC " +
    "operations, the lake equals the in-memory model after every one, " +
    "and every KEPT historical snapshot still reads its own epoch") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val root = freshDir("snapmodel")
    def langOf(id: Long) = s"l${(id % 3).toInt}"
    // the model: key -> (lang, v); the lake must equal it at all times
    val model = scala.collection.mutable.Map[Long, (String, String)]()
    def df(rows: Seq[(Long, String, String)]) = rows.toDF("id", "lang", "v")
    def modelRows = model.toSeq.map { case (id, (l, v)) => (id, l, v) }
    def lakeRows = Lakehouse.readSnapshot(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // epoch bookkeeping for time travel
    val epochs = scala.collection.mutable.Map[Int, Set[(Long, String, String)]]()
    def record(id: Int): Unit = epochs(id) = modelRows.toSet

    (1L to 30L).foreach(i => model(i) = (langOf(i), s"v$i"))
    val s1 = Lakehouse.commitSnapshot(spark, root,
      modelRows.groupBy(_._2).toSeq.map { case (l, rs) =>
        s"lang=$l" -> df(rs) })
    record(s1)
    var maxId = 30L

    for (step <- 1 to 24) {
      rnd.nextInt(5) match {
        case 0 => // partition-pruned MERGE: updates + inserts
          val upd = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(4))
            .map(id => (id, langOf(id), s"u$step-$id"))
          val ins = (1 to 1 + rnd.nextInt(3)).map { _ =>
            maxId += 1; (maxId, langOf(maxId), s"i$step-$maxId") }
          val delta = upd ++ ins
          val sid = Lakehouse.mergeSnapshot(spark, root, df(delta),
            Seq("id"), "lang")
          delta.foreach { case (id, l, v) => model(id) = (l, v) }
          record(sid) // record AFTER the model reflects the op
        case 1 => // CDC batch: mixed I/U/D, one op per key
          val dels = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
          val upds = rnd.shuffle((model.keys.toSet -- dels).toSeq)
            .take(rnd.nextInt(3)).map(id => (id, s"c$step-$id"))
          val inss = (1 to rnd.nextInt(2) + (if (dels.isEmpty &&
            upds.isEmpty) 1 else 0)).map { _ =>
            maxId += 1; (maxId, s"n$step-$maxId") }
          val changes =
            dels.map(id => (id, langOf(id), "x", "D")) ++
              upds.map { case (id, v) => (id, langOf(id), v, "U") } ++
              inss.map { case (id, v) => (id, langOf(id), v, "I") }
          val sid = Lakehouse.applyCdcSnapshot(spark, root,
            changes.toDF("id", "lang", "v", "op"), Seq("id"), "lang")
          dels.foreach(model.remove)
          (upds ++ inss).foreach { case (id, v) => model(id) = (langOf(id), v) }
          record(sid)
        case 2 => // content-preserving sweep (model unchanged); a commit
          // happens only if something drifted
          Lakehouse.compactDrifted(spark, root, targetBytes = 1L << 26)
          Lakehouse.currentSnapshotId(spark, root)
            .foreach(id => if (!epochs.contains(id)) record(id))
        case 3 => // GC: keep 3 — older epochs become unreadable
          val keep = 3
          val ids = epochs.keys.toSeq.sorted
          Lakehouse.snapshotGc(spark, root, keepSnapshots = keep)
          ids.dropRight(keep).foreach(epochs.remove)
        case 4 => // whole-partition rewrite of one random partition
          val l = s"l${rnd.nextInt(3)}"
          val rows = modelRows.filter(_._2 == l)
          if (rows.nonEmpty) {
            record(Lakehouse.commitSnapshot(spark, root,
              Seq(s"lang=$l" -> df(rows))))
          }
      }
      assert(lakeRows.toSet == modelRows.toSet,
        s"step $step: lake diverged from model")
      // a random KEPT epoch still reads exactly its recorded state
      val kept = epochs.keys.toSeq.sorted.takeRight(3)
      val probe = kept(rnd.nextInt(kept.size))
      val got = Lakehouse.readSnapshot(spark, root, asOf = Some(probe))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
      assert(got == epochs(probe), s"step $step: epoch $probe diverged")
    }
  }

  test("snapshot commits are optimistic: losing the manifest race throws " +
    "instead of silently dropping the other committer's write") {
    val root = freshDir("snaprace")
    Lakehouse.commitSnapshot(spark, root, Seq("p=a" -> part("a", 1L to 3L)))
    // this writer read its inputs under snapshot 1...
    val baseRead = Lakehouse.currentSnapshotId(spark, root).get
    // ...then a concurrent committer lands snapshot 2 first
    Lakehouse.commitSnapshot(spark, root, Seq("p=c" -> part("c", 7L to 9L)))
    val e = intercept[IllegalStateException] {
      // the loser pins its base (CAS): committing would silently REVERT
      // the winner's p=c (the stale base carries no entry for it) — it
      // must throw, never last-committer-win
      Lakehouse.commitSnapshot(spark, root,
        Seq("p=b" -> part("b", 4L to 6L)),
        expectedSnapshot = Some(baseRead))
    }
    assert(e.getMessage.contains("concurrently"), e.getMessage)
    // the winner's commit is untouched and still reads
    assert(Lakehouse.readSnapshot(spark, root).count() == 6L)
    assert(Lakehouse.currentSnapshotId(spark, root).contains(2))
    // an UNPINNED retry re-reads the current snapshot and lands cleanly
    Lakehouse.commitSnapshot(spark, root, Seq("p=b" -> part("b", 4L to 6L)))
    assert(Lakehouse.readSnapshot(spark, root).count() == 9L)
  }

  test("snapshot schema evolution: a new column null-fills carried " +
    "partitions, time travel keeps each epoch's OWN shape, and a " +
    "same-name type conflict is loud") {
    import spark.implicits._
    val root = freshDir("snapevolve")
    // lang doubles as the partition col (the pruned writers' lang=<v>
    // scheme), so the committed dirs follow it
    Lakehouse.commitSnapshot(spark, root, Seq(
      "lang=a" -> part("a", 1L to 3L), "lang=b" -> part("b", 4L to 6L)))
    // evolve: lang=a gains `extra`; lang=b carries over untouched
    Lakehouse.commitSnapshot(spark, root, Seq(
      "lang=a" -> Seq((1L, "a", "v1", 10L), (2L, "a", "v2", 20L))
        .toDF("id", "lang", "v", "extra")))
    val now = Lakehouse.readSnapshot(spark, root)
    assert(now.columns.toSeq == Seq("id", "lang", "v", "extra"))
    val rows = now.collect()
      .map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(rows(1L).contains(10L) && rows(4L).isEmpty, rows.toString)
    assert(now.count() == 5) // lang=a shrank to 2, lang=b carried 3
    // each snapshot reads under ITS committed schema
    val epoch1 = Lakehouse.readSnapshot(spark, root, asOf = Some(1))
    assert(epoch1.columns.toSeq == Seq("id", "lang", "v"))
    assert(Lakehouse.snapshotSchema(spark, root, Some(2))
      .get.fieldNames.contains("extra"))
    // type conflict: `extra` as string now — a rewrite, not an evolution
    val e = intercept[IllegalArgumentException] {
      Lakehouse.commitSnapshot(spark, root, Seq(
        "lang=b" -> Seq((4L, "b", "v4", "oops"))
          .toDF("id", "lang", "v", "extra")))
    }
    assert(e.getMessage.contains("conflict"), e.getMessage)
    // the failed commit left no new snapshot (relics only, GC-able)
    assert(Lakehouse.currentSnapshotId(spark, root).contains(2))
    // evolution composes with the pruned writers: a CDC batch under the
    // NEW schema updates an OLD-schema partition (null-filled read)
    Lakehouse.applyCdcSnapshot(spark, root,
      Seq((4L, "b", "v4x", 40L, "U")).toDF("id", "lang", "v", "extra", "op"),
      Seq("id"), "lang")
    val after = Lakehouse.readSnapshot(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getString(2), Option(r.get(3)))).toMap
    assert(after(4L) == ("v4x", Some(40L)) && after(5L) == ("v5", None))
  }

  test("mergeSnapshot: only TOUCHED partitions rewrite (untouched " +
    "manifest entries carry over byte-identical), the merge is one " +
    "atomic flip, and a null partition value fails loudly") {
    import spark.implicits._
    val root = freshDir("snapmerge")
    // `part` builds (id, lang, v) — lang doubles as the partition col,
    // so the committed dirs must follow mergeSnapshot's lang=<v> scheme
    Lakehouse.commitSnapshot(spark, root, Seq(
      "lang=a" -> part("a", 1L to 10L), "lang=b" -> part("b", 11L to 20L)))
    val before = Lakehouse.currentManifest(spark, root)
    // delta: update id 1 (lang=a), insert id 100 (lang=a); lang=b untouched
    val delta = Seq((1L, "a", "UPDATED"), (100L, "a", "v100"))
      .toDF("id", "lang", "v")
    Lakehouse.mergeSnapshot(spark, root, delta, Seq("id"), "lang")
    val after = Lakehouse.currentManifest(spark, root)
    assert(after("lang=b") == before("lang=b"), "untouched partition rewrote")
    assert(after("lang=a") != before("lang=a"))
    val rows = Lakehouse.readSnapshot(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.size == 21 && rows(1L) == "UPDATED" &&
      rows(100L) == "v100" && rows(11L) == "v11")
    // pre-merge snapshot still time-travels
    assert(Lakehouse.readSnapshot(spark, root, asOf = Some(1)).count() == 20L)
    val e = intercept[IllegalArgumentException] {
      Lakehouse.mergeSnapshot(spark, root,
        Seq((5L, null.asInstanceOf[String], "x")).toDF("id", "lang", "v"),
        Seq("id"), "lang")
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
  }

  test("an empty merge source is a committed no-op, like an empty CDC batch") {
    import spark.implicits._
    val root = freshDir("snapmerge-empty")
    val id = Lakehouse.commitSnapshot(spark, root, Seq(
      "lang=a" -> part("a", 1L to 10L)))
    val empty = Seq.empty[(Long, String, String)].toDF("id", "lang", "v")
    assert(Lakehouse.mergeSnapshot(spark, root, empty, Seq("id"), "lang") == id)
    assert(Lakehouse.applyCdcSnapshot(spark, root,
      empty.withColumn("op", lit("U")), Seq("id"), "lang") == id)
    assert(Lakehouse.currentSnapshotId(spark, root).contains(id),
      "an empty delta must not commit a snapshot")
    assert(Lakehouse.readSnapshot(spark, root).count() == 10L)
  }

  test("compactDrifted on a snapshot lake: the sweep rewrites drifted " +
    "partitions and commits ONE snapshot — mid-sweep readers see the " +
    "previous snapshot in full; the re-sweep is a no-op") {
    val root = freshDir("snapsweep")
    Lakehouse.commitSnapshot(spark, root, Seq(
      "p=a" -> part("a", 1L to 200L).repartition(24),
      "p=b" -> part("b", 201L to 210L).coalesce(1)))
    val before = Lakehouse.currentSnapshotId(spark, root).get
    val pinned = Lakehouse.readSnapshot(spark, root) // pre-sweep reader
    val swept = Lakehouse.compactDrifted(spark, root, targetBytes = 1L << 26)
    assert(swept.map(_._1) == Seq("p=a"), swept.toString) // only drifted
    assert(swept.head._2 > swept.head._3)
    assert(Lakehouse.currentSnapshotId(spark, root).contains(before + 1))
    assert(Lakehouse.readSnapshot(spark, root).count() == 210L)
    assert(pinned.count() == 210L) // the pre-sweep resolution stays whole
    assert(Lakehouse.compactDrifted(spark, root, 1L << 26).isEmpty)
  }
}
