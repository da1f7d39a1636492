package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{ConcurrentCommitException, Lakehouse}

/** A local filesystem masquerading as an object store: same bytes, but a
  * scheme the snapshot CAS must refuse (its rename is not
  * atomic-and-exclusive — the S3A failure mode). */
class MemS3Fs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mems3:///")
}

/** Round-17: closes the r16 verdict's snapshot-commit concurrency hole
  * (writer-unique generation names + a real CAS), pins computed deltas,
  * makes the object-store commit contract honest and loud, and adds the
  * manifest's file-level min/max skip layer. */
class Round17Spec extends SparkTestBase {

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r17_$tag"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    d
  }

  private def part(lang: String, ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, lang, s"v$i")).toDF("id", "lang", "v")
  }

  private def genDirs(root: String, rel: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(
      if (rel.isEmpty) root else s"$root/$rel")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_gen-"))
      .map(_.getPath.getName)
  }

  // ---- concurrent same-partition committers (r16 What's-wrong #1) ----------

  test("two committers on the SAME partition with OVERLAPPING write " +
    "phases: generation names are writer-unique so neither can touch the " +
    "other's data dir, the CAS picks exactly one winner, and the " +
    "committed snapshot holds exactly the winner's rows") {
    import spark.implicits._
    val root = freshDir("race")
    Lakehouse.commitSnapshot(spark, root, Seq("p=x" -> part("x", 1L to 4L)))
    val base = Lakehouse.currentSnapshotId(spark, root).get

    // each payload's write takes ~500ms (a per-row sleep), so with both
    // threads released together the two write phases overlap — the
    // genuinely concurrent window r16's sequential race spec missed
    val slow = udf { (i: Long) => Thread.sleep(5); i }
    def payload(tag: String) =
      (100L to 150L).map(i => (i, "x", tag)).toDF("id", "lang", "v")
        .repartition(2)
        .withColumn("id", slow(col("id")))

    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[
      String, Either[Throwable, Int]]()
    val spans = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long)]()
    def committer(tag: String) = new Thread(() => {
      start.await()
      val t0 = System.nanoTime()
      val r = try Right(Lakehouse.commitSnapshot(spark, root,
        Seq("p=x" -> payload(tag)), expectedSnapshot = Some(base)))
      catch { case t: Throwable => Left(t) }
      spans.put(tag, (t0, System.nanoTime()))
      results.put(tag, r)
    })
    val ts = Seq(committer("A"), committer("B"))
    ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())

    val (winners, losers) =
      Seq("A", "B").partition(results.get(_).isRight)
    assert(winners.size == 1 && losers.size == 1,
      s"exactly one CAS winner expected, got $results")
    val loserErr = results.get(losers.head).swap.toOption.get
    assert(loserErr.isInstanceOf[ConcurrentCommitException],
      s"loser must see ConcurrentCommitException, got $loserErr")
    // the threads genuinely ran concurrently (write phases inside)
    val (a0, a1) = spans.get("A"); val (b0, b1) = spans.get("B")
    assert(a0 < b1 && b0 < a1, "committer spans did not overlap")

    // the committed snapshot is EXACTLY the winner's rows — not a mix,
    // not the loser's (the r16 hole: the loser's overwrite corrupting
    // the winner's referenced dir before the CAS fired)
    val got = Lakehouse.readSnapshot(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == (100L to 150L).map(i => (i, winners.head)).toSet,
      s"winner=${winners.head} but snapshot rows diverge")

    // both writers' dirs exist (disjoint by construction); GC reclaims
    // the loser's orphan and keeps the winner's
    assert(genDirs(root, "p=x").size >= 3, // base + both racers
      genDirs(root, "p=x").toString)
    Lakehouse.snapshotGc(spark, root, keepSnapshots = 1)
    assert(genDirs(root, "p=x").size == 1)
    assert(Lakehouse.readSnapshot(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet == got)
  }

  // ---- delta pinned once (r16 What's-wrong #3) ------------------------------

  test("mergeSnapshot evaluates a COMPUTED delta exactly once — the " +
    "per-partition fan-out reads the pinned blocks, never re-runs the " +
    "upstream plan k times") {
    val root = freshDir("pin")
    import spark.implicits._
    val base = (0L until 100L).map(i => (i, (i % 5).toInt, "old"))
      .toDF("id", "p", "v")
    Lakehouse.commitSnapshot(spark, root,
      (0 to 4).map(i => s"p=$i" -> base.filter(col("p") === i)))

    val acc = spark.sparkContext.longAccumulator("delta-evals")
    val tick = udf { (i: Long) => acc.add(1L); i }
    // a computed delta (projection over range — stands in for the
    // join/aggregate output of a real CDC pipe), touching ALL 5 partitions
    val delta = spark.range(0L, 40L)
      .select(tick(col("id")).as("id"),
        (col("id") % 5).cast("int").as("p"), lit("new").as("v"))
    Lakehouse.mergeSnapshot(spark, root, delta, Seq("id"), "p")
    assert(acc.value == 40L,
      s"delta evaluated ${acc.value / 40.0} times; the pin must make it 1")
    // and it was unpersisted after the flip (no leak)
    assert(delta.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
    val got = Lakehouse.readSnapshot(spark, root)
    assert(got.count() == 100L &&
      got.filter(col("v") === "new").count() == 40L)

    // a caller-persisted delta is respected: not re-persisted, not
    // unpersisted behind the caller's back
    val acc2 = spark.sparkContext.longAccumulator("cdc-evals")
    val tick2 = udf { (i: Long) => acc2.add(1L); i }
    val changes = spark.range(0L, 20L)
      .select(tick2(col("id")).as("id"),
        (col("id") % 5).cast("int").as("p"), lit("cdc").as("v"),
        lit("U").as("op"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    Lakehouse.applyCdcSnapshot(spark, root, changes, Seq("id"), "p")
    assert(acc2.value == 20L, s"cdc delta evaluated ${acc2.value / 20.0}x")
    assert(changes.storageLevel ==
      org.apache.spark.storage.StorageLevel.MEMORY_ONLY,
      "caller-persisted delta must stay persisted")
    changes.unpersist()
  }

  // ---- honest object-store commit contract (r16 What's-wrong #2) -----------

  test("snapshot commit on an object-store-like scheme is REFUSED loudly " +
    "before any data is written; a scheme declared rename-atomic commits") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.mems3.impl", classOf[MemS3Fs].getName)
    val local = freshDir("s3lake")
    val root = s"mems3:$local"
    val e = intercept[IllegalStateException] {
      Lakehouse.commitSnapshot(spark, root,
        Seq("p=a" -> part("a", 1L to 3L)))
    }
    assert(e.getMessage.contains("atomic") &&
      e.getMessage.contains("renameAtomicSchemes"), e.getMessage)
    // refused BEFORE writing: no data dirs, no lake metadata on disk
    assert(genDirs(local, "p=a").isEmpty &&
      !new java.io.File(s"$local/_graft_lake").exists())
    // a deployment that KNOWS its store's rename is atomic declares it
    spark.conf.set("graft.lake.renameAtomicSchemes", "mems3")
    try {
      Lakehouse.commitSnapshot(spark, root,
        Seq("p=a" -> part("a", 1L to 3L)))
      assert(Lakehouse.readSnapshot(spark, root).count() == 3L)
      Lakehouse.commitSnapshot(spark, root,
        Seq("p=b" -> part("b", 1L to 40L).repartition(4)))
    } finally spark.conf.unset("graft.lake.renameAtomicSchemes")
    // a compaction is a commit too: with the scheme undeclared again, a
    // sweep over the drifted p=b is refused before it writes anything
    val gensBefore = genDirs(local, "p=b")
    val ec = intercept[IllegalStateException] {
      Lakehouse.compactDrifted(spark, root, targetBytes = Long.MaxValue)
    }
    assert(ec.getMessage.contains("renameAtomicSchemes"), ec.getMessage)
    assert(genDirs(local, "p=b") == gensBefore,
      s"the refused sweep wrote ${genDirs(local, "p=b")}")
  }

  // ---- per-file min/max stats: the manifest's data-skipping layer ----------

  test("per-file stats skip: a range predicate on a NON-partition column " +
    "opens only the files whose committed [min,max] can match — " +
    "correctness identical, untouched files never planned") {
    import spark.implicits._
    val root = freshDir("stats")
    val rows = (0L until 400L)
      .map(i => (i, (i % 2).toInt, f"s$i%04d")).toDF("id", "p", "s")
    // 4 files per partition with DISJOINT id ranges (range-partitioned
    // write): the layout stats skipping exists for
    def half(p: Int) = rows.filter(col("p") === p)
      .repartitionByRange(4, col("id"))
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=0" -> half(0), "p=1" -> half(1)),
      statsCols = Seq("id", "s"))

    val full = Lakehouse.readSnapshot(spark, root)
    assert(full.inputFiles.length == 8, full.inputFiles.toSeq.toString)
    val pruned = Lakehouse.readSnapshot(spark, root,
      fileRanges = Seq(Lakehouse.ColRange("id", Some(100L), Some(120L))))
    assert(pruned.inputFiles.length < 8 && pruned.inputFiles.nonEmpty,
      s"expected a strict file subset, got ${pruned.inputFiles.length}")
    // pruning is a SUPERSET guarantee: the real filter on the pruned
    // read equals the real filter on the full read
    val want = full.filter(col("id").between(100, 120)).collect()
      .map(_.toSeq).toSet
    val gotP = pruned.filter(col("id").between(100, 120)).collect()
      .map(_.toSeq).toSet
    assert(gotP == want && want.size == 21)

    // string-typed ranges prune too (order-faithful zero-padded fixture)
    val sPruned = Lakehouse.readSnapshot(spark, root,
      fileRanges = Seq(Lakehouse.ColRange("s", Some("s0100"), Some("s0100"))))
    assert(sPruned.inputFiles.length < 8)
    assert(sPruned.filter(col("s") === "s0100").count() == 1L)

    // a range past the table's max prunes EVERYTHING: a provably-empty
    // frame with the committed schema, not an error
    val none = Lakehouse.readSnapshot(spark, root,
      fileRanges = Seq(Lakehouse.ColRange("id", Some(100000L), None)))
    assert(none.count() == 0L &&
      none.columns.toSeq == Seq("id", "p", "s"))

    // an ALL-NULL file is prunable under any (null-excluding) range
    Lakehouse.commitSnapshot(spark, root, Seq(
      "p=2" -> spark.range(5)
        .select(lit(null).cast("long").as("id"), lit(2).as("p"),
          lit(null).cast("string").as("s"))),
      statsCols = Seq("id", "s"))
    val afterNull = Lakehouse.readSnapshot(spark, root,
      fileRanges = Seq(Lakehouse.ColRange("id", Some(0L), Some(10L))))
    assert(!afterNull.inputFiles.exists(_.contains("p=2")),
      "all-null file must be pruned under a null-excluding range")

    // a partition WITHOUT stats on the ranged column is never pruned
    // (superset); an explicit set replaces the carried one, so this
    // commit records stats on `s` only
    Lakehouse.commitSnapshot(spark, root, Seq(
      "p=3" -> Seq((9999L, 3, "zzz")).toDF("id", "p", "s")),
      statsCols = Seq("s"))
    val mixed = Lakehouse.readSnapshot(spark, root,
      fileRanges = Seq(Lakehouse.ColRange("id", Some(0L), Some(10L))))
    assert(mixed.inputFiles.exists(_.contains("p=3")),
      "stats-less partition must be kept")
    // carried partitions kept their stats across that commit: p=0/p=1
    // still skip
    assert(mixed.inputFiles.count(f =>
      f.contains("p=0") || f.contains("p=1")) < 8)

    // merge rewrites ONE partition and recomputes its stats (config
    // path); the untouched partition's stats carry over and still skip
    spark.conf.set("graft.lake.statsCols", "id,s")
    try Lakehouse.mergeSnapshot(spark, root,
      Seq((2L, 0, "upd")).toDF("id", "p", "s"), Seq("id"), "p")
    finally spark.conf.unset("graft.lake.statsCols")
    val afterMerge = Lakehouse.readSnapshot(spark, root,
      fileRanges = Seq(Lakehouse.ColRange("id", Some(300L), Some(320L))))
    // ids 300-320: even ids now live in the REWRITTEN single-file p=0
    // (no skip within one file), odd ids still skip in carried p=1
    assert(afterMerge.inputFiles.count(_.contains("p=1")) < 4,
      afterMerge.inputFiles.toSeq.toString)
    assert(afterMerge.filter(col("id").between(300, 320)).count() == 21L)

    // unsupported stats type is loud at commit
    val e = intercept[IllegalArgumentException] {
      Lakehouse.commitSnapshot(spark, freshDir("statsbad"), Seq(
        "" -> spark.range(3).select(array(col("id")).as("a"))),
        statsCols = Seq("a"))
    }
    assert(e.getMessage.contains("orderable"), e.getMessage)
  }

  test("AUTOMATIC data skipping: a plain df.filter on a stats column " +
    "prunes files at PLAN time through the manifest FileIndex — no " +
    "declared ranges — and the SPARQL engine rides the same scan") {
    import spark.implicits._
    val root = freshDir("autoskip")
    val rows = (0L until 400L)
      .map(i => (i, (i % 2).toInt, f"s$i%04d")).toDF("doc_id", "p", "source")
    def half(p: Int) = rows.filter(col("p") === p)
      .repartitionByRange(4, col("doc_id"))
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=0" -> half(0), "p=1" -> half(1)),
      statsCols = Seq("doc_id", "source", "p"))

    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectWithSubqueries {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    val snap = Lakehouse.readSnapshot(spark, root)
    assert(scannedFiles(snap) == 8L) // unfiltered: every file planned
    val q = snap.filter(col("doc_id").between(100L, 120L))
    val n = scannedFiles(q)
    assert(n < 8L && n >= 1L, s"expected pruned plan, scanned $n files")
    assert(q.count() == 21L)
    // string predicate prunes too; a disjunction extracts nothing (safe)
    assert(scannedFiles(snap.filter(col("source") === "s0100")) < 8L)
    assert(scannedFiles(snap.filter(col("source") === "s0100" ||
      col("doc_id") === 399L)) == 8L)
    // equality past the max prunes EVERYTHING — zero-file plan, 0 rows
    val none = snap.filter(col("doc_id") === 100000L)
    assert(none.count() == 0L)
    // coercion-inserted EXACT widening casts unwrap: an INT stats column
    // compared against a LONG literal (Catalyst casts the column) still
    // prunes; an inexact cast (int compared as double against a
    // fractional literal is fine too — int→double is exact)
    val pInt = snap.filter(col("p").cast("long") === 0L)
    assert(pInt.count() === 200L)
    val prunedCast = scannedFiles(
      snap.filter(col("p").cast("long") === 3L)) // no such partition value
    assert(prunedCast == 0L, s"cast-wrapped equality scanned $prunedCast")

    // the SPARQL engine reads through the same FileIndex: a pushed
    // FILTER plans fewer files than the unfiltered concept scan
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val g = new graft.api.Graft(graft.api.TpchCatalog.catalog, t =>
      if (t == "documents") Lakehouse.readSnapshot(spark, root)
      else spark.read.parquet(s"$sfDir/$t.parquet"))
    val sq = g.sparql(
      """PREFIX g: <urn:g:>
        |SELECT ?d ?s WHERE { ?d a g:Document ; g:source ?s .
        |  FILTER (?s = "s0100") }""".stripMargin)
    assert(sq.collect().length == 1)
    assert(scannedFiles(sq) < 8L, "SPARQL filter did not reach the skip layer")
  }

  test("stats + schema evolution through the auto-skip path: files that " +
    "PREDATE an evolved column have no stats for it and are never " +
    "pruned under its predicates (null-fill semantics intact); files " +
    "written AFTER record real bounds and skip") {
    import spark.implicits._
    val root = freshDir("evoskip")
    Lakehouse.commitSnapshot(spark, root, Seq(
      "p=a" -> (1L to 50L).map(i => (i, "a")).toDF("id", "lang"),
      "p=b" -> (51L to 100L).map(i => (i, "b")).toDF("id", "lang")),
      statsCols = Seq("id", "extra"))
    // evolve: p=b gains `extra`; p=a carries over (its files lack it)
    Lakehouse.commitSnapshot(spark, root, Seq(
      "p=b" -> (51L to 100L).map(i => (i, "b", i * 10L))
        .toDF("id", "lang", "extra")
        .repartitionByRange(4, col("extra"))),
      statsCols = Seq("id", "extra"))
    val snap = Lakehouse.readSnapshot(spark, root)
    assert(snap.columns.contains("extra"))
    // a predicate on the evolved column: p=a's old files null-fill and
    // the filter excludes them; CORRECTNESS must hold whether or not the
    // index prunes them
    val got = snap.filter(col("extra").between(600L, 700L))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == (60L to 70L).toSet, got.toString)
    // p=b's post-evolution files carry real bounds: a narrow range plans
    // a strict subset of its 4 files
    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectWithSubqueries {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metrics("numFiles").value
      }.sum
    }
    val full = snap.inputFiles.length.toLong
    assert(scanned(snap.filter(col("extra").between(600L, 700L))) < full)
    // and an id predicate still skips across BOTH epochs' files
    assert(scanned(snap.filter(col("id") < 10L)) < full)
  }

  test("stats skipping on timestamps compares in epoch-micros, not " +
    "lexically; time travel reads each snapshot's OWN stats") {
    import spark.implicits._
    val root = freshDir("statsts")
    val ts = (0L until 96L).map(i =>
      (i, java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z")
        .plusSeconds(i * 3600))))
      .toDF("id", "ts")
    Lakehouse.commitSnapshot(spark, root,
      Seq("" -> ts.repartitionByRange(4, col("ts"))),
      statsCols = Seq("ts"))
    val lo = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-01-02T00:00:00Z"))
    val hi = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-01-02T23:00:00Z"))
    val pruned = Lakehouse.readSnapshot(spark, root,
      fileRanges = Seq(Lakehouse.ColRange("ts", Some(lo), Some(hi))))
    assert(pruned.inputFiles.length < 4 && pruned.inputFiles.nonEmpty)
    assert(pruned.filter(col("ts").between(lo, hi)).count() == 24L)

    // snapshot 2 rewrites with different file layout; asOf=1 still
    // prunes with snapshot 1's stats and returns snapshot 1's rows
    Lakehouse.commitSnapshot(spark, root,
      Seq("" -> ts.filter(col("id") < 48L).repartitionByRange(2, col("ts"))),
      statsCols = Seq("ts"))
    val old = Lakehouse.readSnapshot(spark, root, asOf = Some(1),
      fileRanges = Seq(Lakehouse.ColRange("ts", Some(lo), Some(hi))))
    assert(old.inputFiles.length < 4)
    assert(old.filter(col("ts").between(lo, hi)).count() == 24L)
  }

  // ---- withSnapshotRetry ----------------------------------------------------

  test("withSnapshotRetry re-reads the base and retries after a " +
    "mid-flight competitor; a persistent loser exhausts loudly") {
    val root = freshDir("retry")
    Lakehouse.commitSnapshot(spark, root, Seq("p=a" -> part("a", 1L to 3L)))
    var attempts = 0
    val id = Lakehouse.withSnapshotRetry(spark, root) { base =>
      attempts += 1
      if (attempts == 1) // a competitor lands AFTER our base read
        Lakehouse.commitSnapshot(spark, root,
          Seq("p=c" -> part("c", 7L to 9L)))
      Lakehouse.commitSnapshot(spark, root,
        Seq("p=b" -> part("b", 4L to 6L)),
        expectedSnapshot = Some(base.getOrElse(0)))
    }
    assert(attempts == 2 && id == 3)
    assert(Lakehouse.readSnapshot(spark, root).count() == 9L)

    // a writer that ALWAYS loses (competitor injected every attempt)
    // exhausts maxAttempts with the race exception, not an infinite loop
    var n = 0
    val e = intercept[ConcurrentCommitException] {
      Lakehouse.withSnapshotRetry(spark, root, maxAttempts = 2) { base =>
        n += 1
        Lakehouse.commitSnapshot(spark, root,
          Seq("p=z" -> part("z", 50L to 51L)))
        Lakehouse.commitSnapshot(spark, root,
          Seq("p=b" -> part("b", 4L to 6L)),
          expectedSnapshot = Some(base.getOrElse(0)))
      }
    }
    assert(n == 2 && e.getMessage.contains("lost the commit race"))
  }

  test("four concurrent writers under withSnapshotRetry all land: the " +
    "CAS serializes them, every write survives, ids are dense, and the " +
    "lake equals the union of all four writes") {
    import spark.implicits._
    val root = freshDir("retrymany")
    Lakehouse.commitSnapshot(spark, root, Seq("p=seed" -> part("s", 1L to 2L)))
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        start.await()
        try Lakehouse.withSnapshotRetry(spark, root, maxAttempts = 10) {
          base =>
            Lakehouse.commitSnapshot(spark, root,
              Seq(s"p=w$i" -> part(s"w$i", (i * 10L + 1) to (i * 10L + 5))),
              expectedSnapshot = Some(base.getOrElse(0)))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"retry writers failed: ${errs.toArray.toSeq}")
    // 1 seed + 4 writers = dense ids through 5; the lake is the union
    assert(Lakehouse.currentSnapshotId(spark, root).contains(5))
    val m = Lakehouse.currentManifest(spark, root)
    assert(m.keySet == Set("p=seed", "p=w0", "p=w1", "p=w2", "p=w3"))
    assert(Lakehouse.readSnapshot(spark, root).count() == 22L)
  }

  test("per-file BLOOM sidecars: a point lookup on a high-cardinality " +
    "column prunes files min/max never could (every file spans the " +
    "value space); absent values plan ZERO files; range predicates and " +
    "stats-less columns are untouched — and the sidecars survive a " +
    "compaction sweep") {
    import spark.implicits._
    val root = freshDir("bloom")
    // high-cardinality values round-robin shuffled across 8 files: every
    // file's [min,max] covers ~the whole domain, so min/max skip is
    // useless and only the bloom can prune a point probe
    val rows = (0L until 800L)
      .map(i => (i, f"k${(i * 7919L) % 800L}%04d", s"v$i"))
      .toDF("id", "key", "v").repartition(8)
    Lakehouse.commitSnapshot(spark, root, Seq("" -> rows),
      statsCols = Seq("id", "key"), bloomCols = Seq("key"))
    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectWithSubqueries {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metrics("numFiles").value
      }.sum
    }
    val snap = Lakehouse.readSnapshot(spark, root)
    val total = snap.inputFiles.length.toLong
    assert(total >= 8L)
    // min/max alone cannot prune this probe (overlapping files) — the
    // bloom narrows it to the one true file (+ rare false positives)
    val probe = snap.filter(col("key") === "k0400")
    val nProbe = scanned(probe)
    assert(nProbe <= 2L && nProbe >= 1L,
      s"bloom point probe scanned $nProbe of $total files")
    assert(probe.count() == 1L)
    // an ABSENT value plans zero files (modulo false positives) and
    // returns zero rows either way
    val missing = snap.filter(col("key") === "zzz-not-there")
    assert(scanned(missing) <= 1L && missing.count() == 0L)
    // a RANGE on the bloom column extracts no point bound: kept whole
    assert(scanned(snap.filter(col("key") >= "k0000")) == total)
    // the declared-fileRanges path probes blooms on point equality too
    val viaRanges = Lakehouse.readSnapshot(spark, root,
      fileRanges = Seq(Lakehouse.ColRange("key",
        Some("k0400"), Some("k0400"))))
    assert(viaRanges.inputFiles.length <= 2,
      viaRanges.inputFiles.length.toString)
    assert(viaRanges.filter(col("key") === "k0400").count() == 1L)

    // a compaction sweep rewrites the generation: sidecars rebuild into
    // the new gen, the declaration carries, probes still prune
    val swept = Lakehouse.compactDrifted(spark, root, targetBytes = 1L << 26)
    assert(swept.nonEmpty, "expected the 8-file gen to compact")
    val afterSweep = Lakehouse.readSnapshot(spark, root)
    assert(afterSweep.count() == 800L)
    val probe2 = afterSweep.filter(col("key") === "k0400")
    assert(probe2.count() == 1L)
    // compacted to 1 file: the probe must still plan <= that many
    assert(scanned(probe2) <= afterSweep.inputFiles.length.toLong)
    // unsupported bloom type is loud at commit
    val e = intercept[IllegalArgumentException] {
      Lakehouse.commitSnapshot(spark, freshDir("bloombad"), Seq(
        "" -> spark.range(3).select(col("id").cast("double").as("d"))),
        bloomCols = Seq("d"))
    }
    assert(e.getMessage.contains("point-lookup"), e.getMessage)
  }

  test("zorderSnapshot: an append-ordered lake's files overlap on every " +
    "column so NOTHING prunes; after OPTIMIZE ZORDER a box on EITHER " +
    "dimension skips files — same rows, one atomic flip, stats refreshed") {
    import spark.implicits._
    val root = freshDir("zorder")
    // two independent dimensions; write order is round-robin shuffled so
    // every file spans nearly the full range of both columns
    val rows = (0L until 800L)
      .map(i => (i, (i * 7919L) % 800L, s"v$i")).toDF("id", "other", "v")
      .repartition(8)
    Lakehouse.commitSnapshot(spark, root, Seq("" -> rows),
      statsCols = Seq("id", "other"))
    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectWithSubqueries {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    def snap = Lakehouse.readSnapshot(spark, root)
    val total = snap.inputFiles.length.toLong
    assert(total >= 8L)
    // overlapping layout: a narrow box prunes nothing on either column
    assert(scanned(snap.filter(col("id") < 50L)) == total)
    assert(scanned(snap.filter(col("other") < 50L)) == total)

    val before = snap.collect().map(_.toSeq).toSet
    val sid = Lakehouse.zorderSnapshot(spark, root, "id", "other",
      bits = 10, targetBytes = 4096)
    assert(sid == 2)
    val after = Lakehouse.readSnapshot(spark, root)
    assert(after.collect().map(_.toSeq).toSet == before,
      "zorder must be content-preserving")
    val nAfter = after.inputFiles.length.toLong
    assert(nAfter >= 4L, s"expected a multi-file z layout, got $nAfter")
    // the same boxes now prune on BOTH dimensions
    val sId = scanned(after.filter(col("id") < 50L))
    val sOther = scanned(after.filter(col("other") < 50L))
    assert(sId < nAfter && sOther < nAfter,
      s"z-order skipped nothing: id=$sId other=$sOther of $nAfter")
    // the previous (unoptimized) snapshot time-travels intact
    assert(Lakehouse.readSnapshot(spark, root, asOf = Some(1))
      .count() == 800L)
  }

  test("model-based torture WITH stats + automatic skipping: every " +
    "commit records per-file stats, every read plans through the " +
    "FileIndex, and random RANGE reads equal the model after each of 20 " +
    "random ops — including after sweeps, which must refresh rewritten " +
    "partitions' stats or mis-prune") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val root = freshDir("statsmodel")
    spark.conf.set("graft.lake.statsCols", "id")
    try {
      def langOf(id: Long) = s"l${(id % 3).toInt}"
      val model = scala.collection.mutable.Map[Long, (String, String)]()
      def df(rows: Seq[(Long, String, String)]) = rows.toDF("id", "lang", "v")
      def modelRows = model.toSeq.map { case (id, (l, v)) => (id, l, v) }
      (1L to 30L).foreach(i => model(i) = (langOf(i), s"v$i"))
      Lakehouse.commitSnapshot(spark, root,
        modelRows.groupBy(_._2).toSeq.map { case (l, rs) =>
          s"lang=$l" -> df(rs) })
      var maxId = 30L

      for (step <- 1 to 20) {
        rnd.nextInt(5) match {
          case 0 =>
            val upd = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(4))
              .map(id => (id, langOf(id), s"u$step-$id"))
            val ins = (1 to 1 + rnd.nextInt(3)).map { _ =>
              maxId += 1; (maxId, langOf(maxId), s"i$step-$maxId") }
            Lakehouse.mergeSnapshot(spark, root, df(upd ++ ins),
              Seq("id"), "lang")
            (upd ++ ins).foreach { case (id, l, v) => model(id) = (l, v) }
          case 1 =>
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
            Lakehouse.applyCdcSnapshot(spark, root,
              changes.toDF("id", "lang", "v", "op"), Seq("id"), "lang")
            dels.foreach(model.remove)
            (upds ++ inss).foreach { case (id, v) =>
              model(id) = (langOf(id), v) }
          case 2 => // sweep: rewritten partitions MUST refresh stats
            Lakehouse.compactDrifted(spark, root, targetBytes = 1L << 26)
          case 3 =>
            Lakehouse.snapshotGc(spark, root, keepSnapshots = 3)
          case 4 =>
            val l = s"l${rnd.nextInt(3)}"
            val rows = modelRows.filter(_._2 == l)
            if (rows.nonEmpty)
              Lakehouse.commitSnapshot(spark, root, Seq(s"lang=$l" -> df(rows)))
        }
        // full read through the FileIndex path (stats present, no ranges)
        val lake = Lakehouse.readSnapshot(spark, root).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
        assert(lake == modelRows.toSet, s"step $step: lake diverged")
        // a random RANGE read: pushed-filter skip must equal the model
        val lo = rnd.nextLong(maxId + 1); val hi = lo + rnd.nextLong(15) + 1
        val want = modelRows.filter(t => t._1 >= lo && t._1 <= hi).toSet
        val auto = Lakehouse.readSnapshot(spark, root)
          .filter(col("id").between(lo, hi)).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
        assert(auto == want, s"step $step: auto-skip range [$lo,$hi] diverged")
        // the declared-range path agrees with it
        val decl = Lakehouse.readSnapshot(spark, root,
          fileRanges = Seq(Lakehouse.ColRange("id", Some(lo), Some(hi))))
          .filter(col("id").between(lo, hi)).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
        assert(decl == want, s"step $step: declared range [$lo,$hi] diverged")
      }
    } finally spark.conf.unset("graft.lake.statsCols")
  }

  test("mergeSnapshot keeps the skip layer of a lake committed with " +
    "explicit statsCols and no session default: the merged partition " +
    "still records per-file stats and a point read prunes its files") {
    import spark.implicits._
    val root = freshDir("statscarry")
    assert(spark.conf.getOption("graft.lake.statsCols").isEmpty)
    def side(lang: String, ids: Seq[Long]) =
      part(lang, ids).repartitionByRange(8, col("id"))
    Lakehouse.commitSnapshot(spark, root, Seq(
      "lang=a" -> side("a", 0L until 400L),
      "lang=b" -> side("b", 400L until 800L)), statsCols = Seq("id"))
    Lakehouse.mergeSnapshot(spark, root,
      Seq((5L, "a", "upd"), (900L, "a", "new")).toDF("id", "lang", "v"),
      Seq("id"), "lang")
    // every committed file of the merged partition has an `id` stats line
    val src = scala.io.Source.fromFile(s"$root/_graft_lake/snap-00000002")
    val lines = try src.getLines().toList finally src.close()
    def filesOn(tag: String) = lines.map(_.split("\t", -1))
      .collect { case f if f(0) == tag && f(1) == "lang=a" => f }
    val files = filesOn("#file").map(_(2)).toSet
    val statted = filesOn("#stats").filter(_(3) == "id").map(_(2)).toSet
    assert(files.nonEmpty && statted == files,
      s"the merged partition lost its stats: $statted of $files")
    def filesOfA(ranges: Seq[Lakehouse.ColRange]) =
      Lakehouse.readSnapshot(spark, root, partitionFilter = _ == "lang=a",
        fileRanges = ranges).inputFiles.length
    val all = filesOfA(Nil)
    val point = filesOfA(Seq(Lakehouse.ColRange("id", Some(5L), Some(5L))))
    assert(point < all, s"point read opened $point of $all files")
    assert(Lakehouse.readSnapshot(spark, root)
      .filter(col("id") === 5L).collect().map(_.getString(2)).toSeq ==
      Seq("upd"))
  }

  // ---- the retired marker-generation layout -------------------------------

  test("a root left by the retired marker-generation layout is refused " +
    "loudly by resolution, compaction and adoption; a crashed first " +
    "snapshot commit's relics are not mistaken for it") {
    import spark.implicits._
    def rows(n: Long) = (1L to n).map(i => (i, s"s$i")).toDF("id", "s")
    for (gen <- Seq("_gen-00000002", "gen-00000002")) {
      val root = freshDir("legacy")
      rows(300L).repartition(4).write.parquet(s"$root/$gen")
      rows(10L).write.mode("append").parquet(root) // stale loose files
      val errs = Seq(
        intercept[IllegalStateException] {
          Lakehouse.resolveCompacted(spark, root) },
        intercept[IllegalStateException] {
          Lakehouse.compactFiles(spark, root, 1L << 26) },
        intercept[IllegalStateException] {
          Lakehouse.commitSnapshot(spark, root, Seq("" -> rows(5L))) })
      errs.foreach(e => assert(e.getMessage.contains(gen), e.getMessage))
      assert(Lakehouse.currentSnapshotId(spark, root).isEmpty)
    }
    // a first "" commit that crashed before its manifest put leaves a
    // writer-unique generation and the sentinel: the retry adopts
    val root = freshDir("crashedfirst")
    rows(3L).write.parquet(s"$root/_gen-${"0" * 31}1")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(root, Lakehouse.Sentinel)).close()
    assert(Lakehouse.commitSnapshot(spark, root, Seq("" -> rows(5L))) == 1)
    assert(Lakehouse.readCompacted(spark, root).count() == 5L)
  }

  // ---- OPTIONAL over a remote SERVICE: the left-outer bind join ------------

  test("OPTIONAL { SERVICE <remote> } compiles to a LEFT-OUTER bind join " +
    "with the measured-key window: ONE VALUES request instead of paging " +
    "the whole remote result, unmatched left rows null-pad, answers " +
    "identical to the full-fetch path — and an inner-var FILTER ships " +
    "inside the batch query") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import graft.api.{Graft, GraftServer, TpchCatalog}
    val g = Graft.overParquetDir(TpchCatalog.catalog, sfDir)
    val server = new GraftServer(g)
    val port = server.start()
    try {
      // customers OPTIONALly joined to their remote orders: the ~1/3 of
      // customers without orders must survive with ?tp unbound
      val q =
        s"""PREFIX g: <urn:g:>
           |SELECT ?c ?n ?tp WHERE {
           |  ?c a g:Customer ; g:name ?n .
           |  OPTIONAL { SERVICE <http://127.0.0.1:$port/sparql> {
           |    ?o g:customer ?c ; g:totalprice ?tp } }
           |} ORDER BY ?c ?tp""".stripMargin
      // loopback safety: ≤2 concurrent fetch tasks under local[4]
      spark.conf.set("graft.service.bindJoin.maxConcurrentFetch", "2")
      def run(query: String, bind: Boolean): (Seq[Seq[Any]], Long) = {
        spark.conf.set("graft.service.bindJoin", bind.toString)
        val q0 = server.queriesServed.get()
        val rows = g.sparql(query).collect().map(_.toSeq).toSeq
        (rows, server.queriesServed.get() - q0)
      }
      val (bound, reqBound) = run(q, bind = true)
      val (full, reqFull)   = run(q, bind = false)
      assert(bound == full && bound.nonEmpty, "bind-join OPTIONAL diverged")
      // 150 distinct customers → one 512-cap VALUES window = ONE request;
      // the full fetch pays its paged-scan sizing probes + pages
      assert(reqBound == 1, s"bound OPTIONAL sent $reqBound requests")
      assert(reqFull > 1, s"full fetch sent $reqFull requests")
      assert(bound.forall(_.last != null),
        "sf0.001 fixture: every customer has orders — all ?tp bound")

      // a FILTER at the OPTIONAL group level over INNER vars ships inside
      // the batch query (the LeftJoin-condition path): answers match the
      // unbatched run, still one request
      val qf =
        s"""PREFIX g: <urn:g:>
           |SELECT ?c ?n ?tp WHERE {
           |  ?c a g:Customer ; g:name ?n .
           |  OPTIONAL { SERVICE <http://127.0.0.1:$port/sparql> {
           |    ?o g:customer ?c ; g:totalprice ?tp }
           |    FILTER (?tp > 400000) }
           |} ORDER BY ?c ?tp""".stripMargin
      val (boundF, reqBoundF) = run(qf, bind = true)
      val (fullF, _)          = run(qf, bind = false)
      assert(boundF == fullF && boundF.nonEmpty,
        "filtered bind-join OPTIONAL diverged")
      assert(reqBoundF == 1, s"filtered OPTIONAL sent $reqBoundF requests")
      // the filter reclassifies some matched customers as UNMATCHED:
      // they must survive null-padded (left-outer), not vanish (inner)
      assert(boundF.count(_.last == null) > 0 &&
        boundF.exists(_.last != null), boundF.take(3).toString)
    } finally {
      spark.conf.unset("graft.service.bindJoin")
      spark.conf.unset("graft.service.bindJoin.maxConcurrentFetch")
      server.stop()
    }
  }

  // ---- the snapshot lake as an engine source --------------------------------

  test("a snapshot-managed lake is an ENGINE source: SPARQL reads the " +
    "manifest's committed epoch — current or asOf — answer-identical to " +
    "the plain engine over the same content; the JSON config wires " +
    "type 'snapshot'") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val root = freshDir("engsrc")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def half(p: Int) = docs.filter(col("doc_id") % 2 === p)
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=0" -> half(0), "p=1" -> half(1)))
    Lakehouse.commitSnapshot(spark, root, Seq(
      "p=0" -> half(0).filter(col("doc_id") % 3 =!= 0),
      "p=1" -> half(1).filter(col("doc_id") % 3 =!= 0)))
    val q =
      """PREFIX g: <urn:g:>
        |SELECT ?d ?src WHERE { ?d a g:Document ; g:source ?src }
        |ORDER BY ?d""".stripMargin
    def cfg(asOf: String) =
      s"""{
         |  "datasources": [{"table": "documents", "type": "snapshot",
         |    "url": "$root"$asOf}],
         |  "molecules": [
         |    {"type": "urn:g:Document", "table": "documents",
         |     "subject": "urn:g:doc:{doc_id}", "source": "srcD",
         |     "predicates": [
         |       {"predicate": "urn:g:source", "column": "source"}]}]
         |}""".stripMargin
    val plain = graft.api.Graft.overParquetDir(
      graft.api.TpchCatalog.catalog, sfDir).sparql(q)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // current epoch = the takedown pass
    val cur = graft.api.GraftConfig.parse(cfg("")).graft.sparql(q)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val want = plain.filterNot(_._1.stripPrefix("urn:g:doc:").toLong % 3 == 0)
    assert(cur == want && cur.nonEmpty)
    // asOf epoch 1 = the original table, bit-for-bit the plain engine
    val old = graft.api.GraftConfig.parse(
      cfg(""", "params": {"asOf": "1"}""")).graft.sparql(q)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(old == plain)
    // a TAG pins the same epoch by stable name through the config
    Lakehouse.tagSnapshot(spark, root, "audited", 1)
    val tagged = graft.api.GraftConfig.parse(
      cfg(""", "params": {"tag": "audited"}""")).graft.sparql(q)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(tagged == plain)
    // pinning BOTH is a config error, loudly
    val e = intercept[IllegalArgumentException] {
      graft.sources.SnapshotSource(root, asOf = Some(1),
        tag = Some("audited"))
    }
    assert(e.getMessage.contains("not both"), e.getMessage)
    // a BRANCH config reads the un-published lineage — the audit query
    Lakehouse.createBranch(spark, root, "wip")
    Lakehouse.commitSnapshot(spark, root, Seq(
      "p=0" -> half(0).filter(col("doc_id") % 3 =!= 0)
        .filter(col("doc_id") % 5 =!= 0)), branch = "wip")
    val branched = graft.api.GraftConfig.parse(
      cfg(""", "params": {"branch": "wip"}""")).graft.sparql(q)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val wantWip = cur.filterNot { case (dUri, _) =>
      val id = dUri.stripPrefix("urn:g:doc:").toLong
      id % 2 == 0 && id % 5 == 0
    }
    assert(branched == wantWip && branched.size < cur.size)
    // main (the plain snapshot config) still reads the takedown epoch
    val mainAgain = graft.api.GraftConfig.parse(cfg("")).graft.sparql(q)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(mainAgain == cur)
    Lakehouse.deleteBranch(spark, root, "wip")
  }

  test("snapshotHistory + TIMESTAMP AS OF: the lineage reports each kept " +
    "epoch's shape, and snapshotIdAt resolves a wall-clock instant to " +
    "the snapshot current THEN — before-the-table is loud") {
    import spark.implicits._
    val root = freshDir("history")
    Lakehouse.commitSnapshot(spark, root, Seq("p=a" -> part("a", 1L to 3L)),
      statsCols = Seq("id"))
    val betweenCommits = System.currentTimeMillis()
    Thread.sleep(20) // mtime granularity
    Lakehouse.commitSnapshot(spark, root, Seq(
      "p=a" -> part("a", 1L to 3L), "p=b" -> part("b", 4L to 9L)),
      statsCols = Seq("id"))
    val h = Lakehouse.snapshotHistory(spark, root).collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(h.map(_.getInt(2)).toSeq == Seq(1, 2)) // partition counts
    assert(h.forall(_.getSeq[String](4) == Seq("id"))) // stats cols
    // timestamp time travel: the instant between the commits reads v1
    val idThen = Lakehouse.snapshotIdAt(spark, root, betweenCommits)
    assert(idThen == 1)
    assert(Lakehouse.readSnapshot(spark, root,
      asOf = Some(idThen)).count() == 3L)
    assert(Lakehouse.snapshotIdAt(spark, root,
      System.currentTimeMillis()) == 2)
    val e = intercept[IllegalArgumentException] {
      Lakehouse.snapshotIdAt(spark, root, 1000L) // 1970: pre-table
    }
    assert(e.getMessage.contains("no snapshot"), e.getMessage)
  }

  test("OPTIONAL service bind join edges: past maxKeys it falls back to " +
    "the full paged fetch with IDENTICAL answers; a SILENT dead endpoint " +
    "pads the service vars unbound instead of failing the query") {
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
           |  OPTIONAL { SERVICE <http://127.0.0.1:$port/sparql> {
           |    ?o g:customer ?c ; g:totalprice ?tp } }
           |} ORDER BY ?c ?tp""".stripMargin
      spark.conf.set("graft.service.bindJoin.maxConcurrentFetch", "2")
      val bound = g.sparql(q).collect().map(_.toSeq).toSeq
      // 150 customers > maxKeys=10 ⇒ the bind join declines and the
      // full paged fetch must answer identically (left-outer preserved)
      spark.conf.set("graft.service.bindJoin.maxKeys", "10")
      try assert(g.sparql(q).collect().map(_.toSeq).toSeq == bound)
      finally spark.conf.unset("graft.service.bindJoin.maxKeys")

      // SILENT + dead endpoint: every customer survives, ?tp unbound
      val dead =
        """PREFIX g: <urn:g:>
          |SELECT ?c ?n ?tp WHERE {
          |  ?c a g:Customer ; g:name ?n .
          |  OPTIONAL { SERVICE SILENT <http://127.0.0.1:19/sparql> {
          |    ?o g:customer ?c ; g:totalprice ?tp } }
          |} ORDER BY ?c""".stripMargin
      val padded = g.sparql(dead).collect()
      assert(padded.length == 150 && padded.forall(_.get(2) == null))
    } finally {
      spark.conf.unset("graft.service.bindJoin.maxConcurrentFetch")
      server.stop()
    }
  }

  // ---- control characters in partition values (r16 ADVICE medium) ----------

  test("a partition VALUE carrying control characters fails loudly " +
    "BEFORE any write — a newline would split its manifest line and " +
    "brick every later read of the lake's current state") {
    import spark.implicits._
    val root = freshDir("ctl")
    Lakehouse.commitSnapshot(spark, root,
      Seq("lang=a" -> part("a", 1L to 3L)))
    for (bad <- Seq("a\nb", "a\rb", "a\tb", "a/../b")) {
      val delta = Seq((9L, bad, "v9")).toDF("id", "lang", "v")
      val e = intercept[IllegalArgumentException] {
        Lakehouse.mergeSnapshot(spark, root, delta, Seq("id"), "lang")
      }
      assert(e.getMessage.contains("partition value"), e.getMessage)
    }
    // nothing committed, nothing corrupted: the lake still reads
    assert(Lakehouse.currentSnapshotId(spark, root).contains(1))
    assert(Lakehouse.readSnapshot(spark, root).count() == 3L)
    // the same guard covers explicit commit rels
    val e2 = intercept[IllegalArgumentException] {
      Lakehouse.commitSnapshot(spark, root,
        Seq("lang=a\nb" -> part("x", 1L to 2L)))
    }
    assert(e2.getMessage.contains("bad partition-relative dir"),
      e2.getMessage)
  }

  test("deleteSnapshot: ANSI DELETE semantics, partition-pruned rewrite " +
    "(untouched manifest entries carry their gens verbatim), time travel " +
    "intact, no-match is a committed no-op, NULL predicate keeps the row") {
    import spark.implicits._
    val root = freshDir("del")
    Lakehouse.commitSnapshot(spark, root,
      Seq("lang=a" -> part("a", 1L to 10L),
        "lang=b" -> part("b", 11L to 20L),
        "lang=c" -> part("c", 21L to 30L)))
    val before = Lakehouse.currentManifest(spark, root)
    // predicate hits only lang=b rows
    val id2 = Lakehouse.deleteSnapshot(spark, root,
      col("lang") === "b" && col("id") % 2 === 0)
    assert(id2 == 2)
    val after = Lakehouse.currentManifest(spark, root)
    // ONLY lang=b rewrote; a and c carried over byte-free
    assert(after("lang=a") == before("lang=a"))
    assert(after("lang=c") == before("lang=c"))
    assert(after("lang=b") != before("lang=b"))
    val cur = Lakehouse.readSnapshot(spark, root)
      .select("id").as[Long].collect().sorted
    assert(cur.toSeq == ((1L to 10L) ++ Seq(11L, 13L, 15L, 17L, 19L) ++
      (21L to 30L)))
    // the pre-delete snapshot still reads in full
    assert(Lakehouse.readSnapshot(spark, root, asOf = Some(1))
      .count() == 30L)
    // no-match: committed no-op, id unchanged, manifest unchanged
    assert(Lakehouse.deleteSnapshot(spark, root, col("id") > 1000L) == 2)
    assert(Lakehouse.currentManifest(spark, root) == after)
    // SQL NULL semantics: a NULL predicate KEEPS the row
    val root2 = freshDir("deln")
    val withNulls = Seq((1L, "a", "x"), (2L, "a", null), (3L, "a", "x"))
      .toDF("id", "lang", "v")
    Lakehouse.commitSnapshot(spark, root2, Seq("lang=a" -> withNulls))
    Lakehouse.deleteSnapshot(spark, root2, col("v") === "x")
    assert(Lakehouse.readSnapshot(spark, root2)
      .select("id").as[Long].collect().toSeq == Seq(2L))
    // non-deterministic predicates are refused before any work
    val e = intercept[IllegalArgumentException] {
      Lakehouse.deleteSnapshot(spark, root2, rand() < 0.5)
    }
    assert(e.getMessage.contains("deterministic"), e.getMessage)
  }

  test("DML on URL-encodable partition values: input_file_name returns " +
    "encoded paths, so DELETE/UPDATE on a 'lang=a b' partition must " +
    "decode before matching manifest dirs — not throw 'modified outside " +
    "the commit protocol'") {
    import spark.implicits._
    val root = freshDir("urlenc")
    val t = Seq((1L, "a b", "x"), (2L, "a b", "y"), (3L, "plain", "z"))
      .toDF("id", "lang", "v")
    Lakehouse.commitSnapshot(spark, root,
      Seq("lang=a b" -> t.filter(col("lang") === "a b"),
        "lang=plain" -> t.filter(col("lang") === "plain")))
    Lakehouse.deleteSnapshot(spark, root, col("id") === 1L)
    assert(Lakehouse.readSnapshot(spark, root)
      .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    Lakehouse.updateSnapshot(spark, root, col("id") === 2L,
      Seq("v" -> lit("updated")))
    assert(Lakehouse.readSnapshot(spark, root)
      .filter(col("id") === 2L).select("v").as[String].head() == "updated")
  }

  test("updateSnapshot: SET evaluates against the OLD row (a swap " +
    "swaps), NULL predicate rows stay, loud on unknown columns, type " +
    "changes, and partition-layout columns") {
    import spark.implicits._
    val root = freshDir("upd")
    val t = Seq((1L, "a", 10L, 100L), (2L, "a", 20L, 200L),
      (3L, "b", 30L, 300L))
      .toDF("id", "lang", "x", "y")
    Lakehouse.commitSnapshot(spark, root,
      Seq("lang=a" -> t.filter(col("lang") === "a"),
        "lang=b" -> t.filter(col("lang") === "b")))
    val before = Lakehouse.currentManifest(spark, root)
    // the swap: both RHS must see the OLD row, not chained withColumns
    Lakehouse.updateSnapshot(spark, root, col("id") === 1L,
      Seq("x" -> col("y"), "y" -> col("x")))
    val got = Lakehouse.readSnapshot(spark, root)
      .orderBy("id").select("x", "y").as[(Long, Long)].collect().toSeq
    assert(got == Seq((100L, 10L), (20L, 200L), (30L, 300L)))
    // only lang=a rewrote
    val after = Lakehouse.currentManifest(spark, root)
    assert(after("lang=b") == before("lang=b"))
    assert(after("lang=a") != before("lang=a"))
    // unknown SET column: schema evolution is commitSnapshot's job
    val e1 = intercept[IllegalArgumentException] {
      Lakehouse.updateSnapshot(spark, root, lit(true),
        Seq("nope" -> lit(1L)))
    }
    assert(e1.getMessage.contains("not in the committed schema"),
      e1.getMessage)
    // type change: loud
    val e2 = intercept[IllegalArgumentException] {
      Lakehouse.updateSnapshot(spark, root, col("id") === 1L,
        Seq("x" -> lit("a string")))
    }
    assert(e2.getMessage.contains("cannot change the type"), e2.getMessage)
    // partition-layout column of a touched partition: loud
    val e3 = intercept[IllegalArgumentException] {
      Lakehouse.updateSnapshot(spark, root, col("id") === 1L,
        Seq("lang" -> lit("zz")))
    }
    assert(e3.getMessage.contains("partition-layout"), e3.getMessage)
    // NULL predicate keeps the old values (SQL UPDATE semantics)
    val root2 = freshDir("updn")
    Lakehouse.commitSnapshot(spark, root2, Seq("" ->
      Seq((1L, Some(5L)), (2L, None)).toDF("id", "n")))
    Lakehouse.updateSnapshot(spark, root2, col("n") > 0L,
      Seq("n" -> (col("n") + 1L)))
    assert(Lakehouse.readSnapshot(spark, root2).orderBy("id")
      .select("n").collect().map(r =>
        if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq == Seq(6L, -1L))
  }

  test("rollbackSnapshot: metadata-only restore — content equals the " +
    "target snapshot, gens are REUSED (zero data I/O), history stays " +
    "readable, rolling back the rollback works, non-kept ids are loud") {
    import spark.implicits._
    val root = freshDir("rb")
    Lakehouse.commitSnapshot(spark, root,
      Seq("lang=a" -> part("a", 1L to 8L)))
    Lakehouse.deleteSnapshot(spark, root, col("id") <= 4L) // snap 2
    val man1 = Lakehouse.currentManifest(spark, root, asOf = Some(1))
    val id3 = Lakehouse.rollbackSnapshot(spark, root, toId = 1)
    assert(id3 == 3)
    // the restored manifest maps to snapshot 1's EXACT gen dirs
    assert(Lakehouse.currentManifest(spark, root) == man1)
    assert(Lakehouse.readSnapshot(spark, root).count() == 8L)
    // every epoch stays readable (history preserved, not erased)
    assert(Lakehouse.readSnapshot(spark, root, asOf = Some(2))
      .count() == 4L)
    // rollback of the rollback: back to the post-delete state
    assert(Lakehouse.rollbackSnapshot(spark, root, toId = 2) == 4)
    assert(Lakehouse.readSnapshot(spark, root).count() == 4L)
    // no-op on the current id
    assert(Lakehouse.rollbackSnapshot(spark, root, toId = 4) == 4)
    assert(Lakehouse.currentSnapshotId(spark, root).contains(4))
    // a GC'd / never-committed id is refused
    val e = intercept[IllegalArgumentException] {
      Lakehouse.rollbackSnapshot(spark, root, toId = 99)
    }
    assert(e.getMessage.contains("not kept"), e.getMessage)
  }

  test("snapshotChanges: I/U/D between epochs reading ONLY " +
    "manifest-changed partitions (untouched gen dirs never planned), " +
    "direction inverts with the ids, evolved columns null-fill, " +
    "same-epoch diff is empty") {
    import spark.implicits._
    val root = freshDir("chg")
    val base = (1L to 30L).map(i => (i, (i % 3).toInt, s"v$i"))
      .toDF("id", "p", "v")
    Lakehouse.commitSnapshot(spark, root,
      (0 to 2).map(i => s"p=$i" -> base.filter(col("p") === i)))
    // epoch 2: delete even ids in p=1 ONLY — p=0/p=2 entries unchanged
    Lakehouse.deleteSnapshot(spark, root,
      col("p") === 1 && col("id") % 2 === 0)
    val chg = Lakehouse.snapshotChanges(spark, root, 1, 2, Seq("id"))
    val rows = chg.orderBy("id")
      .select("id", "change_type").as[(Long, String)].collect().toSeq
    assert(rows == Seq(4L, 10L, 16L, 22L, 28L).map(_ -> "D"))
    // pruning: the diff's scan plans ONLY p=1's generation dirs
    val files = chg.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains("/p=1/")),
      s"unchanged partitions were read: ${files.filterNot(_.contains("/p=1/")).take(3)}")
    // old values ride along on a D row
    val d4 = chg.filter(col("id") === 4L)
      .select("old_v", "new_v").collect().head
    assert(d4.getString(0) == "v4" && d4.isNullAt(1))
    // direction inverts: 2 -> 1 reports the same keys as inserts
    assert(Lakehouse.snapshotChanges(spark, root, 2, 1, Seq("id"))
      .select("change_type").distinct().as[String].collect().toSeq ==
      Seq("I"))
    // same epoch: empty, correct shape
    val same = Lakehouse.snapshotChanges(spark, root, 2, 2, Seq("id"))
    assert(same.count() == 0L &&
      same.columns.toSeq == Seq("id", "change_type", "old_p", "new_p",
        "old_v", "new_v"))
    // a NEW partition in the target epoch: pure inserts, even though the
    // source epoch has no changed partition to read
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=3" -> Seq((100L, 3, "x")).toDF("id", "p", "v")))
    assert(Lakehouse.snapshotChanges(spark, root, 2, 3, Seq("id"))
      .select("id", "change_type").as[(Long, String)].collect().toSeq ==
      Seq(100L -> "I"))
    // schema evolution between the epochs: the old side null-fills the
    // evolved column instead of failing the diff
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=3" -> Seq((100L, 3, "x", 7L)).toDF("id", "p", "v", "extra")))
    val ev = Lakehouse.snapshotChanges(spark, root, 3, 4, Seq("id"))
      .filter(col("id") === 100L).collect().head
    assert(ev.getAs[String]("change_type") == "U")
    assert(ev.isNullAt(ev.fieldIndex("old_extra")) &&
      ev.getAs[Long]("new_extra") == 7L)
  }

  test("repartitionSnapshot: one staged pass + renames rewrite the " +
    "layout atomically — content identical, new-layout partition " +
    "pruning works, the OLD layout stays time-travelable, stats carry " +
    "to the new files, nulls and escape-needing values are loud") {
    import spark.implicits._
    val root = freshDir("rp")
    val t = (1L to 30L).map(i =>
      (i, if (i % 2 == 0) "en" else "de", (i % 3).toInt))
      .toDF("id", "lang", "p")
    Lakehouse.commitSnapshot(spark, root,
      (0 to 2).map(i => s"p=$i" -> t.filter(col("p") === i)),
      statsCols = Seq("id"))
    val id2 = Lakehouse.repartitionSnapshot(spark, root, "lang")
    assert(id2 == 2)
    // same table, new manifest keys
    val cur = Lakehouse.readSnapshot(spark, root)
    assert(cur.orderBy("id").select("id", "lang", "p")
      .as[(Long, String, Int)].collect().toSeq ==
      (1L to 30L).map(i => (i, if (i % 2 == 0) "en" else "de",
        (i % 3).toInt)))
    assert(Lakehouse.currentManifest(spark, root).keySet ==
      Set("lang=en", "lang=de"))
    // new-layout partition pruning: a lang-filtered read plans only the
    // lang=en generation's files
    val en = Lakehouse.readSnapshot(spark, root,
      partitionFilter = _ == "lang=en")
    assert(en.count() == 15L &&
      en.inputFiles.forall(_.contains("/lang=en/")))
    // stats carried to the new layout: the id skip layer still prunes
    val manStats = Lakehouse.readSnapshot(spark, root,
      fileRanges = Seq(Lakehouse.ColRange("id", Some(1L), Some(1L))))
    assert(manStats.inputFiles.length < cur.inputFiles.length,
      "per-file id stats did not survive the layout rewrite")
    // the old layout is one time travel away
    val old = Lakehouse.readSnapshot(spark, root, asOf = Some(1))
    assert(old.count() == 30L &&
      old.inputFiles.forall(_.contains("/p=")))
    // loud contracts: null partition values, hive-escape-needing values
    val root2 = freshDir("rpn")
    Lakehouse.commitSnapshot(spark, root2, Seq("" ->
      Seq((1L, "a"), (2L, null)).toDF("id", "k")))
    val e1 = intercept[IllegalArgumentException] {
      Lakehouse.repartitionSnapshot(spark, root2, "k")
    }
    assert(e1.getMessage.contains("NULL k"), e1.getMessage)
    val root3 = freshDir("rpe")
    Lakehouse.commitSnapshot(spark, root3, Seq("" ->
      Seq((1L, "a:b")).toDF("id", "k"))) // ':' is hive-escaped
    val e2 = intercept[IllegalArgumentException] {
      Lakehouse.repartitionSnapshot(spark, root3, "k")
    }
    assert(e2.getMessage.contains("escap"), e2.getMessage)
    // the failed attempts left no staging relics behind a later GC
    Lakehouse.snapshotGc(spark, root3, keepSnapshots = 1)
    assert(Lakehouse.readSnapshot(spark, root3).count() == 1L)
  }

  test("snapshot tags: immutable names pin epochs against GC until " +
    "deleted; resolution, listing, and every misuse is loud") {
    import spark.implicits._
    val root = freshDir("tag")
    Lakehouse.commitSnapshot(spark, root, Seq("p=a" -> part("a", 1L to 8L)))
    Lakehouse.tagSnapshot(spark, root, "v1", 1)
    Lakehouse.deleteSnapshot(spark, root, col("id") <= 4L) // snap 2
    Lakehouse.deleteSnapshot(spark, root, col("id") === 5L) // snap 3
    assert(Lakehouse.listTags(spark, root) == Seq("v1" -> 1))
    // GC to one kept snapshot: the tagged epoch 1 SURVIVES, untagged 2 dies
    Lakehouse.snapshotGc(spark, root, keepSnapshots = 1)
    assert(Lakehouse.readSnapshot(spark, root,
      asOf = Some(Lakehouse.tagSnapshotId(spark, root, "v1")))
      .count() == 8L)
    intercept[IllegalArgumentException] {
      Lakehouse.readSnapshot(spark, root, asOf = Some(2))
    }
    // immutable: re-tagging the name is loud
    val e = intercept[IllegalArgumentException] {
      Lakehouse.tagSnapshot(spark, root, "v1", 3)
    }
    assert(e.getMessage.contains("immutable"), e.getMessage)
    // tagging a dead epoch is loud; bad names are loud
    intercept[IllegalArgumentException] {
      Lakehouse.tagSnapshot(spark, root, "v2", 2)
    }
    intercept[IllegalArgumentException] {
      Lakehouse.tagSnapshot(spark, root, "../escape", 3)
    }
    // delete the tag: the next GC reclaims epoch 1
    Lakehouse.deleteTag(spark, root, "v1")
    intercept[IllegalArgumentException] {
      Lakehouse.tagSnapshotId(spark, root, "v1")
    }
    Lakehouse.snapshotGc(spark, root, keepSnapshots = 1)
    intercept[IllegalArgumentException] {
      Lakehouse.readSnapshot(spark, root, asOf = Some(1))
    }
    assert(Lakehouse.readSnapshot(spark, root).count() == 3L)
  }

  test("model-based DML torture: 24 random delete/update/rollback/" +
    "repartition/merge/GC/tag/WAP ops — the lake equals the model after " +
    "every op, every kept epoch time-travels to ITS model, and " +
    "snapshotChanges replayed onto the previous epoch's model " +
    "reproduces the current one") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    val root = freshDir("dmlmodel")
    // the skip layer rides along: every commit in the torture records
    // per-file id stats via the session default, and the range-read
    // invariant below proves DML/rollback/repartition/FF never corrupt it
    spark.conf.set("graft.lake.statsCols", "id")
    def langOf(id: Long) = s"l${(id % 3).toInt}"
    def grpOf(id: Long) = s"g${(id % 2).toInt}"
    type Rec = (Long, String, String, String) // id, lang, grp, v
    def df(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("id", "lang", "grp", "v")
    val model = scala.collection.mutable.Map[Long, Rec]()
    (1L to 30L).foreach(i => model(i) = (i, langOf(i), grpOf(i), s"v$i"))
    var layout = "lang"
    Lakehouse.commitSnapshot(spark, root,
      model.values.toSeq.groupBy(_._2).toSeq.map { case (l, rs) =>
        s"lang=$l" -> df(rs) })
    var maxId = 30L
    val epochModels = scala.collection.mutable.Map[Int, Map[Long, Rec]]()
    val layoutByEpoch = scala.collection.mutable.Map[Int, String]()
    def record(id: Int): Unit = {
      epochModels(id) = model.toMap; layoutByEpoch(id) = layout
    }
    record(1)
    var tagSeq = 0
    def keptIds: Seq[Int] = Lakehouse.snapshotHistory(spark, root)
      .select("snapshot_id").collect().map(_.getInt(0)).toSeq.sorted

    for (step <- 1 to 24) {
      val prev = Lakehouse.currentSnapshotId(spark, root).get
      rnd.nextInt(10) match {
        case 0 => // MERGE upd + ins
          val upd = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(4))
            .map(id => (id, langOf(id), grpOf(id), s"m$step-$id"))
          val ins = (1 to 1 + rnd.nextInt(3)).map { _ =>
            maxId += 1; (maxId, langOf(maxId), grpOf(maxId), s"i$step-$maxId") }
          val nid0 = Lakehouse.mergeSnapshot(spark, root, df(upd ++ ins),
            Seq("id"), layout)
          (upd ++ ins).foreach(r => model(r._1) = r)
          record(nid0)
        case 1 => // DELETE by modulus, never emptying the lake
          val k = 2 + rnd.nextInt(5); val m = rnd.nextInt(k)
          val doomed = model.keys.filter(_ % k == m).toSet
          if (doomed.size < model.size) {
            val nid1 = Lakehouse.deleteSnapshot(spark, root,
              col("id") % k === m)
            doomed.foreach(model.remove)
            record(nid1)
          }
        case 2 => // UPDATE v where id % k == m (never the layout cols)
          val k = 2 + rnd.nextInt(5); val m = rnd.nextInt(k)
          val nid2 = Lakehouse.updateSnapshot(spark, root,
            col("id") % k === m,
            Seq("v" -> concat(lit(s"u$step:"), col("v"))))
          model.keys.filter(_ % k == m).toSeq.foreach { id =>
            val r = model(id); model(id) = r.copy(_4 = s"u$step:${r._4}")
          }
          record(nid2)
        case 3 => // ROLLBACK to a random kept epoch
          val target = keptIds(rnd.nextInt(keptIds.size))
          val nid = Lakehouse.rollbackSnapshot(spark, root, target)
          model.clear(); epochModels(target).values.foreach(r =>
            model(r._1) = r)
          layout = layoutByEpoch(target)
          record(nid)
        case 4 => // LAYOUT EVOLUTION: flip the partition scheme
          layout = if (layout == "lang") "grp" else "lang"
          record(Lakehouse.repartitionSnapshot(spark, root, layout))
        case 5 =>
          Lakehouse.snapshotGc(spark, root, keepSnapshots = 3)
        case 6 => // tag management: pin a random epoch, sometimes unpin
          val tags = Lakehouse.listTags(spark, root)
          if (tags.nonEmpty && rnd.nextBoolean())
            Lakehouse.deleteTag(spark, root, tags.head._1)
          else {
            tagSeq += 1
            Lakehouse.tagSnapshot(spark, root, s"t$tagSeq",
              keptIds(rnd.nextInt(keptIds.size)))
          }
        case 7 => // full-partition rewrite under the CURRENT layout
          val vs = model.values.map(r =>
            if (layout == "lang") r._2 else r._3).toSeq.distinct
          val v = vs(rnd.nextInt(vs.size))
          val rows = model.values.toSeq.filter(r =>
            (if (layout == "lang") r._2 else r._3) == v)
          record(Lakehouse.commitSnapshot(spark, root,
            Seq(s"$layout=$v" -> df(rows))))
        case 8 => // WRITE-AUDIT-PUBLISH a partition rewrite
          val vs = model.values.map(r =>
            if (layout == "lang") r._2 else r._3).toSeq.distinct
          val v = vs(rnd.nextInt(vs.size))
          val rows = model.values.toSeq
            .filter(r => (if (layout == "lang") r._2 else r._3) == v)
            .map(r => r.copy(_4 = s"w$step:${r._4}"))
          val token = Lakehouse.stageSnapshot(spark, root,
            Seq(s"$layout=$v" -> df(rows)))
          // stage is invisible: the lake still equals the model
          assert(Lakehouse.readSnapshot(spark, root).count() ==
            model.size.toLong, s"step $step: stage leaked into readers")
          // audit the staged bytes, then publish or abandon
          val audited = Lakehouse.readStaged(spark, root, token).count()
          assert(audited == model.size.toLong,
            s"step $step: staged content wrong")
          if (rnd.nextBoolean()) {
            val nid = Lakehouse.publishStaged(spark, root, token)
            rows.foreach(r => model(r._1) = r)
            record(nid)
          } else Lakehouse.abandonStaged(spark, root, token)
        case 9 => // BRANCH detour: evolve on a branch, fast-forward back
          Lakehouse.createBranch(spark, root, s"b$step")
          val vs = model.values.map(r =>
            if (layout == "lang") r._2 else r._3).toSeq.distinct
          val touched = rnd.shuffle(vs).take(1 + rnd.nextInt(2))
          val newRows = touched.map { v =>
            val rows = model.values.toSeq
              .filter(r => (if (layout == "lang") r._2 else r._3) == v)
              .map(r => r.copy(_4 = s"b$step:${r._4}"))
            Lakehouse.commitSnapshot(spark, root,
              Seq(s"$layout=$v" -> df(rows)), branch = s"b$step")
            rows
          }
          // the branch is invisible to main until the fast-forward
          assert(Lakehouse.readSnapshot(spark, root).count() ==
            model.size.toLong, s"step $step: branch leaked into main")
          val nid = Lakehouse.fastForward(spark, root, s"b$step")
          newRows.flatten.foreach(r => model(r._1) = r)
          record(nid)
      }
      val cur = Lakehouse.currentSnapshotId(spark, root).get
      // invariant 1: the lake equals the model
      val lake = Lakehouse.readSnapshot(spark, root).collect()
        .map(r => (r.getLong(r.fieldIndex("id")),
          r.getString(r.fieldIndex("lang")),
          r.getString(r.fieldIndex("grp")),
          r.getString(r.fieldIndex("v")))).toSet
      assert(lake == model.values.toSet, s"step $step: lake diverged")
      // invariant 2: a random kept epoch time-travels to ITS model
      val probe = keptIds(rnd.nextInt(keptIds.size))
      epochModels.get(probe).foreach { em =>
        val got = Lakehouse.readSnapshot(spark, root, asOf = Some(probe))
          .collect().map(r => (r.getLong(r.fieldIndex("id")),
            r.getString(r.fieldIndex("lang")),
            r.getString(r.fieldIndex("grp")),
            r.getString(r.fieldIndex("v")))).toSet
        assert(got == em.values.toSet, s"step $step: epoch $probe diverged")
      }
      // invariant 2b: a random RANGE read through the stats FileIndex
      // equals the model — the skip layer survived whatever op just ran
      val lo = 1L + rnd.nextLong(maxId)
      val hi = lo + rnd.nextLong(10) + 1
      val want = model.values.filter(r => r._1 >= lo && r._1 <= hi).toSet
      val got2 = Lakehouse.readSnapshot(spark, root)
        .filter(col("id").between(lo, hi)).collect()
        .map(r => (r.getLong(r.fieldIndex("id")),
          r.getString(r.fieldIndex("lang")),
          r.getString(r.fieldIndex("grp")),
          r.getString(r.fieldIndex("v")))).toSet
      assert(got2 == want, s"step $step: skip-layer range [$lo,$hi] diverged")
      // invariant 3: changes(prev -> cur) replayed onto prev's model
      // reproduces cur's — when both epochs are still kept
      if (prev != cur && keptIds.contains(prev) && keptIds.contains(cur)
        && epochModels.contains(prev)) {
        val replayed = scala.collection.mutable.Map[Long, Rec]() ++
          epochModels(prev)
        Lakehouse.snapshotChanges(spark, root, prev, cur, Seq("id"))
          .collect().foreach { r =>
            val id = r.getLong(r.fieldIndex("id"))
            r.getString(r.fieldIndex("change_type")) match {
              case "D" => replayed.remove(id)
              case _ => replayed(id) = (id,
                r.getString(r.fieldIndex("new_lang")),
                r.getString(r.fieldIndex("new_grp")),
                r.getString(r.fieldIndex("new_v")))
            }
          }
        assert(replayed.toMap == epochModels(cur),
          s"step $step: changes($prev->$cur) replay diverged")
      }
    }
    spark.conf.unset("graft.lake.statsCols")
  }

  test("write-audit-publish: a staged snapshot is INVISIBLE to readers " +
    "and GC-pinned until published; publish is the same CAS as a commit " +
    "(a competitor in between loses loudly, the stage survives for " +
    "inspection); abandon frees it for GC") {
    import spark.implicits._
    val root = freshDir("wap")
    Lakehouse.commitSnapshot(spark, root,
      Seq("lang=a" -> part("a", 1L to 6L), "lang=b" -> part("b", 7L to 12L)))
    // WRITE: stage a takedown of the even ids in lang=a
    val token = Lakehouse.stageSnapshot(spark, root,
      Seq("lang=a" -> part("a", Seq(1L, 3L, 5L))))
    // readers still see the BASE snapshot, id unchanged
    assert(Lakehouse.currentSnapshotId(spark, root).contains(1))
    assert(Lakehouse.readSnapshot(spark, root).count() == 12L)
    assert(Lakehouse.listStaged(spark, root).map(_._2) == Seq(1))
    // AUDIT: the staged content, through the manifest read path
    val staged = Lakehouse.readStaged(spark, root, token)
    assert(staged.count() == 9L)
    assert(staged.filter(col("lang") === "a").select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L, 5L))
    // GC while staged: the unpublished generations survive
    Lakehouse.snapshotGc(spark, root, keepSnapshots = 1)
    assert(Lakehouse.readStaged(spark, root, token).count() == 9L)
    // PUBLISH: the audited bytes become current atomically
    assert(Lakehouse.publishStaged(spark, root, token) == 2)
    assert(Lakehouse.readSnapshot(spark, root).count() == 9L)
    assert(Lakehouse.listStaged(spark, root).isEmpty)
    // a competitor landing between stage and publish wins the CAS; the
    // stale stage loses LOUDLY and survives for inspection or abandon
    val t2 = Lakehouse.stageSnapshot(spark, root,
      Seq("lang=b" -> part("b", Seq(7L))))
    Lakehouse.commitSnapshot(spark, root,
      Seq("lang=b" -> part("b", 7L to 9L)), expectedSnapshot = Some(2))
    intercept[ConcurrentCommitException] {
      Lakehouse.publishStaged(spark, root, t2)
    }
    assert(Lakehouse.listStaged(spark, root).map(_._1) == Seq(t2))
    assert(Lakehouse.readStaged(spark, root, t2)
      .filter(col("lang") === "b").count() == 1L)
    Lakehouse.abandonStaged(spark, root, t2)
    assert(Lakehouse.listStaged(spark, root).isEmpty)
    // after abandon, GC reclaims the orphaned stage generations and the
    // lake still reads its committed state
    Lakehouse.snapshotGc(spark, root, keepSnapshots = 1)
    assert(Lakehouse.readSnapshot(spark, root).count() == 6L)
    // misuse is loud
    intercept[IllegalArgumentException] {
      Lakehouse.readStaged(spark, root, "staged-00000001-zzz")
    }
    intercept[IllegalArgumentException] {
      Lakehouse.publishStaged(spark, root, token) // already consumed
    }
  }

  test("branches: an isolated lineage forks at a main epoch, evolves " +
    "under full commit semantics invisibly to main, fast-forwards " +
    "contiguously onto main (or refuses loudly when main moved), and " +
    "GC applies retention per lineage") {
    import spark.implicits._
    val root = freshDir("br")
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=a" -> part("a", 1L to 6L), "p=b" -> part("b", 7L to 12L)))
    assert(Lakehouse.createBranch(spark, root, "exp") == 1)
    // two commits on the branch; main never sees them
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=a" -> part("a", Seq(1L, 2L, 3L))), branch = "exp")
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=b" -> part("b", Seq(7L, 8L))), branch = "exp")
    assert(Lakehouse.currentSnapshotId(spark, root).contains(1))
    assert(Lakehouse.readSnapshot(spark, root).count() == 12L)
    assert(Lakehouse.currentSnapshotId(spark, root, "exp").contains(3))
    assert(Lakehouse.readSnapshot(spark, root, branch = "exp")
      .count() == 5L)
    // branch time travel, before GC ages the epoch out
    assert(Lakehouse.readSnapshot(spark, root, asOf = Some(2),
      branch = "exp").count() == 9L)
    assert(Lakehouse.listBranches(spark, root) == Seq("exp" -> 3))
    // committing to a branch that does not exist is loud
    intercept[IllegalArgumentException] {
      Lakehouse.commitSnapshot(spark, root,
        Seq("p=a" -> part("a", Seq(1L))), branch = "nope")
    }
    // per-lineage retention: keep=1 ages the branch's early epochs but
    // both lineages' heads still read in full
    Lakehouse.snapshotGc(spark, root, keepSnapshots = 1)
    assert(Lakehouse.readSnapshot(spark, root, branch = "exp")
      .count() == 5L)
    assert(Lakehouse.readSnapshot(spark, root).count() == 12L)
    // fast-forward: main adopts the branch head contiguously (the fork
    // marker survives GC), the branch is consumed
    assert(Lakehouse.fastForward(spark, root, "exp") == 2)
    assert(Lakehouse.readSnapshot(spark, root).count() == 5L)
    assert(Lakehouse.listBranches(spark, root).isEmpty)
    // a main commit since the fork refuses the fast-forward BEFORE any
    // linking; the branch survives for inspection or deletion
    Lakehouse.createBranch(spark, root, "exp2")
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=a" -> part("a", Seq(1L))), branch = "exp2")
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=b" -> part("b", 7L to 9L))) // main moves to 3
    intercept[ConcurrentCommitException] {
      Lakehouse.fastForward(spark, root, "exp2")
    }
    assert(Lakehouse.readSnapshot(spark, root).count() == 6L)
    assert(Lakehouse.listBranches(spark, root).map(_._1) == Seq("exp2"))
    Lakehouse.deleteBranch(spark, root, "exp2")
    // the branch-only generations are GC relics now; main is untouched
    Lakehouse.snapshotGc(spark, root, keepSnapshots = 1)
    assert(Lakehouse.readSnapshot(spark, root).count() == 6L)
    // duplicate branch names are refused while the branch lives
    Lakehouse.createBranch(spark, root, "exp3")
    intercept[IllegalArgumentException] {
      Lakehouse.createBranch(spark, root, "exp3")
    }
    Lakehouse.deleteBranch(spark, root, "exp3")
  }

  test("branchDiff: the pending change set a fast-forward would " +
    "publish — cross-lineage manifest pruning, I/U/D against main's " +
    "head, empty for a fresh branch") {
    import spark.implicits._
    val root = freshDir("brdiff")
    val base = (1L to 12L).map(i => (i, s"p${(i % 2).toInt}", s"v$i"))
      .toDF("id", "p", "v")
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=p0" -> base.filter(col("p") === "p0"),
        "p=p1" -> base.filter(col("p") === "p1")))
    Lakehouse.createBranch(spark, root, "rev")
    // fresh branch: nothing pending
    assert(Lakehouse.branchDiff(spark, root, "rev", Seq("id"))
      .count() == 0L)
    // evolve ONLY p=p0 on the branch: delete id 2, update id 4, add 13
    Lakehouse.commitSnapshot(spark, root, Seq("p=p0" ->
      base.filter(col("p") === "p0" && col("id") =!= 2L)
        .withColumn("v", when(col("id") === 4L, lit("u4"))
          .otherwise(col("v")))
        .unionByName(Seq((13L, "p0", "new")).toDF("id", "p", "v"))),
      branch = "rev")
    val diff = Lakehouse.branchDiff(spark, root, "rev", Seq("id"))
    val rows = diff.orderBy("id")
      .select("id", "change_type").as[(Long, String)].collect().toSeq
    assert(rows == Seq(2L -> "D", 4L -> "U", 13L -> "I"))
    // cross-lineage pruning: only p=p0's generations plan
    assert(diff.inputFiles.nonEmpty &&
      diff.inputFiles.forall(_.contains("/p=p0/")))
    Lakehouse.deleteBranch(spark, root, "rev")
  }

  test("the full DML family runs ON A BRANCH: merge, CDC, DELETE and " +
    "UPDATE evolve the branch invisibly; the fast-forward publishes the " +
    "whole audited pipeline onto main in one adoption") {
    import spark.implicits._
    val root = freshDir("brdml")
    val base = (1L to 20L).map(i => (i, s"l${(i % 2).toInt}", s"v$i"))
      .toDF("id", "lang", "v")
    Lakehouse.commitSnapshot(spark, root,
      Seq("lang=l0" -> base.filter(col("lang") === "l0"),
        "lang=l1" -> base.filter(col("lang") === "l1")))
    Lakehouse.createBranch(spark, root, "pipe")
    // MERGE upserts on the branch
    val delta = Seq((2L, "l0", "m2"), (21L, "l1", "m21"))
      .toDF("id", "lang", "v")
    Lakehouse.mergeSnapshot(spark, root, delta, Seq("id"), "lang",
      branch = "pipe")
    // CDC batch on the branch (deletes id 4)
    val cdc = Seq((4L, "l0", "x", "D"), (5L, "l1", "c5", "U"))
      .toDF("id", "lang", "v", "op")
    Lakehouse.applyCdcSnapshot(spark, root, cdc, Seq("id"), "lang",
      branch = "pipe")
    // row-level DELETE and UPDATE on the branch
    Lakehouse.deleteSnapshot(spark, root, col("id") === 6L,
      branch = "pipe")
    Lakehouse.updateSnapshot(spark, root, col("id") === 7L,
      Seq("v" -> lit("u7")), branch = "pipe")
    // main untouched through all four ops
    assert(Lakehouse.currentSnapshotId(spark, root).contains(1))
    assert(Lakehouse.readSnapshot(spark, root).count() == 20L)
    // the branch state is the composed pipeline
    val branchState = Lakehouse.readSnapshot(spark, root, branch = "pipe")
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toMap
    assert(branchState.size == 19) // +21, -4, -6
    assert(branchState(2L) == "m2" && branchState(21L) == "m21")
    assert(branchState(5L) == "c5" && branchState(7L) == "u7")
    assert(!branchState.contains(4L) && !branchState.contains(6L))
    // publish: main becomes the audited pipeline output
    Lakehouse.fastForward(spark, root, "pipe")
    val mainState = Lakehouse.readSnapshot(spark, root)
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toMap
    assert(mainState == branchState)
  }

  test("contaminatedSpans/decontaminateText: EVERY occurrence of " +
    "benchmark text is removed (no keep-first), clean docs pass " +
    "through, and the corpus' own internal duplicates are untouched") {
    import spark.implicits._
    val W = 40
    val evalItem = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRS"
    val ownDup = "zyxwvutsrqponmlkjihgfedcba9876543210ZYXWVUTSR"
    val bench = Seq((100L, s"question: $evalItem answer: forty-two"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"Xprefix-one-padding-text-$evalItem-Ysuffix-one-padding"),
      (2L, s"Zother-prefix-padding-xx-$evalItem-Wother-suffix-pad"),
      (3L, "clean document with nothing quoted from the benchmark"),
      (4L, ownDup + "-M-" + ownDup) // internal dup, NOT contamination
    ).toDF("doc_id", "text")
    val spans = graft.pipeline.Decontaminate
      .contaminatedSpans(corpus, bench, window = W)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // docs 1 AND 2 both lose the quoted item (no keep-first), the
    // internal duplicate in doc 4 is not benchmark text
    val s1 = 26L // both prefixes are 25 chars
    assert(spans == Seq((1L, s1, s1 + evalItem.length),
      (2L, s1, s1 + evalItem.length)))
    val clean = graft.pipeline.Decontaminate
      .decontaminateText(corpus, bench, window = W)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(clean(0)._2 == s"Xprefix-one-padding-text--Ysuffix-one-padding")
    assert(clean(1)._2 == s"Zother-prefix-padding-xx--Wother-suffix-pad")
    assert(clean(2)._3 == 0L && clean(3)._3 == 0L)
  }

  test("substr_window_hashes is bit-identical to the SQL " +
    "md5-of-substring chain it replaces — including multi-byte " +
    "codepoints, supplementary-plane characters, short and empty texts, " +
    "and stride > 1") {
    import spark.implicits._
    val fixtures = Seq(
      "plain ascii text long enough to window over it twice at least",
      "ümlauts ünd ßcharfes ss mixed ïnto the tëxt ümlauts ünd ßcharfes",
      "emoji 😀 inside 🚀 the text 😀 " +
        "inside again padding padding",
      "short", "", "exactly-ten")
    for (w <- Seq(3, 10); st <- Seq(1, 3)) {
      val df = fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      // the native digest is a signed 64-bit long carrying EXACTLY the
      // bits of the hex-prefix-16 contract digest: render it back to hex
      // (two's complement, zero-padded) and it must equal the SQL chain
      val nativeHex = df.select(col("id"), graft.functions.GraftFunctions
        .substr_window_hashes(col("text"), w, st).as("hl"))
        .select(col("id"), expr(
          "transform(hl, x -> lower(lpad(hex(x), 16, '0')))").as("h"))
      val sql = df.select(col("id"), expr(
        s"CASE WHEN length(text) >= $w THEN transform(sequence(0, " +
          s"CAST(floor((length(text) - $w) / $st) AS INT)), i -> " +
          s"substring(md5(substring(text, 1 + i * $st, $w)), 1, 16)) " +
          "ELSE array() END").as("h"))
      val n = nativeHex.orderBy("id").as[(Long, Seq[String])].collect().toSeq
      val q = sql.orderBy("id").as[(Long, Seq[String])].collect().toSeq
      assert(n == q, s"window=$w stride=$st diverged")
    }
  }

  test("exactSubstrSpans/Clean: keep-first-occurrence, merged spans " +
    "cover exactly the shared region, short and unique docs pass " +
    "through verbatim, intra-doc repeats drop their later copy") {
    import spark.implicits._
    val W = 40
    val common = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVX" // 60 chars
    val padA1 = "AAAA-the-quick-brown-fox-jumps-over"
    val padA2 = "Xlazy-dogs-sleeping-in-the-sun-AAAA"
    val padB1 = "BBBB-every-good-boy-does-fine-today"
    val padB2 = "Ywhile-cats-watch-from-windows-BBBB"
    val mid = "-M-"
    val rep = "zyxwvutsrqponmlkjihgfedcba9876543210ZYXWVUTSR" // 45 chars
    val docs = Seq(
      (1L, padA1 + common + padA2), // first occurrence: kept verbatim
      (2L, padB1 + common + padB2), // later occurrence: common removed
      (3L, "tiny"), // shorter than the window: untouched
      (4L, rep + mid + rep) // intra-doc repeat: second copy removed
    ).toDF("doc_id", "text")
    val spans = graft.pipeline.Dedup.exactSubstrSpans(docs, window = W)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long)].collect().toSeq
    // doc 2: windows fully inside `common` duplicate doc 1's — the
    // merged span is exactly the shared region [|padB1|+1, +60)
    val b0 = padB1.length + 1L
    // doc 4: the second `rep` starts after rep+mid
    val d0 = (rep + mid).length + 1L
    assert(spans == Seq((2L, b0, b0 + common.length),
      (4L, d0, d0 + rep.length)))
    val clean = graft.pipeline.Dedup.exactSubstrClean(docs, window = W)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(clean == Seq(
      (1L, padA1 + common + padA2, 0L),
      (2L, padB1 + padB2, common.length.toLong),
      (3L, "tiny", 0L),
      (4L, rep + mid, rep.length.toLong)))
    // guard rails
    intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.exactSubstrSpans(docs, window = 1)
    }
  }
}
