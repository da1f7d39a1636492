package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Lakehouse

/** LocalFileSystem face that simulates a STRAGGLER branch commit
  * landing inside the rebase swap's narrowest window — between the
  * leftover re-list and the fork-marker delete (a commit whose
  * branch-exists check passed before the lineage emptied): when armed,
  * the marker delete first plants a snap file into the lineage. */
class StragglerCommitFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("stfs:///")
  override def delete(p: org.apache.hadoop.fs.Path,
                      recursive: Boolean): Boolean = {
    if (p.getName == "fork" && StragglerCommitFs.arm.getAndSet(false)) {
      val snap = new org.apache.hadoop.fs.Path(p.getParent, "snap-00000099")
      val out = super.create(snap, false)
      try out.write("#minreader\t1\n".getBytes("UTF-8"))
      finally out.close()
    }
    super.delete(p, recursive)
  }
}

object StragglerCommitFs {
  val arm = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** Round-20: the lake-backed maintained aggregate (the r19 verdict's
  * one weak) — state persisted as a bucket-partitioned snapshot lake
  * whose per-epoch commit touches ONLY changed-group buckets, with the
  * last-folded-epoch watermark riding the same manifest CAS
  * (crash-safe exactly-once, snapshot-isolated readers) — plus MIN/MAX
  * maintenance by affected-group recompute, the per-snapshot `#prop`
  * manifest surface, the HttpSnapshotCas auth hook with 409/early-
  * conflict classification, and the rebase swap's straggler-commit
  * marker restore. */
class Round20Spec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r20_$tag"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    d
  }

  private def fsOf(d: String) = new org.apache.hadoop.fs.Path(d)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def docs(ids: Seq[Long], lang: Long => String,
                   len: Long => Long) =
    ids.map(i => (i, lang(i), len(i))).toDF("id", "lang", "len")
      .withColumn("p", (col("id") % 2).cast("int"))

  // ---- per-snapshot #prop lines -------------------------------------------

  test("snapshot props: committed atomically with the manifest, read " +
    "back verbatim (inline AND sharded manifests), per-snapshot (a " +
    "fresh commit carries none), and carried by rollback's verbatim " +
    "manifest copy") {
    val root = freshDir("props")
    val base = docs(1L to 8L, i => if (i % 2 == 0) "en" else "de", _ * 10)
    Lakehouse.commitSnapshot(spark, root,
      (0 to 1).map(i => s"p=$i" -> base.filter(col("p") === i)),
      props = Map("who" -> "r20", "k v" -> "a\tb"))
    assert(Lakehouse.snapshotProps(spark, root) ==
      Map("who" -> "r20", "k v" -> "a\tb"),
      "props must round-trip, URL-escaping included")
    // a fresh commit carries NO props unless passed — per-snapshot facts
    Lakehouse.deleteSnapshot(spark, root, col("id") === 1L)
    assert(Lakehouse.snapshotProps(spark, root).isEmpty)
    assert(Lakehouse.snapshotProps(spark, root, Some(1)) ==
      Map("who" -> "r20", "k v" -> "a\tb"),
      "older snapshots keep their own props")
    // rollback copies the manifest verbatim — props included
    Lakehouse.rollbackSnapshot(spark, root, 1)
    assert(Lakehouse.snapshotProps(spark, root)("who") == "r20")
    // SHARDED manifests keep props in the ROOT snap file (shards are
    // content-addressed per-rel blocks; a per-snapshot fact inside one
    // would break cross-epoch shard reuse)
    spark.conf.set("graft.lake.manifestShardLines", "2")
    try {
      Lakehouse.commitSnapshot(spark, root,
        Seq("p=0" -> base.filter(col("p") === 0)),
        props = Map("sharded" -> "yes"))
      assert(Lakehouse.snapshotProps(spark, root) == Map("sharded" -> "yes"))
    } finally spark.conf.unset("graft.lake.manifestShardLines")
  }

  // ---- lake-backed maintained aggregate -----------------------------------

  test("ivmFold writes ONLY the buckets containing changed groups: an " +
    "epoch touching one group leaves every other bucket's manifest " +
    "entry byte-identical (carried, zero data IO), and the watermark " +
    "prop advances in the same commit") {
    val root = freshDir("ivmbkt")
    val tableDir = freshDir("ivmbkttbl")
    // many groups so buckets are well populated
    val base = docs(1L to 200L, i => s"g${i % 40}", _ * 10)
    Lakehouse.commitSnapshot(spark, root,
      (0 to 1).map(i => s"p=$i" -> base.filter(col("p") === i)))
    spark.conf.set("graft.lake.ivm.stateBuckets", "8")
    try {
      val q = Lakehouse.maintainAggregate(spark, root, Seq("id"),
        Seq("lang"), Seq("len"), tableDir, freshDir("ivmbktck"))
      try {
        q.processAllAvailable() // bootstrap: every bucket written
        val m1 = Lakehouse.currentManifest(spark, tableDir)
        val wm1 = Lakehouse.snapshotProps(spark, tableDir)(
          Lakehouse.IvmEpochProp)
        assert(wm1 == "1")
        // epoch 2 changes exactly ONE group ("g7": ids 7,47,87,127,167)
        Lakehouse.mergeSnapshot(spark, root,
          base.filter(col("lang") === "g7")
            .withColumn("len", col("len") + 1L), Seq("id"), "p")
        q.processAllAvailable()
        val m2 = Lakehouse.currentManifest(spark, tableDir)
        assert(Lakehouse.snapshotProps(spark, tableDir)(
          Lakehouse.IvmEpochProp) == "2",
          "the watermark must ride the fold's own commit")
        val rewritten = m2.keySet.filter(rel => m1.get(rel) != m2.get(rel))
        assert(rewritten.size == 1,
          s"one changed group must rewrite exactly its ONE hash bucket, " +
            s"got $rewritten")
        assert((m2.keySet -- rewritten).forall(rel => m1(rel) == m2(rel)),
          "untouched buckets must carry over byte-free")
        // and the maintained table equals the full recompute
        val got = Lakehouse.readAggregate(spark, tableDir)
          .orderBy("lang").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        val want = Lakehouse.readSnapshot(spark, root).groupBy("lang")
          .agg(count(lit(1)).as("n_rows"), sum(col("len")).as("sum_len"))
          .select("lang", "n_rows", "sum_len").orderBy("lang").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        assert(got == want)
      } finally q.stop()
    } finally spark.conf.unset("graft.lake.ivm.stateBuckets")
  }

  test("readAggregate is snapshot-isolated under a concurrent " +
    "maintainer: a frame resolved before several further folds still " +
    "materializes its OWN epoch's content (default retention keeps " +
    "the generations alive), and state history is time-travelable") {
    val root = freshDir("ivmrdr")
    val tableDir = freshDir("ivmrdrtbl")
    val base = docs(1L to 40L, i => s"g${i % 5}", _ * 10)
    Lakehouse.commitSnapshot(spark, root,
      (0 to 1).map(i => s"p=$i" -> base.filter(col("p") === i)))
    val q = Lakehouse.maintainAggregate(spark, root, Seq("id"),
      Seq("lang"), Seq("len"), tableDir, freshDir("ivmrdrck"))
    try {
      q.processAllAvailable()
      // resolve the reader BEFORE further folds, snapshot its expected
      // content lazily (the plan pins epoch-1 generation files)
      val reader = Lakehouse.readAggregate(spark, tableDir)
      val expected = reader.orderBy("lang").collect().toSeq
      // five more epochs, each rewriting buckets (every group changes)
      (1 to 5).foreach { e =>
        Lakehouse.mergeSnapshot(spark, root,
          base.withColumn("len", col("len") + lit(e.toLong)),
          Seq("id"), "p")
        q.processAllAvailable()
      }
      assert(reader.orderBy("lang").collect().toSeq == expected,
        "a resolved reader must keep serving its own epoch's files")
      // the state's own history is a lake: time travel reaches the
      // bootstrap fold
      val t1 = Lakehouse.readSnapshot(spark, tableDir, asOf = Some(1))
        .drop(Lakehouse.IvmBucketCol).orderBy("lang").collect().toSeq
      assert(t1 == expected)
    } finally q.stop()
  }

  test("ivmFold guards: a GAPPED non-bootstrap epoch fails loudly " +
    "(folding over it would silently drop the missing epochs' " +
    "deltas), a replayed epoch folds nothing twice, and a FOREIGN " +
    "commit to the state lake (watermark lost) is refused") {
    val root = freshDir("ivmgap")
    val tableDir = freshDir("ivmgaptbl")
    val base = docs(1L to 10L, i => s"g${i % 3}", _ * 10)
    Lakehouse.commitSnapshot(spark, root,
      (0 to 1).map(i => s"p=$i" -> base.filter(col("p") === i)))
    val q = Lakehouse.maintainAggregate(spark, root, Seq("id"),
      Seq("lang"), Seq("len"), tableDir, freshDir("ivmgapck"))
    try q.processAllAvailable() finally q.stop() // watermark 1
    def diffOf(e: Int) =
      Lakehouse.snapshotChanges(spark, root, e - 1, e, Seq("id"))
    Lakehouse.mergeSnapshot(spark, root,
      base.filter(col("id") === 1L).withColumn("len", lit(99L)),
      Seq("id"), "p") // epoch 2
    Lakehouse.deleteSnapshot(spark, root, col("id") === 2L) // epoch 3
    // a gapped delivery (epoch 3 after watermark 1) must throw, naming
    // the missing range — NOT fold a plausibly-shaped wrong table
    val gap = intercept[IllegalStateException] {
      Lakehouse.ivmFold(spark, root, "", tableDir, Seq("lang"),
        Seq("len"), Nil, Nil,
        3, isBootstrap = false, diffOf(3), 16)
    }
    assert(gap.getMessage.contains("2..2"),
      s"the gap guard must name the missing epochs: ${gap.getMessage}")
    // dense delivery folds; an at-least-once REPLAY of epoch 2 is a
    // no-op (the watermark rode epoch 2's own commit)
    Lakehouse.ivmFold(spark, root, "", tableDir, Seq("lang"),
        Seq("len"), Nil, Nil,
      2, isBootstrap = false, diffOf(2), 16)
    val m2 = Lakehouse.currentManifest(spark, tableDir)
    Lakehouse.ivmFold(spark, root, "", tableDir, Seq("lang"),
        Seq("len"), Nil, Nil,
      2, isBootstrap = false, diffOf(2), 16)
    assert(Lakehouse.currentManifest(spark, tableDir) == m2,
      "a replayed epoch must not commit anything")
    Lakehouse.ivmFold(spark, root, "", tableDir, Seq("lang"),
        Seq("len"), Nil, Nil,
      3, isBootstrap = false, diffOf(3), 16)
    val got = Lakehouse.readAggregate(spark, tableDir)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Lakehouse.readSnapshot(spark, root).groupBy("lang")
      .agg(count(lit(1)).as("n_rows"), sum(col("len")).as("sum_len"))
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // a commit to the state lake that did NOT come from the maintainer
    // drops the watermark — the next fold must refuse to guess
    Lakehouse.commitSnapshot(spark, tableDir,
      Seq("bucket=0" -> Lakehouse.readSnapshot(spark, tableDir)
        .filter(col(Lakehouse.IvmBucketCol) === 0L)))
    Lakehouse.deleteSnapshot(spark, root, col("id") === 3L) // epoch 4
    val foreign = intercept[IllegalStateException] {
      Lakehouse.ivmFold(spark, root, "", tableDir, Seq("lang"),
        Seq("len"), Nil, Nil,
        4, isBootstrap = false, diffOf(4), 16)
    }
    assert(foreign.getMessage.contains("outside maintainAggregate"),
      s"wrong foreign-commit failure: ${foreign.getMessage}")
  }

  test("compactDrifted on a maintained-aggregate state lake carries the " +
    "IVM watermark: the next fold continues where it left off and " +
    "equals a full recompute") {
    val root = freshDir("ivmsweep")
    val tableDir = freshDir("ivmsweeptbl")
    val base = docs(1L to 400L, i => s"g${i % 100}", _ * 10)
    Lakehouse.commitSnapshot(spark, root,
      (0 to 1).map(i => s"p=$i" -> base.filter(col("p") === i)))
    def fold(e: Int): Unit = Lakehouse.ivmFold(spark, root, "", tableDir,
      Seq("lang"), Seq("len"), Nil, Nil, e, isBootstrap = false,
      Lakehouse.snapshotChanges(spark, root, e - 1, e, Seq("id")), 16)
    // un-coalesced shuffles leave several small files per state bucket
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val q = Lakehouse.maintainAggregate(spark, root, Seq("id"),
        Seq("lang"), Seq("len"), tableDir, freshDir("ivmsweepck"))
      try q.processAllAvailable() finally q.stop() // watermark 1
      Lakehouse.mergeSnapshot(spark, root,
        base.filter(col("id") <= 50L).withColumn("len", col("len") + 1L),
        Seq("id"), "p") // epoch 2
      fold(2)
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val swept = Lakehouse.compactDrifted(spark, tableDir, Long.MaxValue)
    assert(swept.nonEmpty, "expected drifted state buckets")
    assert(Lakehouse.snapshotProps(spark, tableDir)(
      Lakehouse.IvmEpochProp) == "2", "the sweep dropped the watermark")
    Lakehouse.deleteSnapshot(spark, root, col("id") === 3L) // epoch 3
    fold(3)
    val got = Lakehouse.readAggregate(spark, tableDir)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Lakehouse.readSnapshot(spark, root).groupBy("lang")
      .agg(count(lit(1)).as("n_rows"), sum(col("len")).as("sum_len"))
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("maintainAggregate eager schema validation: a typo'd group or " +
    "sum column fails SYNCHRONOUSLY naming the column, and a " +
    "non-numeric sum column is refused — never an AnalysisException " +
    "inside the stream thread on the first epoch") {
    val root = freshDir("ivmschema")
    val base = docs(1L to 6L, i => s"g$i", _ * 10)
    Lakehouse.commitSnapshot(spark, root,
      (0 to 1).map(i => s"p=$i" -> base.filter(col("p") === i)))
    val typo = intercept[IllegalArgumentException] {
      Lakehouse.maintainAggregate(spark, root, Seq("id"),
        Seq("langg"), Seq("len"), freshDir("ivmsx1"), freshDir("ivmsc1"))
    }
    assert(typo.getMessage.contains("langg"),
      s"must name the missing column: ${typo.getMessage}")
    val typoSum = intercept[IllegalArgumentException] {
      Lakehouse.maintainAggregate(spark, root, Seq("id"),
        Seq("lang"), Seq("lenn"), freshDir("ivmsx2"), freshDir("ivmsc2"))
    }
    assert(typoSum.getMessage.contains("lenn"))
    val nonNum = intercept[IllegalArgumentException] {
      Lakehouse.maintainAggregate(spark, root, Seq("id"),
        Seq("p"), Seq("lang"), freshDir("ivmsx3"), freshDir("ivmsc3"))
    }
    assert(nonNum.getMessage.contains("numeric"),
      s"non-numeric sum must be refused: ${nonNum.getMessage}")
  }

  test("applyAggregateDelta keeps sum types STABLE across folds: a " +
    "DecimalType sum column does not widen precision epoch-over-epoch " +
    "(the drift that NULLs every sum at the precision-38 cap), and " +
    "values still match the full recompute") {
    val gc = Seq("lang")
    val sc = Seq("amt")
    val v1 = Seq((1L, "en", "10.50"), (2L, "en", "20.25"), (3L, "de", "30.00"))
      .toDF("id", "lang", "amt0")
      .select(col("id"), col("lang"),
        col("amt0").cast("decimal(10,2)").as("amt"))
    def boot(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), lit("I").as("change_type"),
        lit(null).cast("string").as("old_lang"), col("lang").as("new_lang"),
        lit(null).cast("decimal(10,2)").as("old_amt"),
        col("amt").as("new_amt"))
    var agg = Lakehouse.applyAggregateDelta(
      Lakehouse.emptyAggregate(v1, gc, sc),
      Lakehouse.aggregateDelta(boot(v1), gc, sc), gc, sc)
    val stable = agg.schema("sum_amt").dataType
    assert(stable == org.apache.spark.sql.types.DecimalType(20, 2),
      s"the stable type is Spark's own sum widening, got $stable")
    // ten more folds, each adding one row — pre-fix every fold widened
    // precision by one notch
    (4L to 13L).foreach { i =>
      val d = Seq((i, "en", "1.00")).toDF("id", "lang", "amt0")
        .select(col("id"), col("lang"),
          col("amt0").cast("decimal(10,2)").as("amt"))
      agg = Lakehouse.applyAggregateDelta(agg,
        Lakehouse.aggregateDelta(boot(d), gc, sc), gc, sc)
      assert(agg.schema("sum_amt").dataType == stable,
        s"fold $i drifted the sum type to ${agg.schema("sum_amt").dataType}")
    }
    val en = agg.filter(col("lang") === "en")
      .select("sum_amt").head().getDecimal(0)
    assert(en == new java.math.BigDecimal("40.75"),
      s"decimal sum value drifted: $en")
  }

  test("maintainAggregate refuses a pre-r20 t<epoch> tableDir and a " +
    "changed bucket count — both would silently corrupt the fold") {
    val root = freshDir("ivmprov")
    val base = docs(1L to 6L, i => s"g$i", _ * 10)
    Lakehouse.commitSnapshot(spark, root,
      (0 to 1).map(i => s"p=$i" -> base.filter(col("p") === i)))
    // simulate a pre-r20 provenance file (two fields, no bucket count)
    val oldTbl = freshDir("ivmprovold")
    val fs = fsOf(oldTbl)
    fs.mkdirs(new org.apache.hadoop.fs.Path(oldTbl))
    val out = fs.create(
      new org.apache.hadoop.fs.Path(oldTbl, "_lake"), true)
    try out.write(s"${fs.makeQualified(new org.apache.hadoop.fs.Path(
      root))}\t\n".getBytes("UTF-8")) finally out.close()
    val legacy = intercept[IllegalArgumentException] {
      Lakehouse.maintainAggregate(spark, root, Seq("id"),
        Seq("lang"), Seq("len"), oldTbl, freshDir("ivmprovck0"))
    }
    assert(legacy.getMessage.contains("pre-r20"),
      s"wrong legacy-layout failure: ${legacy.getMessage}")
    // a live table pins its bucket count
    val tbl = freshDir("ivmprovtbl")
    val q = Lakehouse.maintainAggregate(spark, root, Seq("id"),
      Seq("lang"), Seq("len"), tbl, freshDir("ivmprovck1"))
    try q.processAllAvailable() finally q.stop()
    spark.conf.set("graft.lake.ivm.stateBuckets", "4")
    try {
      val rebucket = intercept[IllegalArgumentException] {
        Lakehouse.maintainAggregate(spark, root, Seq("id"),
          Seq("lang"), Seq("len"), tbl, freshDir("ivmprovck2"))
      }
      assert(rebucket.getMessage.contains("stateBuckets"),
        s"wrong bucket-count failure: ${rebucket.getMessage}")
    } finally spark.conf.unset("graft.lake.ivm.stateBuckets")
  }

  // ---- MIN/MAX maintenance by affected-group recompute --------------------

  test("MIN/MAX IVM equals the full recompute through tie-preserving " +
    "extremum deletes, group-moves of a minimum, null→value updates, " +
    "in-place extremum changes, and group drops — the non-additive " +
    "cases a monotone fold alone cannot express") {
    val gc = Seq("lang")
    val sc = Seq("len")
    def full(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("lang").agg(count(lit(1)).as("n_rows"),
        sum(col("len")).as("sum_len"), min(col("len")).as("min_len"),
        max(col("len")).as("max_len"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("lang", "n_rows", "sum_len", "min_len", "max_len")
        .orderBy("lang").collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    val v1 = Seq[(Long, String, java.lang.Long)](
      (1L, "en", 10L), (2L, "en", 20L), (7L, "en", 20L), // tied max
      (3L, "de", 30L), (4L, "de", 5L),
      (5L, "fr", 40L),
      (6L, "nl", null), (8L, "nl", null)).toDF("id", "lang", "len")
    // v2: delete 2 (one of en's TIED maxes — the recompute must find
    // the survivor, a naive "max left, recompute from delta" cannot);
    // move 4 de→en (de loses its min, en gains a new one); update 3
    // in place 30→29 (de's max leaves by VALUE change, not delete);
    // delete 5 (fr reaches zero rows and drops); update 8 null→7 (an
    // all-null group's extrema become real)
    val v2 = Seq[(Long, String, java.lang.Long)](
      (1L, "en", 10L), (7L, "en", 20L), (4L, "en", 5L),
      (3L, "de", 29L),
      (6L, "nl", null), (8L, "nl", 7L)).toDF("id", "lang", "len")
    val boot = v1.select(col("id"), lit("I").as("change_type"),
      lit(null).cast("string").as("old_lang"), col("lang").as("new_lang"),
      lit(null).cast("long").as("old_len"), col("len").as("new_len"))
    val mm = Seq("len")
    val agg1 = Lakehouse.applyAggregateDelta(
      Lakehouse.emptyAggregate(v1, gc, sc, mm, mm),
      Lakehouse.aggregateDelta(boot, gc, sc, mm, mm), gc, sc, mm, mm,
      snapshot = Some(v1))
    assert(rows(agg1) == rows(full(v1)))
    val diff = Lakehouse.snapshotDiff(v1, v2, Seq("id"),
      Seq("lang", "len"))
    val agg2 = Lakehouse.applyAggregateDelta(agg1,
      Lakehouse.aggregateDelta(diff, gc, sc, mm, mm), gc, sc, mm, mm,
      snapshot = Some(v2))
    assert(rows(agg2) == rows(full(v2)), s"maintained=${rows(agg2)} " +
      s"recomputed=${rows(full(v2))}")
    assert(rows(agg2).exists { case (l, n, s, mn, mx) =>
      l == "en" && n == 3 && mn.contains(5L) && mx.contains(20L) },
      "tied-max delete must keep the surviving 20")
    assert(!rows(agg2).exists(_._1 == "fr"), "zero-count group must drop")
    // MIN/MAX without the snapshot to recompute from is refused loudly
    val noSnap = intercept[IllegalArgumentException] {
      Lakehouse.applyAggregateDelta(agg1,
        Lakehouse.aggregateDelta(diff, gc, sc, mm, mm), gc, sc, mm, mm)
    }
    assert(noSnap.getMessage.contains("snapshot"))
  }

  test("the MIN/MAX recompute re-reads ONLY the affected groups' files: " +
    "deleting one group's extremum scans that group's partition alone " +
    "(isin pushdown + manifest stats), never the untouched groups") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.cofs.impl", classOf[CountingOpenFs].getName)
    spark.conf.set("graft.lake.renameAtomicSchemes", "cofs")
    try {
      val root = s"cofs://${freshDir("ivmrcpt")}"
      val tableDir = freshDir("ivmrcpttbl") // file://: opens not counted
      val langs = Seq("de", "en", "fr")
      val base = (1L to 60L).map(i =>
        (i, langs((i % 3).toInt), i * 10L)).toDF("id", "lang", "len")
      Lakehouse.commitSnapshot(spark, root,
        langs.map(l => s"lang=$l" -> base.filter(col("lang") === l)),
        statsCols = Seq("lang", "len"))
      val boot = Lakehouse.readSnapshot(spark, root)
        .select(col("id"), lit("I").as("change_type"),
          lit(null).cast("string").as("old_lang"),
          col("lang").as("new_lang"),
          lit(null).cast("long").as("old_len"), col("len").as("new_len"))
      val mm = Seq("len")
      Lakehouse.ivmFold(spark, root, "", tableDir, Seq("lang"),
        Seq("len"), mm, mm, 1, isBootstrap = true, boot, 8)
      // epoch 2: delete de's maximum — only de is affected
      val deMax = base.filter(col("lang") === "de")
        .agg(max(col("len"))).head().getLong(0)
      Lakehouse.deleteSnapshot(spark, root,
        col("lang") === "de" && col("len") === deMax)
      val diff2 = Lakehouse.snapshotChanges(spark, root, 1, 2, Seq("id"))
      CountingOpenFs.opened.clear()
      Lakehouse.ivmFold(spark, root, "", tableDir, Seq("lang"),
        Seq("len"), mm, mm, 2, isBootstrap = false, diff2, 8)
      val opened = CountingOpenFs.drain(".parquet")
        .filter(_.contains("ivmrcpt/"))
      assert(opened.nonEmpty, "the fold must read the changed partition")
      assert(opened.forall(_.contains("lang=de")),
        s"untouched groups' files were re-read: ${
          opened.filterNot(_.contains("lang=de")).take(3)}")
      // and the recompute found the surviving maximum
      val de = Lakehouse.readAggregate(spark, tableDir)
        .filter(col("lang") === "de")
        .select("min_len", "max_len", "n_rows").head()
      val want = Lakehouse.readSnapshot(spark, root)
        .filter(col("lang") === "de")
        .agg(min(col("len")), max(col("len")), count(lit(1))).head()
      assert((de.getLong(0), de.getLong(1), de.getLong(2)) ==
        (want.getLong(0), want.getLong(1), want.getLong(2)))
    } finally {
      spark.conf.unset("graft.lake.renameAtomicSchemes")
    }
  }

  test("IN predicates prune snapshot files by the value ENVELOPE: an " +
    "isin over a narrow key range opens only the files whose committed " +
    "[min,max] intersects it — including the InSet form past the " +
    "optimizer's In threshold") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.cofs.impl", classOf[CountingOpenFs].getName)
    spark.conf.set("graft.lake.renameAtomicSchemes", "cofs")
    try {
      val root = s"cofs://${freshDir("inenv")}"
      val base = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")) // 4 files, contiguous ranges
      Lakehouse.commitSnapshot(spark, root, Seq("" -> base),
        statsCols = Seq("id"))
      def opens(f: org.apache.spark.sql.DataFrame => org.apache.spark
        .sql.DataFrame): (Seq[Long], Int) = {
        CountingOpenFs.opened.clear()
        val got = f(Lakehouse.readSnapshot(spark, root))
          .select("id").collect().map(_.getLong(0)).sorted.toSeq
        (got, CountingOpenFs.drain(".parquet")
          .count(_.contains("inenv/")))
      }
      val (all, openAll) = opens(identity)
      assert(all.size == 100 && openAll == 4)
      // In form (2 values, under the InSet threshold)
      val (two, openTwo) = opens(_.filter(col("id").isin(5L, 7L)))
      assert(two == Seq(5L, 7L) && openTwo == 1,
        s"isin(5,7) must open 1 of 4 range files, opened $openTwo")
      // InSet form (11 values > spark.sql.optimizer.inSetConversionThreshold)
      val vs = (30L to 40L).map(java.lang.Long.valueOf)
      val (eleven, openEleven) = opens(_.filter(col("id").isin(vs: _*)))
      assert(eleven == (30L to 40L).toSeq && openEleven <= 2,
        s"isin(30..40) must prune to the covering range files, " +
          s"opened $openEleven of 4")
    } finally {
      spark.conf.unset("graft.lake.renameAtomicSchemes")
    }
  }

  test("a WIDE bootstrap (touched buckets >= wideWriteMinBuckets) " +
    "writes the whole state in ONE staged job — same table as the " +
    "per-bucket path, watermark committed, stale buckets absent, and " +
    "subsequent delta epochs fold on top of it") {
    val root = freshDir("ivmwide")
    val tableDir = freshDir("ivmwidetbl")
    val base = docs(1L to 120L, i => s"g${i % 30}", _ * 10)
    Lakehouse.commitSnapshot(spark, root,
      (0 to 1).map(i => s"p=$i" -> base.filter(col("p") === i)))
    spark.conf.set("graft.lake.ivm.stateBuckets", "8")
    spark.conf.set("graft.lake.ivm.wideWriteMinBuckets", "4")
    try {
      val q = Lakehouse.maintainAggregate(spark, root, Seq("id"),
        Seq("lang"), Seq("len"), tableDir, freshDir("ivmwideck"),
        minCols = Seq("len"), maxCols = Seq("len"))
      try {
        q.processAllAvailable() // bootstrap: the staged one-job path
        assert(Lakehouse.snapshotProps(spark, tableDir)(
          Lakehouse.IvmEpochProp) == "1",
          "the wide write must commit the watermark atomically too")
        // ONE generation name shared by every bucket = one staged job
        // (the per-bucket path mints one writer-unique gen per write)
        val m1 = Lakehouse.currentManifest(spark, tableDir)
        assert(m1.values.toSet.size == 1,
          s"wide bootstrap must be one staged job, got gens ${
            m1.values.toSet.size}")
        def maintained() = Lakehouse.readAggregate(spark, tableDir)
          .select("lang", "n_rows", "sum_len", "min_len", "max_len")
          .orderBy("lang").collect().map(_.toString).toSeq
        def recompute() = Lakehouse.readSnapshot(spark, root)
          .groupBy("lang").agg(count(lit(1)).as("n_rows"),
            sum(col("len")).as("sum_len"), min(col("len")).as("min_len"),
            max(col("len")).as("max_len"))
          .select("lang", "n_rows", "sum_len", "min_len", "max_len")
          .orderBy("lang").collect().map(_.toString).toSeq
        assert(maintained() == recompute())
        // a delta epoch folds on top of the wide-written state (delete
        // one group's extremum: the recompute path too)
        Lakehouse.deleteSnapshot(spark, root,
          col("lang") === "g3" && col("len") === 930L) // g3's max
        q.processAllAvailable()
        assert(maintained() == recompute())
        assert(Lakehouse.snapshotProps(spark, tableDir)(
          Lakehouse.IvmEpochProp) == "2")
      } finally q.stop()
    } finally {
      spark.conf.unset("graft.lake.ivm.wideWriteMinBuckets")
      spark.conf.unset("graft.lake.ivm.stateBuckets")
    }
  }

  // ---- HttpSnapshotCas: auth hook + conflict classification ---------------

  test("HttpSnapshotCas auth hook: an auth-enforcing store fails " +
    "unauthenticated puts LOUDLY as IO (never a silent false conflict), " +
    "passes the full contract kit once graft.lake.cas.http.headers " +
    "carries the credential, and classifies an early 409 — answered " +
    "before the body is consumed — as a CAS conflict with the first " +
    "writer's bytes intact") {
    val fs = fsOf("/tmp")
    val provider = new graft.pipeline.HttpSnapshotCas
    // auth-enforcing store
    val store = new _root_.graft.tools.MockObjectStore(
      requireAuth = Some(("x-graft-auth", "s3cr3t")))
    val base = store.start()
    spark.conf.set("graft.lake.cas.http.base", base)
    try {
      val scratch = new org.apache.hadoop.fs.Path(freshDir("casauth"))
      val denied = intercept[java.io.IOException] {
        provider.putIfAbsent(fs,
          new org.apache.hadoop.fs.Path(scratch, "unauth"),
          "x".getBytes("UTF-8"))
      }
      assert(denied.getMessage.contains("401"),
        s"401 must surface as IO naming the code: ${denied.getMessage}")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(scratch, "unauth")))
      spark.conf.set("graft.lake.cas.http.headers",
        "x-graft-auth: s3cr3t")
      val bad = graft.pipeline.SnapshotCasContract.violations(
        provider, fs, scratch)
      assert(bad.isEmpty, bad.mkString("; "))
    } finally {
      spark.conf.unset("graft.lake.cas.http.headers")
      spark.conf.unset("graft.lake.cas.http.base")
      store.stop()
    }
    // early-conflict store: 409 before the request body is drained —
    // the aborted upload may surface client-side as a mid-write
    // IOException, which must still classify as "already existed"
    val store2 = new _root_.graft.tools.MockObjectStore(
      earlyConflict = true)
    val base2 = store2.start()
    spark.conf.set("graft.lake.cas.http.base", base2)
    try {
      val t = new org.apache.hadoop.fs.Path(freshDir("casearly"), "obj")
      assert(provider.putIfAbsent(fs, t, "first".getBytes("UTF-8")))
      val big = Array.fill(8 << 20)('x'.toByte) // outruns socket buffers
      assert(!provider.putIfAbsent(fs, t, big),
        "an early 409 must report a conflict, not throw IO")
      val in = fs.open(t)
      val held = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      assert(held == "first", "the losing put must not mutate the object")
    } finally {
      spark.conf.unset("graft.lake.cas.http.base")
      store2.stop()
    }
  }

  // ---- rebase swap: straggler commit inside the narrowest window ----------

  test("a branch commit landing between the rebase swap's leftover " +
    "re-list and the fork-marker delete RESTORES the marker and fails " +
    "with the late-commit diagnosis — the branch stays consistent " +
    "(snap files + marker) and rebase-able, never half-dismantled") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.stfs.impl", classOf[StragglerCommitFs].getName)
    spark.conf.set("graft.lake.renameAtomicSchemes", "stfs")
    try {
      val root = s"stfs://${freshDir("swpstrag")}"
      val base = docs(1L to 6L, i => s"g$i", _ * 10)
      Lakehouse.commitSnapshot(spark, root,
        (0 to 1).map(i => s"p=$i" -> base.filter(col("p") === i)))
      Lakehouse.createBranch(spark, root, "rev")
      Lakehouse.createBranch(spark, root, "rev.rebase")
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      StragglerCommitFs.arm.set(true)
      val e = intercept[_root_.graft.pipeline.ConcurrentCommitException] {
        Lakehouse.swapRebasedLineage(fs,
          new org.apache.hadoop.fs.Path(root), "rev", "rev.rebase",
          Seq(1))
      }
      StragglerCommitFs.arm.set(false)
      assert(e.getMessage.contains("during the swap") &&
        e.getMessage.contains("99") &&
        e.getMessage.contains("restored"),
        s"wrong straggler diagnosis: ${e.getMessage}")
      // the branch is CONSISTENT again: straggler epoch + fork marker
      val lineage = new org.apache.hadoop.fs.Path(root,
        "_graft_lake/branch-rev")
      assert(fs.exists(new org.apache.hadoop.fs.Path(lineage, "fork")),
        "the fork marker must be restored")
      assert(fs.exists(new org.apache.hadoop.fs.Path(lineage,
        "snap-00000099")), "the straggler epoch must survive")
      // and the staged rebase lineage is intact for the re-run
      assert(fs.exists(new org.apache.hadoop.fs.Path(root,
        "_graft_lake/branch-rev.rebase")))
    } finally {
      spark.conf.unset("graft.lake.renameAtomicSchemes")
    }
  }

  test("a rebase marker restore that fails with IO reports the " +
    "markerless state and the fork id — never a phantom createBranch") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.stfs.impl", classOf[StragglerCommitFs].getName)
    spark.conf.set("graft.lake.renameAtomicSchemes", "stfs")
    try {
      val root = s"stfs://${freshDir("swpioerr")}"
      val base = docs(1L to 6L, i => s"g$i", _ * 10)
      Lakehouse.commitSnapshot(spark, root,
        (0 to 1).map(i => s"p=$i" -> base.filter(col("p") === i)))
      Lakehouse.createBranch(spark, root, "rev")
      Lakehouse.createBranch(spark, root, "rev.rebase")
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      StragglerCommitFs.arm.set(true)
      val e = intercept[_root_.graft.pipeline.ConcurrentCommitException] {
        Lakehouse.swapRebasedLineage(fs,
          new org.apache.hadoop.fs.Path(root), "rev", "rev.rebase",
          Seq(1), (_, _) => throw new java.io.IOException("store down"))
      }
      StragglerCommitFs.arm.set(false)
      assert(e.getMessage.contains("markerless") &&
        e.getMessage.contains("store down") &&
        e.getMessage.contains("'1'"),
        s"an IO-failed restore must name the markerless state and the " +
          s"fork id to write back: ${e.getMessage}")
    } finally {
      spark.conf.unset("graft.lake.renameAtomicSchemes")
    }
  }

  // ---- review findings: reserved columns, 409 shapes, UTF-8 stats order ---

  test("maintainAggregate refuses group/aggregate columns the state " +
    "layout reserves ('bucket', CASE-INSENSITIVELY — Spark resolution " +
    "is) — synchronously, by name; a KEY so named stays legal (keys " +
    "never enter the state layout)") {
    val root = freshDir("ivmresv")
    val base = docs(1L to 8L, i => s"g$i", _ * 10)
      .withColumnRenamed("lang", "Bucket")
    Lakehouse.commitSnapshot(spark, root,
      (0 to 1).map(i => s"p=$i" -> base.filter(col("p") === i)))
    val e = intercept[IllegalArgumentException] {
      Lakehouse.maintainAggregate(spark, root, Seq("id"),
        Seq("Bucket"), Seq("len"), freshDir("ivmresvtbl"),
        freshDir("ivmresvck"))
    }
    assert(e.getMessage.contains("Bucket") &&
      e.getMessage.contains("reserved"),
      s"the collision must be named before the stream starts: ${
        e.getMessage}")
    // a KEY named 'bucket' is harmless (aggregateDelta drops keys
    // before the layout adds its hash column) — the guard must not
    // reject a previously-working pipeline over it
    val root2 = freshDir("ivmresvkey")
    val base2 = docs(1L to 8L, i => s"g${i % 2}", _ * 10)
      .withColumnRenamed("id", "bucket")
    Lakehouse.commitSnapshot(spark, root2,
      (0 to 1).map(i => s"p=$i" -> base2.filter(col("p") === i)))
    val tbl = freshDir("ivmresvkeytbl")
    val q = Lakehouse.maintainAggregate(spark, root2, Seq("bucket"),
      Seq("lang"), Seq("len"), tbl, freshDir("ivmresvkeyck"))
    try {
      q.processAllAvailable()
      assert(Lakehouse.readAggregate(spark, tbl).count() == 2L)
    } finally q.stop()
  }

  test("a spurious 409 (S3 ConditionalRequestConflict: nothing " +
    "committed) classifies as IO-retry via the HEAD probe, never as a " +
    "competitor's commit") {
    val fs = fsOf("/tmp")
    val provider = new graft.pipeline.HttpSnapshotCas
    val store = new _root_.graft.tools.MockObjectStore(spurious409 = true)
    val base = store.start()
    spark.conf.set("graft.lake.cas.http.base", base)
    try {
      val t = new org.apache.hadoop.fs.Path(freshDir("cas409"), "obj")
      val e = intercept[java.io.IOException] {
        provider.putIfAbsent(fs, t, "x".getBytes("UTF-8"))
      }
      assert(e.getMessage.contains("409") &&
        e.getMessage.contains("retry"),
        s"a 409 with no committed object must read as IO-retry: ${
          e.getMessage}")
      assert(!fs.exists(t), "nothing may be committed by the failed put")
    } finally {
      spark.conf.unset("graft.lake.cas.http.base")
      store.stop()
    }
    // write-only-credential shape: the HEAD probe answers 403, so the
    // provider DEGRADES to the pre-probe classification — a 409 on an
    // existing object is still a clean CAS conflict, never a thrown IO
    // that would break every legitimate conflict on that credential
    val store2 = new _root_.graft.tools.MockObjectStore(
      earlyConflict = true, headForbidden = true)
    val base2 = store2.start()
    spark.conf.set("graft.lake.cas.http.base", base2)
    try {
      val t2 = new org.apache.hadoop.fs.Path(freshDir("cas409wo"), "obj")
      assert(provider.putIfAbsent(fs, t2, "first".getBytes("UTF-8")))
      assert(!provider.putIfAbsent(fs, t2, "second".getBytes("UTF-8")),
        "with the probe unanswerable, 409 must stay a CAS conflict")
      val in = fs.open(t2)
      val held = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      assert(held == "first")
    } finally {
      spark.conf.unset("graft.lake.cas.http.base")
      store2.stop()
    }
  }

  test("string stats compare in UTF-8 BINARY order — the order the " +
    "committed min/max and the IN-envelope bounds are computed in: a " +
    "file holding \\uffff survives pruning whose envelope tops at an " +
    "emoji (supplementary plane), and the impossible range still prunes") {
    val root = freshDir("utf8stats")
    val a = Seq(("￿", 1L, 0)).toDF("s", "v", "p")
    val b = Seq(("a", 2L, 1)).toDF("s", "v", "p")
    Lakehouse.commitSnapshot(spark, root,
      Seq("p=0" -> a, "p=1" -> b), statsCols = Seq("s"))
    // UTF-16 code-unit order says "￿" > "😀" (emoji) —
    // under that order p=0's [min,max] misses the envelope and the
    // matching row silently vanishes; UTF-8 binary order (Spark's own)
    // keeps it
    val got = Lakehouse.readSnapshot(spark, root)
      .filter(col("s").isin("￿", "😀"))
      .select("v").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L),
      s"the \\uffff row must survive IN-envelope pruning, got $got")
    // and the pruning itself still works: a range strictly above both
    // files' stats returns nothing (and reads nothing)
    assert(Lakehouse.readSnapshot(spark, root)
      .filter(col("s") > "😀").count() == 0L)
  }
}
