package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{GraphOps, Lakehouse, Mixture}

/** Lake maintenance (MERGE / CDC / SCD2 / snapshot diff), edge-list graph
  * analytics (integer PageRank, capped co-group projection, triangle
  * counts), and the deterministic seeded shuffle. */
class LakehouseGraphSpec extends SparkTestBase {

  private def target: DataFrame = {
    import spark.implicits._
    Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0))
      .toDF("k", "status", "price")
  }

  // ---- mergeUpsert ----------------------------------------------------------

  test("mergeUpsert: matched rows replaced, new keys inserted, rest survive") {
    import spark.implicits._
    val source = Seq((2L, "X", 99.0), (9L, "N", 1.0))
      .toDF("k", "status", "price")
    val out = Lakehouse.mergeUpsert(target, source, Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2))).toList
    assert(out === List((1L, "A", 10.0), (2L, "X", 99.0), (3L, "C", 30.0),
      (9L, "N", 1.0)))
  }

  test("mergeUpsert plan: anti join broadcasts the small delta") {
    import spark.implicits._
    val source = Seq((2L, "X", 99.0)).toDF("k", "status", "price")
    val plan = Lakehouse.mergeUpsert(target, source, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  // ---- applyCdc -------------------------------------------------------------

  test("applyCdc: D drops, U overwrites, I inserts; replay is idempotent") {
    import spark.implicits._
    val changes = Seq(
      (1L, "A", 10.0, "D"), (2L, "U", 25.0, "U"), (9L, "I", 5.0, "I"))
      .toDF("k", "status", "price", "op")
    val once = Lakehouse.applyCdc(target, changes, Seq("k"))
    val onceRows = once.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toList
    assert(onceRows === List((2L, "U", 25.0), (3L, "C", 30.0),
      (9L, "I", 5.0)))
    // at-least-once delivery: re-applying the same compacted batch is a
    // no-op (D on an absent key deletes nothing, U/I overwrite in place)
    val twiceRows = Lakehouse.applyCdc(once, changes, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toList
    assert(twiceRows === onceRows)
  }

  // ---- scd2Apply ------------------------------------------------------------

  private def dimHist: DataFrame = {
    import spark.implicits._
    // key 1: one closed version + a current one; keys 2,3: current only
    Seq((1L, "a-v1", 1.0, 0L, Some(50L)), (1L, "a-v2", 2.0, 50L, None),
      (2L, "b", 5.0, 0L, None), (3L, "c", 7.0, 0L, None))
      .toDF("k", "name", "bal", "valid_from", "valid_to")
  }

  test("scd2Apply: change closes + reopens, no-op untouched, new key inserts") {
    import spark.implicits._
    val updates = Seq(
      (1L, "a-v3", 3.0), // real change on a key with prior history
      (2L, "b", 5.0),    // no-op re-delivery
      (9L, "z", 9.0))    // brand-new key
      .toDF("k", "name", "bal")
    val out = Lakehouse
      .scd2Apply(dimHist, updates, "k", Seq("name", "bal"), ts = 100L)
      .orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long])))
      .toList
    assert(out === List(
      (1L, "a-v1", 1.0, 0L, Some(50L)),   // closed history untouched
      (1L, "a-v2", 2.0, 50L, Some(100L)), // closed by this batch
      (1L, "a-v3", 3.0, 100L, None),      // the new version
      (2L, "b", 5.0, 0L, None),           // no-op: still the 0L original
      (3L, "c", 7.0, 0L, None),           // untouched key
      (9L, "z", 9.0, 100L, None)))        // insert opens at ts
  }

  test("scd2Apply plans exactly ONE join: the row classes come from one " +
    "exploded projection, never re-reads of the joined frame") {
    import spark.implicits._
    val updates = Seq((1L, "a-v3", 3.0), (9L, "z", 9.0)).toDF("k", "name", "bal")
    val plan = Lakehouse.scd2Apply(dimHist, updates, "k",
      Seq("name", "bal"), ts = 100L).queryExecution.executedPlan.toString
    val joins = "Join".r.findAllIn(plan).size
    assert(joins == 1, s"expected exactly one join, saw $joins:\n$plan")
    assert(!plan.contains("Window"), plan)
  }

  test("scd2Apply: re-delivering the same batch is a no-op on the history") {
    import spark.implicits._
    val updates = Seq((1L, "a-v3", 3.0), (9L, "z", 9.0)).toDF("k", "name", "bal")
    val once = Lakehouse.scd2Apply(dimHist, updates, "k",
      Seq("name", "bal"), ts = 100L)
    val twice = Lakehouse.scd2Apply(once, updates, "k",
      Seq("name", "bal"), ts = 200L)
    assert(twice.orderBy("k", "valid_from").collect().toList ===
      once.orderBy("k", "valid_from").collect().toList)
  }

  // ---- snapshotDiff ---------------------------------------------------------

  test("snapshotDiff emits exactly I/U/D and inverts through applyCdc") {
    import spark.implicits._
    val newSnap = Seq((2L, "B", 21.0), (3L, "C", 30.0), (9L, "N", 1.0))
      .toDF("k", "status", "price") // 1 deleted, 2 repriced, 3 same, 9 new
    val diff = Lakehouse.snapshotDiff(target, newSnap, Seq("k"),
      Seq("status", "price"))
    val got = diff.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toList
    assert(got === List((1L, "D"), (2L, "U"), (9L, "I")))
    // round trip: applying the diff as a CDC batch reconstructs newSnap
    val asCdc = diff.select(col("k"),
      coalesce(col("new_status"), col("old_status")).as("status"),
      coalesce(col("new_price"), col("old_price")).as("price"),
      when(col("change_type") === "D", "D").otherwise("U").as("op"))
    val rebuilt = Lakehouse.applyCdc(target, asCdc, Seq("k"))
    assert(rebuilt.orderBy("k").collect().toList ===
      newSnap.orderBy("k").collect().toList)
  }

  // ---- compactLog -----------------------------------------------------------

  test("compactLog keeps the max-seq op per key and feeds applyCdc") {
    import spark.implicits._
    val log = Seq(
      (1L, "A", 10.0, "I", 1L), (1L, "A2", 11.0, "U", 2L),
      (2L, "B", 20.0, "I", 1L), (2L, "B", 20.0, "D", 3L),
      (9L, "N", 1.0, "I", 5L))
      .toDF("k", "status", "price", "op", "seq")
    val compacted = Lakehouse.compactLog(log, Seq("k"), "seq")
    val got = compacted.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3))).toList
    assert(got === List((1L, "A2", "U"), (2L, "B", "D"), (9L, "N", "I")))
    assert(compacted.columns.toSeq === Seq("k", "status", "price", "op"))
    // no window machinery: one aggregate does the compaction
    assert(!compacted.queryExecution.executedPlan.toString.contains("Window"))
    // compacted batch applies cleanly: 1 updated, 2 deleted, 9 inserted
    val applied = Lakehouse.applyCdc(target, compacted, Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toList
    assert(applied === List((1L, "A2"), (3L, "C"), (9L, "N")))
  }

  // ---- compactFiles ---------------------------------------------------------

  test("compactFiles: 64 tiny files compact to the byte target, content " +
    "identical, idempotent no-op when already compact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact")
      .toString + "/t"
    val rows = (1L to 1000L).map(i => (i, s"row$i"))
    rows.toDF("id", "v").repartition(64).write.parquet(dir)
    val (nb, na, bytes) = Lakehouse.compactFiles(spark, dir,
      targetBytes = Long.MaxValue)
    assert(nb == 64 && na == 1 && bytes > 0,
      s"expected 64 -> 1 files, got $nb -> $na")
    val back = Lakehouse.readCompacted(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(back == rows.sorted)
    // the compaction adopted the dir: snapshot 1's manifest commits the
    // one-file generation the table now resolves to
    assert(Lakehouse.currentSnapshotId(spark, dir).contains(1))
    val gen = Lakehouse.currentManifest(spark, dir)("")
    assert(Lakehouse.resolveCompacted(spark, dir).endsWith(gen))
    // already compact: untouched, same stats back, no new snapshot
    assert(Lakehouse.compactFiles(spark, dir, Long.MaxValue)._1 == 1)
    assert(Lakehouse.currentSnapshotId(spark, dir).contains(1))
  }

  test("compactFiles is reader-safe: a resolution held across the swap " +
    "still reads a complete layout, and GC keeps current + previous") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_rs")
      .toString + "/t"
    val rows = (1L to 500L).map(i => (i, s"row$i"))
    rows.toDF("id", "v").repartition(16).write.parquet(dir)

    // a reader resolves the PRE-compaction layout (the loose files)...
    val preSwap = Lakehouse.resolveCompacted(spark, dir)
    assert(preSwap == dir)
    Lakehouse.compactFiles(spark, dir, targetBytes = 4096L) // -> several files
    // ...and that resolution still reads the full table after the swap:
    // the loose files go at the first snapshotGc, never at swap time
    assert(spark.read.parquet(preSwap).count() == 500L)

    // second compaction (looser target forces snapshot 2): snapshot 1's
    // generation stays readable while GC keeps it
    val gen1 = Lakehouse.resolveCompacted(spark, dir)
    Lakehouse.compactFiles(spark, dir, targetBytes = Long.MaxValue)
    assert(Lakehouse.currentSnapshotId(spark, dir).contains(2))
    assert(Lakehouse.resolveCompacted(spark, dir) != gen1)
    // GC keeping current + previous reclaims only the loose files
    assert(Lakehouse.snapshotGc(spark, dir, keepSnapshots = 2) == (0, 0))
    assert(spark.read.parquet(gen1).count() == 500L) // previous kept
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val looseData = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") &&
        st.getPath.getName != Lakehouse.Sentinel) // metadata, not data
    assert(looseData.isEmpty, "pre-adoption loose files must be GC'd " +
      "by the first snapshotGc")
    assert(Lakehouse.readCompacted(spark, dir).count() == 500L)
    // past retention the previous generation goes
    assert(Lakehouse.snapshotGc(spark, dir, keepSnapshots = 1) == (1, 1))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(gen1)))
    assert(Lakehouse.readCompacted(spark, dir).count() == 500L)
  }

  test("compactDrifted: only the drifted partition is rewritten, each " +
    "under its own per-partition generation swap") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_compact_part")
      .toString + "/lake"
    (1L to 400L).map(i => (i, s"r$i")).toDF("id", "v").repartition(32)
      .write.parquet(s"$root/lang=en")         // drifted: 32 tiny files
    (1L to 10L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$root/lang=fr")         // already compact
    val rewritten = Lakehouse.compactDrifted(spark, root,
      targetBytes = Long.MaxValue)
    assert(rewritten.map(x => (x._1, x._3)) == Seq(("lang=en", 1)))
    assert(Lakehouse.readCompacted(spark, s"$root/lang=en").count() == 400L)
    // the untouched partition resolves to itself (no generation made)
    assert(Lakehouse.resolveCompacted(spark, s"$root/lang=fr")
      == s"$root/lang=fr")
    // idempotent: a second sweep rewrites nothing
    assert(Lakehouse.compactDrifted(spark, root, Long.MaxValue).isEmpty)
  }

  // ---- asOf -----------------------------------------------------------------

  test("asOf reconstructs any historical snapshot from SCD2 history") {
    val at25 = Lakehouse.asOf(dimHist, 25L).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toList
    assert(at25 === List((1L, "a-v1"), (2L, "b"), (3L, "c")))
    val at75 = Lakehouse.asOf(dimHist, 75L).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toList
    assert(at75 === List((1L, "a-v2"), (2L, "b"), (3L, "c")))
    // boundary: a version closed AT ts is no longer visible, the one
    // opened AT ts is (valid_from <= ts < valid_to)
    val at50 = Lakehouse.asOf(dimHist, 50L).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toList
    assert(at50 === List((1L, "a-v2"), (2L, "b"), (3L, "c")))
  }

  // ---- pagerankInt ----------------------------------------------------------

  private def ring: DataFrame = {
    import spark.implicits._
    // 1→{2,3}, 2→3, 3→1: out-degrees 2/1/1
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
  }

  test("pagerankInt matches the hand-computed integer fixed point") {
    val r2 = GraphOps.pagerankInt(ring, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iter1: r=(1000000, 575000, 1425000); iter2 from those:
    //   to1: 1425000*85 div 100 = 1211250 → 1361250
    //   to2: 1000000*85 div 200 =  425000 →  575000
    //   to3: 425000 + 575000*85 div 100 (=488750) → 1063750
    assert(r2 === Map(1L -> 1361250L, 2L -> 575000L, 3L -> 1063750L))
  }

  test("pagerankInt is bit-identical across partition layouts") {
    val a = GraphOps.pagerankInt(ring.repartition(7), iters = 3)
      .orderBy("id").collect().toList
    val b = GraphOps.pagerankInt(ring.coalesce(1), iters = 3)
      .orderBy("id").collect().toList
    assert(a === b)
  }

  test("pagerankInt: checkpoint policy bounds plan depth at deep iters " +
    "without changing the ranks") {
    // 12 iterations with checkpointEvery=3: the analyzed plan of the
    // final frame may reach back at most ~3 iterations, never all 12 —
    // join count in the plan string is the depth witness
    val deep = GraphOps.pagerankInt(ring, iters = 12, checkpointEvery = 3)
    val joins = "Join".r.findAllIn(
      deep.queryExecution.analyzed.toString).size
    assert(joins <= 8, s"plan reaches back past the checkpoint: $joins joins")
    val noCkpt = GraphOps.pagerankInt(ring, iters = 12,
      checkpointEvery = 100)
    assert(deep.orderBy("id").collect().toList ===
      noCkpt.orderBy("id").collect().toList)
  }

  test("pagerankInt: a sink keeps the restart mass only, duplicate edges collapse") {
    import spark.implicits._
    // 1→2 twice (must count once), 2 is a sink
    val e = Seq((1L, 2L), (1L, 2L)).toDF("src", "dst")
    val r = GraphOps.pagerankInt(e, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r === Map(1L -> 150000L, 2L -> (150000L + 850000L)))
  }

  // ---- projectCoGrouped + triangleCounts ------------------------------------

  test("projectCoGrouped: canonical distinct pairs, hub groups capped out") {
    import spark.implicits._
    val bip = Seq(
      ("g1", 1L), ("g1", 2L), ("g1", 3L),            // -> 3 pairs
      ("g2", 1L), ("g2", 2L),                        // duplicate (1,2)
      ("hub", 4L), ("hub", 5L), ("hub", 6L), ("hub", 7L)) // size 4 > cap
      .toDF("group", "member")
    val got = GraphOps.projectCoGrouped(bip, maxGroup = 3)
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toList
    assert(got === List((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("triangleCounts: K4 minus an edge has per-node counts 2/2/1/1") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("a", "b") // triangles: (1,2,3) and (1,2,4)
    val got = GraphOps.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("triangleCounts: a hub past maxDegree fails loudly instead of " +
    "going quadratic; a capped graph passes untouched") {
    import spark.implicits._
    // star around node 0: degree 6 hub, no triangles — with maxDegree=4
    // the embedded degree assertion must abort the query
    val hub = (1L to 6L).map(i => (0L, i)).toDF("a", "b")
    val ex = intercept[Exception] {
      GraphOps.triangleCounts(hub, maxDegree = 4).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("maxDegree"),
      s"expected the degree-guard message, got: ${ex.getMessage}")
    // same graph under the cap: runs (and has no triangles)
    assert(GraphOps.triangleCounts(hub, maxDegree = 6).count() == 0L)
  }

  // ---- connectedComponents --------------------------------------------------

  test("connectedComponents labels every node with its component's min id") {
    import spark.implicits._
    val edges = Seq((2L, 5L), (5L, 6L), (10L, 11L), (3L, 2L))
      .toDF("a", "b")
    val got = GraphOps.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(2L -> 2L, 3L -> 2L, 5L -> 2L, 6L -> 2L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: pointer doubling converges a 64-chain fast, " +
    "and non-convergence throws") {
    import spark.implicits._
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val got = GraphOps.connectedComponents(chain, maxIters = 10).collect()
    assert(got.length == 64 && got.forall(_.getLong(1) == 1L))
    // one round cannot close a 64-chain: the cap must throw, not truncate
    intercept[IllegalStateException] {
      GraphOps.connectedComponents(chain, maxIters = 1).collect()
    }
  }

  test("connectedComponents: string ids label with the lexicographic min " +
    "(the natural ER input), mixed/lossy id types throw loudly") {
    import spark.implicits._
    val edges = Seq(("docB", "docE"), ("docE", "docF"), ("docZ", "docY"))
      .toDF("a", "b")
    val got = GraphOps.connectedComponents(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("docB" -> "docB", "docE" -> "docB", "docF" -> "docB",
      "docZ" -> "docY", "docY" -> "docY"))
    // a string/bigint mix would cast one side to null and mislabel every
    // node — the kernel must refuse it up front
    val mixed = Seq(("docB", 5L)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      GraphOps.connectedComponents(mixed)
    }
    assert(ex.getMessage.contains("integral or both string"))
    val doubles = Seq((1.5, 2.5)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      GraphOps.connectedComponents(doubles)
    }
  }

  test("snapshotDiff: presence comes from marker columns — a legitimate " +
    "NULL in the first key column never misclassifies the row") {
    import spark.implicits._
    // two-part key whose FIRST part is nullable; the (null, 7) rows are
    // real rows on both sides (they can't key-match across the join —
    // SQL null equality — so they honestly report as D + I, never as a
    // phantom I for the old side)
    val oldS = Seq((Option.empty[Long], 7L, "x"), (Some(1L), 1L, "a"))
      .toDF("k1", "k2", "v")
    val newS = Seq((Option.empty[Long], 7L, "x"), (Some(1L), 1L, "b"))
      .toDF("k1", "k2", "v")
    val got = Lakehouse.snapshotDiff(oldS, newS, Seq("k1", "k2"), Seq("v"))
      .collect().map(r => (Option(r.get(0)), r.getLong(1), r.getString(2)))
      .toList.sortBy(x => (x._1.isEmpty, x._3))
    // key (1,1): a real U; key (null,7): one D (old side) + one I (new)
    assert(got === List((Some(1L), 1L, "U"), (None, 7L, "D"),
      (None, 7L, "I")))
  }

  test("canonicalIdsDistributed pads isolated docs and rides the CC kernel") {
    import spark.implicits._
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = Seq((2L, 5L), (5L, 6L)).toDF("a", "b")
    val got = graft.pipeline.Dedup.canonicalIdsDistributed(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      5L -> 2L, 6L -> 2L))
  }

  // ---- seededShuffle --------------------------------------------------------

  test("seededShuffle: reproducible, map-only, shards in range, seed-sensitive") {
    import spark.implicits._
    val docs = (1L to 64L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val a = Mixture.seededShuffle(docs, "doc_id", "s1", shards = 16)
    val b = Mixture.seededShuffle(docs.repartition(5), "doc_id", "s1", 16)
    assert(a.orderBy("doc_id").collect().toList ===
      b.orderBy("doc_id").collect().toList)
    // keying is a projection: no shuffle may appear in the plan
    assert(!a.queryExecution.executedPlan.toString.contains("Exchange"))
    val shards = a.select("shard").distinct().collect().map(_.getInt(0))
    assert(shards.forall(s => s >= 0 && s < 16))
    // a different seed must produce a different permutation
    val c = Mixture.seededShuffle(docs, "doc_id", "s2", 16)
    val orderA = a.orderBy("shuffle_key").select("doc_id")
      .collect().map(_.getLong(0)).toList
    val orderC = c.orderBy("shuffle_key").select("doc_id")
      .collect().map(_.getLong(0)).toList
    assert(orderA !== orderC)
  }
}
