package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Dependent (bind) join with filter batching — the reference's
  * `NestedHashJoinFilter` (`/root/reference/ontario/operators/nonblocking/
  * NestedHashJoinFilter.py:42-234`): buffer left bindings, and every
  * `windowSize` distinct keys instantiate the right-side *source query*
  * with a disjunctive filter (its `makeInstantiation` builds
  * `FILTER ((?v=c1) || (?v=c2) …)`; the SQL wrappers emit IN-lists).
  *
  * Against co-located tables Catalyst's broadcast joins and dynamic
  * partition pruning make this pointless — the operator exists for
  * wrapper-style sources (JDBC, SPARQL endpoints, REST) where selective
  * bindings must travel to the remote side as literal constants. The
  * driver-side collect of distinct keys is intrinsic to bind joins (the
  * reference buffers the same tuples in its `filter_bag`); `maxKeys` guards
  * the non-selective case, where a plain shuffled join is the right plan
  * anyway.
  */
object BindJoin {

  /** Batch size when the caller does not pin one, derived from the
    * MEASURED build-side key count and the endpoint's page economics
    * (the request-dominance finding of SCALE.md "Round-16: adaptive
    * bind-join window, measured") instead of the
    * reference's fixed `WINDOW_SIZE = 20` (`NestedHashJoinFilter.py:20`):
    *
    *  - each batch costs one remote round trip and returns about
    *    [[graft.compiler.RoutePlanner.BindFanout]] rows per key, and a
    *    remote response pages at `pageSize` rows — so batches past
    *    `pageSize / fanout` keys stop saving round trips (their result
    *    already fills a page; total pages ≈ total rows / pageSize
    *    regardless) and only bloat the remote query text;
    *  - a build with FEWER distinct keys than that bound takes ONE
    *    batch — the selective case the bind join exists for should cost
    *    exactly one extra round trip, not ⌈n/20⌉ of them.
    *
    * The fanout constant is shared with the route model so the runtime
    * and [[graft.compiler.RoutePlanner]]'s transfer estimates never
    * disagree about what a bound key is worth; the floor of 20 (the
    * reference's constant) keeps a pathological `pageSize` from
    * degrading to per-key queries, and [[MaxWindow]] caps the batch at a
    * width every remote parser/URL limit tolerates (a 2500-key VALUES is
    * a ~60 KB query — SCALE.md's Round-16 bind-join A/B measured
    * engines bursting whole-stage
    * codegen on it — while 512 keys stay ~15 KB and still cut the
    * reference's fixed-20 round trips by 25×). */
  val MaxWindow = 512

  def adaptiveWindow(nKeys: Int, pageSize: Int = 10000,
                     fanout: Long = graft.compiler.RoutePlanner.BindFanout): Int = {
    require(nKeys >= 0 && pageSize >= 1 && fanout >= 1,
      s"bad adaptiveWindow inputs: nKeys=$nKeys pageSize=$pageSize fanout=$fanout")
    val byPage = math.min(MaxWindow.toLong, math.max(20L, pageSize / fanout))
    math.max(1L, math.min(nKeys.toLong, byPage)).toInt
  }

  /** @param fetchRight one batch of distinct key rows → right-side rows
    *                   (e.g. a JDBC/SPARQL query with an IN-list). Batches
    *                   run as independent jobs; results are unioned lazily.
    * @param windowSize keys per batch; 0 (the default) sizes it from the
    *                   measured key count via [[adaptiveWindow]].
    */
  def apply(left: DataFrame, keys: Seq[String],
            fetchRight: Seq[Row] => DataFrame,
            windowSize: Int = 0, maxKeys: Int = 100000,
            joinType: String = "inner"): DataFrame = {
    require(windowSize >= 0, s"windowSize must be >= 0 (0 = adaptive), got $windowSize")
    val distinctKeys = left.select(keys.map(col): _*).distinct()
      .limit(maxKeys + 1).collect()
    require(distinctKeys.length <= maxKeys,
      s"bind join is the wrong plan for >$maxKeys distinct keys; use a shuffled join")
    if (distinctKeys.isEmpty) {
      require(joinType == "inner", "empty left side: only inner bind join is defined")
      left.limit(0)
    } else {
      val window =
        if (windowSize > 0) windowSize else adaptiveWindow(distinctKeys.length)
      val right = distinctKeys.grouped(window).map(b => fetchRight(b.toSeq))
        .reduce(_.unionByName(_))
      left.join(right, keys, joinType)
    }
  }
}
