package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-call corpus preparation — the composition a training-data team
  * actually deploys, in the order that minimizes work at 100 TB:
  *
  *   1. quality funnel ([[TextAnalysis.filterFunnel]]'s rules) — one
  *      native kernel per document kills the junk tail FIRST, returning as
  *      soon as a rule decides, so nothing downstream pays for documents
  *      that were never going to ship;
  *   2. full dedup ([[Dedup.dedupCorpus]]) over the survivors — exact
  *      digest groupBy, then banded near-dup, then components;
  *   3. deterministic split ([[Mixture.splitAssign]]) — the keyed-coin
  *      map over what remains.
  *
  * Cheapest-first staging is the point: the funnel is a predicate scan,
  * dedup's expensive stage (shingle hashing + banding) sees only
  * funnel-surviving, exact-distinct text, and the split costs nothing.
  * Certify the result with [[Mixture.splitLeakage]] — after this call it
  * must be empty at the same threshold, since near-dup components were
  * collapsed before splitting.
  */
object Prepare {

  /** Returns (doc_id, source, split) for the prepared training corpus:
    * quality-passing, exact- and near-dup-free, deterministically split.
    * Every stage is individually oracle-gated; `doc_prepare_corpus`
    * gates the composition end-to-end (funnel rules + dedup closure +
    * split coin recomputed in one SQL chain).
    *
    * Requires `doc_id` to be unique. The result joins the RAW `docs` to
    * the dedup survivor ids: those ids are a subset of the funnel
    * survivors, so the rows equal those of the filtered input, and the
    * final scan reads only `doc_id` and `source` — the text is read and
    * funnelled once, inside the dedup staging. */
  def prepareCorpus(docs: DataFrame, valFrac: Double = 0.1,
                    testFrac: Double = 0.1, salt: String = "prep",
                    threshold: Double = 0.7): DataFrame = {
    // the funnel keep step as an inline predicate over the raw row —
    // row-identical to the semi-join on filterFunnel's keep ids (doc_id
    // is unique), without joining the corpus against its own projection
    // (guide §2.4): one map-only filter instead of a corpus-sized join
    val kept = docs.filter(TextAnalysis.funnelFirstFail.isNull)
    val ids = Dedup.dedupIds(kept, threshold)
    Mixture.splitAssign(docs.join(ids, Seq("doc_id")), valFrac, testFrac, salt)
  }

  /** Snapshot diff between two corpus versions — the incremental-curation
    * primitive: a recrawl is not a fresh corpus, it is yesterday's corpus
    * plus `added`, minus `removed`, with `changed` content at surviving
    * ids. One full-outer join on doc_id comparing content digests (md5
    * computed BEFORE the join so text never shuffles — the exact-dedup
    * discipline), emitting only the delta rows; `unchanged` mass stays
    * out of the output, which is what makes the diff affordable when the
    * overlap is 99% of 100 TB. Downstream, `added ∪ changed` is exactly
    * the set the incremental dedup stores ([[Dedup]]'s ingest gate) and
    * the derived-index appends ([[Search.appendToIndex]]) need to see.
    * Output: (doc_id, status ∈ {added, removed, changed}). */
  def corpusDiff(prev: DataFrame, next: DataFrame): DataFrame = {
    val a = prev.select(col("doc_id"), md5(col("text")).as("da"))
    val b = next.select(col("doc_id"), md5(col("text")).as("db"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("da").isNull, "added")
          .when(col("db").isNull, "removed")
          .when(col("da") =!= col("db"), "changed")
          .as("status"))
      .filter(col("status").isNotNull)
  }

  /** MERGE/upsert — the write side of [[corpusDiff]]: apply a change batch
    * to a snapshot so that `applyDiff(prev, upserts, deleteIds)` with the
    * batch derived from a diff reproduces `next` exactly (the round-trip
    * law `Round11Spec` pins). Semantics are staged like SQL MERGE: deletes
    * first, then upserts replace surviving same-id rows or insert new ids
    * — an id in both is therefore an insert, not a conflict.
    *
    * Two id-equi-joins, nothing else: an anti join for the deletes and a
    * full-outer for the upserts (both broadcastable when the batch is
    * small — the common incremental case, where the 99%-unchanged
    * snapshot mass streams through untouched). Row provenance is decided
    * by a presence flag, not per-column `coalesce`, so an upsert that
    * legitimately writes NULL into a column still wins. */
  def applyDiff(snapshot: DataFrame, upserts: DataFrame,
                deleteIds: DataFrame, idCol: String = "doc_id"): DataFrame = {
    require(upserts.columns.sorted.sameElements(snapshot.columns.sorted),
      s"upsert batch schema ${upserts.columns.mkString(",")} must match " +
        s"snapshot schema ${snapshot.columns.mkString(",")}")
    // SQL MERGE raises on multiple source rows per target key; a silent
    // full-outer fan-out would corrupt the snapshot instead. One cheap
    // aggregation over the (small) batch — never over the snapshot.
    val dup = upserts.groupBy(col(idCol)).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"upsert batch carries duplicate $idCol=${dup.headOption.map(_.get(0)).orNull} " +
        "— MERGE requires one source row per key (dedup the batch first)")
    val cols = snapshot.columns.filter(_ != idCol).toSeq
    val survivors = snapshot
      .join(deleteIds.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol) +: cols.map(c => col(c).as(s"__s_$c")): _*)
    val batch = upserts
      .select(col(idCol) +: cols.map(c => col(c).as(s"__u_$c")): _*)
      .withColumn("__up", lit(true))
    survivors.join(batch, Seq(idCol), "full_outer")
      .select(col(idCol) +: cols.map(c =>
        when(col("__up"), col(s"__u_$c")).otherwise(col(s"__s_$c")).as(c)): _*)
  }
}
