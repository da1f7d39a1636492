package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** An optimistic snapshot commit lost its race: another writer committed
  * the id this one was about to take. The base the writer read is stale —
  * re-read the current snapshot, re-derive the writes, retry (or let
  * [[Lakehouse.withSnapshotRetry]] do both). Extends IllegalStateException
  * so pre-r17 callers that matched on that type keep working. */
final class ConcurrentCommitException(msg: String)
  extends IllegalStateException(msg)

/** SPI for committing snapshot METADATA on stores whose rename is not
  * exclusive (S3-class): real object stores offer a conditional create
  * the filesystem API hides — S3 `If-None-Match: *`, GCS
  * `ifGenerationMatch=0`, Azure `If-None-Match` — and an implementation
  * of this trait is how a deployment plugs that in. Configure
  * `graft.lake.casProvider` with the implementing class's fully
  * qualified name (public no-arg constructor); the snapshot commit then
  * routes every metadata put-if-absent (manifests, shards, tags, fork
  * markers, staged manifests) through it on schemes that are not
  * natively rename-atomic, instead of refusing the scheme outright.
  *
  * The provider's contract IS the commit safety — get it wrong and two
  * committers can both "win": return true iff THIS call created the
  * target (atomically, against all concurrent writers), false iff the
  * target already existed (the caller's CAS conflict), and THROW on IO
  * trouble (reporting an IO error as a conflict misdirects the operator
  * into retry/delete loops — the casPutFile probe rationale). The
  * target must hold exactly `bytes` when true is returned; partial
  * writes must never become visible (object PUTs are atomic by
  * nature). */
trait SnapshotCas {
  def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
                  target: org.apache.hadoop.fs.Path,
                  bytes: Array[Byte]): Boolean

  /** OPTIONAL freshness re-arm of an existing metadata object (a
    * reused content-addressed manifest shard): make the object look
    * recently written to age-based GC — a metadata-only mtime/copy-
    * in-place touch on stores that support one. Returns true when the
    * re-arm happened, false when the store cannot express it (the
    * default). Throw `java.io.FileNotFoundException` if the target
    * vanished (the caller rewrites it — the bytes are content-addressed
    * and in hand).
    *
    * WHY THIS EXISTS — the GC-vs-commit shard race contract a provider
    * author inherits: a committer REUSING an aged shard re-arms its
    * freshness before its root CAS, and [[Lakehouse.snapshotGc]]
    * re-probes freshness right before each shard delete. On stores
    * where neither `FileSystem.setTimes` nor this touch works, that
    * race is closed only by the TTL discipline
    * (`graft.lake.stageRelicTtlMs`, default 24 h): a GC pass and a
    * commit must straddle the full TTL for a reused shard to be lost,
    * and the committer's post-CAS self-heal re-probe narrows even
    * that. Implement touch (S3 self-copy with metadata replace, GCS
    * rewrite, Azure set-blob-properties all qualify) to close the race
    * completely. */
  def touch(fs: org.apache.hadoop.fs.FileSystem,
            target: org.apache.hadoop.fs.Path): Boolean = false
}

/** Table-maintenance operators for a mutable lake: MERGE upsert, CDC
  * apply, SCD2 dimension history, and snapshot diff.
  *
  * A 100 TB training corpus is not write-once: crawls re-fetch pages,
  * label fixes land, licensing takedowns delete rows. Each op here is a
  * single declarative plan whose only wide stage is the key-hash shuffle
  * of the join — at cluster scale every one of them co-partitions on the
  * merge key, so target and delta land on the same executors and AQE can
  * size the reduce side. None of them sort globally, collect to the
  * driver, or carry per-row state.
  *
  * Semantics follow the ANSI/Delta MERGE and classic Kimball SCD2
  * contracts (public; the reference engine is read-only federation and
  * has no write path — this is extension surface in the sense of
  * SURVEY §2.14). Column comparisons are null-safe (`<=>`) throughout,
  * so a NULL→value change is a real change and NULL==NULL is not.
  */
object Lakehouse {

  /** MERGE upsert: rows of `source` replace key-matched rows of
    * `target`; unmatched source rows are inserts; unmatched target rows
    * survive. Exactly `WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    * THEN INSERT *`.
    *
    * Plan shape: one left-anti hash join on `keys` (the survivors) plus
    * a union with `source` — a single shuffle of each side, no window,
    * no global sort. With a small delta Catalyst broadcasts the anti
    * join's build side, making the merge a map-only pass over the
    * target: the 100 TB case is "broadcast the day's changes, rewrite
    * only matching files".
    *
    * `source` must be key-unique (a last-writer-wins pre-dedup is the
    * caller's policy decision — see [[applyCdc]] which does resolve
    * multiplicity via `op`). */
  def mergeUpsert(target: DataFrame, source: DataFrame,
                  keys: Seq[String]): DataFrame = {
    val srcKeys = source.select(keys.map(col): _*).distinct()
    target.join(srcKeys, keys, "left_anti").unionByName(source)
  }

  /** Apply a CDC change batch: `changes` carries the full payload plus
    * an `opCol` in {"I","U","D"}. D drops the key from the target; I and
    * U both upsert the payload (so a replayed I on an existing key is an
    * idempotent overwrite, the usual at-least-once CDC contract).
    *
    * At most one change row per key (a compacted batch — compaction of
    * a raw op log to last-op-per-key is `groupBy(keys).agg(max_by)`
    * upstream and deliberately not bundled here). Plan: one anti join
    * to drop every touched key, one union of the non-delete payloads. */
  def applyCdc(target: DataFrame, changes: DataFrame,
               keys: Seq[String], opCol: String = "op"): DataFrame = {
    val touched = changes.select(keys.map(col): _*).distinct()
    val upserts = changes.filter(col(opCol) =!= lit("D")).drop(opCol)
    target.join(touched, keys, "left_anti").unionByName(upserts)
  }

  /** Compact a raw CDC op log to the last op per key — the declared
    * upstream of [[applyCdc]] (which requires at most one change row per
    * key). `seqCol` is the log's monotone change sequence (LSN/offset);
    * the caller's contract is one op per (key, seq) with seqs strictly
    * ordered per key, and ties — a violated contract — still resolve
    * deterministically because the ordering key is (seq, payload), never
    * partition order.
    *
    * One map-side-combined `max_by` aggregate: the log shuffles its
    * payload once, hash-partitioned by key — no window, no sort. Output
    * carries exactly the non-seq columns, ready to feed [[applyCdc]]. */
  def compactLog(log: DataFrame, keys: Seq[String],
                 seqCol: String = "seq"): DataFrame = {
    val payload = log.columns.filterNot(c =>
      keys.contains(c) || c == seqCol).toSeq
    val row = struct(payload.map(col): _*)
    val ord = struct(col(seqCol) +: payload.map(col): _*)
    log.groupBy(keys.map(col): _*)
      .agg(max_by(row, ord).as("__last"))
      .select(keys.map(col) ++
        payload.map(c => col(s"__last.$c").as(c)): _*)
  }

  /** Time-travel read over an SCD2 history table ([[scd2Apply]]'s
    * output shape): the snapshot as of `ts` — versions opened at or
    * before `ts` and not yet closed then. A pure filter (map-only; at
    * cluster scale it rides min/max row-group pruning on `valid_from`/
    * `valid_to`), dropping the validity bookkeeping columns. */
  def asOf(dim: DataFrame, ts: Long): DataFrame =
    dim.filter(col("valid_from") <= ts &&
        (col("valid_to").isNull || col("valid_to") > ts))
      .drop("valid_from", "valid_to")

  /** Small-files compaction for a parquet table. Micro-batch and
    * streaming ingest accrete thousands of tiny files whose per-file
    * open/footer/task costs dominate scans long before data volume does
    * (the canonical lake-maintenance chore); this rewrites the SAME rows
    * into ceil(bytes / targetBytes) files.
    *
    * Compaction is a SNAPSHOT COMMIT ([[commitSnapshot]]), the lake's
    * one commit protocol. On a plain parquet directory the first
    * compaction IS the adoption: the loose files are rewritten ONCE, at
    * the byte target, into a generation committed as snapshot 1. On a
    * snapshot-managed root it is [[compactDrifted]]. Currency flips with
    * the manifest put, a crash mid-write leaves only unreferenced
    * generations, and retention belongs to [[snapshotGc]] alone.
    *
    * Reader contract: resolve through [[resolveCompacted]] /
    * [[readCompacted]]; a resolution stays readable until [[snapshotGc]]
    * drops the snapshot that committed it. NAIVE reads degrade
    * stale-correct → LOUD, never silently wrong: generations are
    * listing-hidden, so a raw `spark.read.parquet(root)` sees the
    * pre-adoption loose files (the SAME rows) until the first
    * [[snapshotGc]] reclaims them and plants the [[Sentinel]], which the
    * naive read trips over with a footer-parse error.
    *
    * Idempotent: a table already at or under the target file count
    * returns untouched. Returns (filesBefore, filesAfter, bytes), summed
    * over every entry of a managed lake. */
  def compactFiles(spark: org.apache.spark.sql.SparkSession, path: String,
                   targetBytes: Long = 128L << 20): (Int, Int, Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    if (fs.exists(new org.apache.hadoop.fs.Path(root, LakeDir))) {
      val swept = sweepSnapshot(spark, path, targetBytes)
      return (swept.map(_._2).sum, swept.map(_._3).sum, swept.map(_._4).sum)
    }
    requireNoMarkerLayout(fs, root)
    val loose = dataFiles(fs, root)
    val bytes = loose.map(_.getLen).sum
    val target = fileTarget(bytes, targetBytes)
    if (loose.length <= target) return (loose.length, loose.length, bytes)
    val id = commitSnapshot(spark, path,
      Seq("" -> spark.read.parquet(path).repartition(target)))
    (loose.length, manifestAt(spark, path, Some(id)).files("").size, bytes)
  }

  /** Files a `bytes`-sized entry should hold at `targetBytes` each. */
  private def fileTarget(bytes: Long, targetBytes: Long): Int =
    math.max(1L, (bytes - 1) / targetBytes + 1).toInt

  /** Sequentially numbered generations (`_gen-00000001`, visible
    * `gen-00000001` before it) were written only by the retired
    * marker-generation compaction, and such a root keeps its current rows
    * in one of them: reading it as loose files, or adopting it as an
    * empty base, would silently serve stale or no rows — refuse loudly.
    * Writer-unique `_gen-<nonce>` dirs and the sentinel on an unmanaged
    * root are relics of a crashed first snapshot commit, not this. */
  private val MarkerGenName = "^_?gen-\\d{8}$".r
  private def requireNoMarkerLayout(fs: org.apache.hadoop.fs.FileSystem,
                                    r: org.apache.hadoop.fs.Path): Unit = {
    val old = fs.listStatus(r).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(MarkerGenName.matches).sorted
    if (old.nonEmpty) throw new IllegalStateException(
      s"$r was compacted by the retired marker-generation layout " +
        s"(${old.mkString(", ")}): copy its newest generation out as a " +
        "plain parquet directory and compact or commit that instead")
  }

  /** Generation name for snapshot data dirs: UNDERSCORE-hidden, so a
    * naive recursive read of a managed root never lists generations
    * (explicitly resolved generation paths read normally); and
    * WRITER-UNIQUE (a random nonce), never listing-max+1. Currency comes from the manifest alone, so
    * names carry no order — and sequential naming let two concurrent
    * same-partition committers pick the SAME dir, where the loser's
    * overwrite corrupts the data the winner's manifest references
    * BEFORE the manifest CAS can object (the r16 lost-update hole). With
    * a nonce every writer's dirs are disjoint by construction; the
    * manifest CAS arbitrates the commit and the loser's orphan dirs are
    * [[snapshotGc]] relics. */
  private def snapGenName(): String = {
    val u = java.util.UUID.randomUUID()
    f"_gen-${u.getMostSignificantBits}%016x${u.getLeastSignificantBits}%016x"
  }

  /** Visible (non-underscore) on purpose: Spark's listing filters skip
    * `_`/`.` names, so a hidden marker would leave the naive read
    * silently wrong — this one gets LISTED as data and fails the parquet
    * footer parse with the file name in the error. */
  private[graft] val Sentinel = "GRAFT_MANAGED_TABLE_SEE_resolveCompacted"

  /** Plant the sentinel unless the dir still holds loose data files a
    * naive reader legitimately reads (the stale-but-correct adoption
    * window — adoption is content-preserving, so until the loose copies
    * are GC'd a raw read returns the right rows). */
  private def plantSentinelIfBare(fs: org.apache.hadoop.fs.FileSystem,
                                  dir: org.apache.hadoop.fs.Path): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, Sentinel)
    if (dataFiles(fs, dir).isEmpty && !fs.exists(p)) {
      val out = fs.create(p, true)
      out.write(("this table is snapshot-managed by graft: read it " +
        "through Lakehouse.readSnapshot (or resolveCompacted/" +
        "readCompacted) — its data lives in listing-hidden generation " +
        "directories a raw recursive parquet read cannot see\n")
        .getBytes("UTF-8"))
      out.close()
    }
  }

  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path) =
    fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".") && n != Sentinel
    }

  /** The directory currently holding `path`'s data: for a
    * snapshot-managed table the one data dir its current manifest
    * commits (a lake with any partitioned entry throws — one directory
    * cannot represent it; read it through [[readSnapshot]]); otherwise
    * `path` itself, a plain parquet directory. A resolution stays
    * readable until [[snapshotGc]] drops the snapshot that committed it
    * (see [[compactFiles]]' reader contract). */
  def resolveCompacted(spark: org.apache.spark.sql.SparkSession,
                       path: String): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    if (!fs.exists(new org.apache.hadoop.fs.Path(root, LakeDir))) {
      if (fs.exists(root)) requireNoMarkerLayout(fs, root)
      return path
    }
    // ONLY an exactly-one-entry, root-keyed manifest resolves to a single
    // directory. A manifest with ANY other partition — even alongside a
    // "" entry (the adopt-then-partitioned-commit layout) — throws:
    // returning just the root entry's dir would be a silently PARTIAL
    // table, the worst of the three outcomes
    val m = currentManifest(spark, path)
    m.toSeq match {
      case Seq(("", gen)) => new org.apache.hadoop.fs.Path(root, gen).toString
      case _ => throw new IllegalStateException(
        s"$path is a snapshot-managed PARTITIONED lake " +
          s"(${m.size} partitions): one directory cannot represent " +
          "it — read through readSnapshot(root)")
    }
  }

  /** `spark.read.parquet` over [[resolveCompacted]] — how readers open a
    * compacted table. */
  def readCompacted(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    spark.read.parquet(resolveCompacted(spark, path))

  // ---- lake-wide atomic snapshot commit -------------------------------------

  private val LakeDir = "_graft_lake"
  private val SnapName = "^snap-(\\d{8})$".r

  private def fsOf(spark: org.apache.spark.sql.SparkSession,
                   p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** "" = the main lineage; a branch name = its private lineage dir.
    * Every manifest primitive below is lineage-keyed through these two
    * helpers, so branches reuse the whole commit/read/GC machinery. */
  private val MainBranch = ""
  private def lineageDir(root: org.apache.hadoop.fs.Path,
                         branch: String): org.apache.hadoop.fs.Path = {
    val lake = new org.apache.hadoop.fs.Path(root, LakeDir)
    if (branch.isEmpty) lake
    else new org.apache.hadoop.fs.Path(lake, s"branch-$branch")
  }

  private def snapIds(fs: org.apache.hadoop.fs.FileSystem,
                      root: org.apache.hadoop.fs.Path,
                      branch: String = MainBranch): Seq[Int] = {
    val dir = lineageDir(root, branch)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.collect {
      case st if st.isFile => st.getPath.getName match {
        case SnapName(n) => Some(n.toInt)
        case _           => None
      }
    }.flatten.sorted
  }

  /** Highest committed snapshot id of a snapshot-managed lake (or of one
    * of its branches), if any. */
  def currentSnapshotId(spark: org.apache.spark.sql.SparkSession,
                        root: String,
                        branch: String = MainBranch): Option[Int] = {
    val r = new org.apache.hadoop.fs.Path(root)
    snapIds(fsOf(spark, r), r, branch).lastOption
  }

  private def snapFile(root: org.apache.hadoop.fs.Path, id: Int,
                       branch: String = MainBranch) =
    new org.apache.hadoop.fs.Path(lineageDir(root, branch),
      f"snap-$id%08d")

  /** One committed entry of `man`, read through [[snapshotScan]] — the
    * one read shape every partition-granular writer shares. */
  private def readPart(spark: org.apache.spark.sql.SparkSession,
                       man: Manifest, root: String, rel: String): DataFrame =
    snapshotScan(spark, root, man, _ == rel, Nil)

  /** partition-relative dir ("" = the table root) + committed data
    * subdir → the absolute data directory. */
  private def dataDir(root: org.apache.hadoop.fs.Path, rel: String,
                      gen: String): org.apache.hadoop.fs.Path = {
    val part = if (rel.isEmpty) root else new org.apache.hadoop.fs.Path(root, rel)
    new org.apache.hadoop.fs.Path(part, gen)
  }

  /** Per-file column statistics: min/max of a stats column as codec
    * strings ([[StatsCodec]]); None = the file has no non-null value of
    * the column (prunable under any non-null range predicate). */
  private[graft] final case class ColStat(min: Option[String],
                                          max: Option[String])

  /** One committed data file of a generation, as recorded in the
    * manifest (`#file` lines): name, byte length, and mtime. Recording
    * these at COMMIT time (the writer just produced the files — they are
    * one local listing away) is what lets [[ManifestFileIndex]] plan
    * every read with ZERO filesystem calls: the `FileStatus` objects
    * Spark needs are synthesized from the manifest instead of one
    * blocking `listStatus` RPC per partition dir. Generations are
    * immutable, so the recorded facts can never go stale. */
  private[graft] final case class FileEntry(name: String, len: Long,
                                            mtime: Long)

  /** Parsed manifest: the partition→data-dir mapping plus the committed
    * SCHEMA (a `#schema` metadata line, StructType JSON) plus optional
    * per-file column STATS (`#stats` lines: rel → file → col →
    * min/max). The schema rides the manifest so readers never pay
    * per-file footer merging and every snapshot owns ONE authoritative
    * shape; the stats are the data-skipping layer — [[readSnapshot]]
    * prunes FILES whose [min,max] cannot intersect a caller-declared
    * range before Spark ever plans the scan. */
  private[graft] final case class Manifest(
      mapping: Map[String, String],
      schema: Option[org.apache.spark.sql.types.StructType],
      stats: Map[String, Map[String, Map[String, ColStat]]] = Map.empty,
      /** rel → columns with a per-file BLOOM sidecar in that rel's
        * committed generation — the point-lookup skip layer min/max
        * cannot provide when every file spans the value space. The
        * filters themselves live in `_bloom-<col>` sidecar files INSIDE
        * the generation dir (they are kilobytes per file — too big for
        * manifest text lines; riding the gen dir gives them its
        * immutability and its GC for free). */
      blooms: Map[String, Set[String]] = Map.empty,
      /** rel → the committed generation's data files (`#file` lines) —
        * what every read plans from ([[snapshotScan]]), so no read lists
        * a data dir. Every mapped rel has at least one (Spark writes a
        * part file even for an empty frame); [[readManifest]] refuses a
        * manifest that maps a rel without any. */
      files: Map[String, Seq[FileEntry]] = Map.empty,
      /** PER-SNAPSHOT properties (`#prop` lines) — small facts a commit
        * records ATOMICALLY with its manifest CAS (the Iceberg snapshot-
        * summary idea): e.g. [[maintainAggregate]]'s last-folded source
        * epoch, whose exactly-once discipline is exactly "the watermark
        * rides the same atomic put as the state it describes". Facts
        * about ONE commit, not table properties: a fresh commit carries
        * none unless the committer passes them, while verbatim manifest
        * copies ([[rollbackSnapshot]], a branch seed) keep them — the
        * rolled-back content IS that epoch's content, watermark
        * included. Readers that predate a property ignore the line
        * (the parser is prefix-keyed), so no `#minreader` bump: a
        * property can carry bookkeeping, never anything whose loss
        * mis-reads the data. */
      props: Map[String, String] = Map.empty)

  private val StatNull = "-"
  private def encStat(v: Option[String]): String =
    v.fold(StatNull)(s => java.net.URLEncoder.encode(s, "UTF-8"))
  private def decStat(s: String): Option[String] =
    if (s == StatNull) None
    else Some(java.net.URLDecoder.decode(s, "UTF-8"))

  /** Read one metadata file's full text. */
  private def readText(fs: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Byte-bounded LRU cache for driver-side metadata parses. Bounding by
    * BYTES, not entry count, is the point: the units here (manifest
    * shards ~1–2 MB of text, bloom sidecars kilobytes-to-megabytes) vary
    * by orders of magnitude, so a count bound either thrashes small
    * entries or hoards gigabytes of large ones. Eviction is
    * least-recently-USED first (access-order LinkedHashMap), one entry
    * at a time — never a full clear, so a working set under budget is
    * never collateral damage of one oversized insert. The entry being
    * inserted is itself never evicted (evicting it would make every
    * repeat of the current query a miss — the r18 shard-cache thrash
    * lesson, generalized). `budget` re-reads its conf per insert so a
    * session-level retune applies without a restart. */
  private[graft] final class ByteLruCache[K, V](budget: () => Long,
                                                sizeOf: V => Long) {
    private val map = new java.util.LinkedHashMap[K, V](64, 0.75f, true)
    private var held = 0L
    def get(k: K): Option[V] = synchronized(Option(map.get(k)))
    def put(k: K, v: V): Unit = synchronized {
      val old = map.put(k, v)
      if (old != null) held -= sizeOf(old)
      held += sizeOf(v)
      val b = budget()
      val it = map.entrySet().iterator()
      while (held > b && it.hasNext) {
        val e = it.next()
        if (e.getKey != k) { held -= sizeOf(e.getValue); it.remove() }
      }
    }
    private[graft] def clear(): Unit = synchronized { map.clear(); held = 0 }
    private[graft] def heldBytes: Long = synchronized(held)
    private[graft] def entryCount: Int = synchronized(map.size())
  }

  private def confLong(key: String, dflt: Long): Long =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => scala.util.Try(s.conf.get(key)).toOption)
      .map(_.toLong).getOrElse(dflt)

  /** Shard files are IMMUTABLE and content-addressed (`part-<md5>`), so
    * their parses cache by NAME alone — shared across epochs, lineages,
    * and staged manifests that reference the same unchanged group.
    * Byte-bounded (`graft.lake.shardCacheBytes`, default 256 MB): at the
    * default 50k-line threshold each shard holds ~1–2 MB of text, so the
    * old 1024-ENTRY bound could pin over a gigabyte of driver heap. */
  private[graft] val shardCache = new ByteLruCache[String, String](
    () => confLong("graft.lake.shardCacheBytes", 256L << 20),
    t => 2L * t.length + 64)

  /** Timeout for driver-side metadata IO (shard GETs, bloom-sidecar
    * fetches, the IVM wide-replace listing):
    * honors the session conf `graft.lake.metaIoTimeoutSec` like every
    * other graft.lake knob, falling back to the hadoop conf (settable
    * via `spark.hadoop.…`) and then 600 s. */
  private[graft] def metaIoTimeoutSec(
      conf: org.apache.hadoop.conf.Configuration): Long =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => scala.util.Try(
        s.conf.get("graft.lake.metaIoTimeoutSec")).toOption)
      .map(_.toLong)
      .getOrElse(conf.getLong("graft.lake.metaIoTimeoutSec", 600))

  private[graft] def metaIoTimeoutSec(
      fs: org.apache.hadoop.fs.FileSystem): Long =
    metaIoTimeoutSec(fs.getConf)

  /** THE driver-side parallel-IO helper — every bounded pool in the lake
    * (shard fetch, commit partition writes, bloom-sidecar fetch, IVM
    * wide-replace listing) goes through here,
    * so the hardening is uniform by construction: daemon threads (a hung
    * store call must never pin the JVM), `shutdownNow` (stragglers are
    * interrupted, not accumulated across retries), and a timeout that
    * fails LOUDLY as an IO diagnosis instead of freezing planning. Pass
    * `Duration.Inf` only where the work owns its failure semantics (the
    * commit's Spark write jobs — a long legitimate write must not be
    * killed by a metadata-IO timeout). */
  private[graft] def parMap[A, B](
      items: Seq[A], par: Int, threadName: String,
      timeout: scala.concurrent.duration.Duration)(f: A => B): Seq[B] = {
    if (items.isEmpty) return Nil
    val n = math.max(1, math.min(items.size, par))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n,
      (r: Runnable) => {
        val t = new Thread(r, threadName); t.setDaemon(true); t
      })
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(items.map(a =>
          scala.concurrent.Future(f(a)))), timeout)
      catch {
        case e: java.util.concurrent.TimeoutException =>
          throw new java.io.IOException(
            s"$threadName: ${items.size}-item parallel metadata IO did " +
              s"not finish within $timeout " +
              "(graft.lake.metaIoTimeoutSec) — a hung store call, not a " +
              "commit conflict; diagnose the store before retrying", e)
      }
    } finally pool.shutdownNow()
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): Manifest = {
    val rootText = readText(fs, p)
    // reader-feature gate BEFORE any parsing: a root demanding a newer
    // reader must fail loudly, never be read as a partial (or empty)
    // snapshot because its lines look like unknown comments
    rootText.linesIterator.collectFirst {
      case l if l.startsWith("#minreader\t") =>
        l.split("\t", -1)(1).toInt
    }.foreach(v => require(v <= ReaderVersion,
      s"manifest $p requires reader format version $v; this build " +
        s"reads up to $ReaderVersion — upgrade before reading this lake"))
    // sharded manifest: the root carries #shard refs to content-addressed
    // group files in the ROOT LakeDir (shared across lineages); inline
    // lines and shard blocks concatenate to the same wire format
    val shardNames = rootText.linesIterator
      .filter(_.startsWith("#shard\t")).map(_.split("\t", -1)(1)).toSeq
    val text =
      if (shardNames.isEmpty) rootText
      else {
        // LakeDir is the snap file's parent for main, the grandparent
        // for a branch lineage (branch-<name>/snap-…)
        val parent = p.getParent
        val lake = if (parent.getName == LakeDir) parent else parent.getParent
        require(lake.getName == LakeDir,
          s"sharded manifest $p is not under a $LakeDir dir")
        // uncached shards fetch in PARALLEL — sequential per-shard GETs
        // would rebuild the plan-time RPC walk sharding exists to kill
        // (on a remote store each read is a blocking round-trip); the
        // content-addressed cache makes this a once-per-process cost.
        // Resolution goes through a LOCAL map, never back through the
        // cache: a concurrent reader's eviction must not be able to
        // drop a shard between this manifest's fetch and its assembly.
        val have: Map[String, Option[String]] =
          shardNames.map(n => n -> shardCache.get(n)).toMap
        val missing = shardNames.filter(have(_).isEmpty)
        val fetched: Map[String, String] =
          parMap(missing, 16, "graft-shard-fetch",
            scala.concurrent.duration.Duration(metaIoTimeoutSec(fs), "s"))(
            n => n -> readText(fs, new org.apache.hadoop.fs.Path(lake, n))
          ).toMap
        // byte-bounded LRU: inserts evict coldest-first, never the
        // entries this manifest just resolved (`get` above marked the
        // cached ones recent; `put` never evicts its own key) — a
        // fully-cached steady state never thrashes
        fetched.foreach { case (n, t) => shardCache.put(n, t) }
        rootText + shardNames.map(n =>
          have(n).getOrElse(fetched(n))).mkString
      }
    val (meta, data) = text.linesIterator.filter(_.nonEmpty).toSeq
      .partition(_.startsWith("#"))
    val mapping = data.map { line =>
      val i = line.indexOf('\t')
      require(i >= 0, s"malformed manifest line in $p: '$line'")
      (line.substring(0, i), line.substring(i + 1))
    }.toMap
    val schema = meta.collectFirst {
      case l if l.startsWith("#schema\t") =>
        org.apache.spark.sql.types.DataType
          .fromJson(l.substring("#schema\t".length))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    val stats = scala.collection.mutable.Map[
      String, scala.collection.mutable.Map[
        String, scala.collection.mutable.Map[String, ColStat]]]()
    meta.filter(_.startsWith("#stats\t")).foreach { l =>
      l.split("\t", -1) match {
        case Array(_, rel, file, colName, mn, mx) =>
          stats.getOrElseUpdate(rel, scala.collection.mutable.Map())
            .getOrElseUpdate(file, scala.collection.mutable.Map())
            .update(colName, ColStat(decStat(mn), decStat(mx)))
        case _ => throw new IllegalStateException(
          s"malformed #stats line in $p: '$l'")
      }
    }
    val blooms = scala.collection.mutable.Map[String,
      scala.collection.mutable.Set[String]]()
    meta.filter(_.startsWith("#bloom\t")).foreach { l =>
      l.split("\t", -1) match {
        case Array(_, rel, colName) =>
          blooms.getOrElseUpdate(rel, scala.collection.mutable.Set())
            .add(colName)
        case _ => throw new IllegalStateException(
          s"malformed #bloom line in $p: '$l'")
      }
    }
    val files = scala.collection.mutable.Map[String,
      scala.collection.mutable.ArrayBuffer[FileEntry]]()
    meta.filter(_.startsWith("#file\t")).foreach { l =>
      l.split("\t", -1) match {
        case Array(_, rel, name, len, mtime) =>
          files.getOrElseUpdate(rel,
            scala.collection.mutable.ArrayBuffer()) +=
            FileEntry(java.net.URLDecoder.decode(name, "UTF-8"),
              len.toLong, mtime.toLong)
        case _ => throw new IllegalStateException(
          s"malformed #file line in $p: '$l'")
      }
    }
    // only builds older than r18 committed without file lists; reads
    // plan from the lists alone, so such a manifest is refused loudly
    mapping.keys.toSeq.sorted.find(!files.contains(_)).foreach { rel =>
      throw new IllegalStateException(
        s"manifest $p maps partition '$rel' without any #file line — it " +
          "was committed by a build older than r18, and this build reads " +
          "only the recorded file lists: commit the lake once with an " +
          "r18-or-later build that still backfills them")
    }
    val props = meta.filter(_.startsWith("#prop\t")).map { l =>
      l.split("\t", -1) match {
        case Array(_, k, v) =>
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8")
        case _ => throw new IllegalStateException(
          s"malformed #prop line in $p: '$l'")
      }
    }.toMap
    Manifest(mapping, schema,
      stats.map { case (r, fm) =>
        r -> fm.map { case (f, cm) => f -> cm.toMap }.toMap }.toMap,
      blooms.map { case (r, cs) => r -> cs.toSet }.toMap,
      files.map { case (r, fe) => r -> fe.toSeq }.toMap,
      props)
  }

  /** Committed manifests are immutable (the CAS target is never
    * overwritten), so parsed manifests cache process-wide. The key
    * carries (qualified path, mtime, length) — one metadata probe
    * replaces one full object read per query, and a DROPPED-and-
    * recreated lake (same path, new bytes) can never serve a stale
    * parse. Bounded: a full drop past 256 entries (each entry is
    * O(partitions + stats lines); re-reads are cheap). */
  private[graft] val manifestCache =
    scala.collection.concurrent.TrieMap[(String, Long, Long), Manifest]()

  private def manifestAt(spark: org.apache.spark.sql.SparkSession,
                         root: String, asOf: Option[Int],
                         branch: String = MainBranch): Manifest = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val id = asOf.orElse(snapIds(fs, r, branch).lastOption).getOrElse(
      throw new IllegalStateException(
        s"$root${if (branch.isEmpty) "" else s" branch '$branch'"} has " +
          "no committed snapshot"))
    val p = snapFile(r, id, branch)
    val st = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(
          s"requirement failed: snapshot $id of $root does not exist " +
            "(GC'd or never committed) — time travel reaches kept " +
            "snapshots only")
    }
    val key = (fs.makeQualified(p).toString,
      st.getModificationTime, st.getLen)
    manifestCache.getOrElse(key, {
      val m = readManifest(fs, p)
      if (manifestCache.size > 256) manifestCache.clear()
      manifestCache.update(key, m)
      m
    })
  }

  /** The partition→data-dir mapping of snapshot `asOf` (default: the
    * current snapshot). Throws on a lake with no snapshot. */
  def currentManifest(spark: org.apache.spark.sql.SparkSession, root: String,
                      asOf: Option[Int] = None): Map[String, String] =
    manifestAt(spark, root, asOf).mapping

  /** The schema snapshot `asOf` was committed with (every snapshot owns
    * ONE authoritative shape — time travel reads the table as it WAS,
    * evolved columns included/excluded per epoch). None only for
    * pre-schema manifests. */
  def snapshotSchema(spark: org.apache.spark.sql.SparkSession, root: String,
                     asOf: Option[Int] = None
                    ): Option[org.apache.spark.sql.types.StructType] =
    manifestAt(spark, root, asOf).schema

  /** The per-snapshot properties (`#prop` lines) snapshot `asOf` was
    * committed with — facts the committer recorded atomically with the
    * manifest CAS (e.g. [[maintainAggregate]]'s last-folded-epoch
    * watermark). Empty unless the committer passed them; verbatim
    * manifest copies ([[rollbackSnapshot]], branch seeds) carry them. */
  def snapshotProps(spark: org.apache.spark.sql.SparkSession, root: String,
                    asOf: Option[Int] = None,
                    branch: String = MainBranch): Map[String, String] =
    manifestAt(spark, root, asOf, branch).props

  /** Filesystem schemes whose commit step is a REAL compare-and-set.
    * `file` commits via `Files.createLink` (link(2) fails atomically when
    * the target exists — no check-then-act window at all); the others
    * have the HDFS rename contract (atomic metadata op that FAILS when
    * the destination exists). S3-class stores are deliberately absent:
    * S3A's rename is copy+delete and does NOT fail on a concurrent
    * target, so two committers of the same id could both "win" and one
    * manifest would be silently replaced — the exact lost update the CAS
    * exists to kill. Committing there throws loudly; a store whose
    * rename IS atomic can be declared via
    * `graft.lake.renameAtomicSchemes` (comma-separated extra schemes). */
  private val RenameAtomicSchemes =
    Set("file", "hdfs", "viewfs", "webhdfs", "o3fs", "ofs")

  private def nativeCasCapable(spark: org.apache.spark.sql.SparkSession,
                               fs: org.apache.hadoop.fs.FileSystem): Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    val extra = spark.conf.get("graft.lake.renameAtomicSchemes", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    (RenameAtomicSchemes ++ extra).contains(scheme)
  }

  private def requireCasCapable(spark: org.apache.spark.sql.SparkSession,
                                fs: org.apache.hadoop.fs.FileSystem,
                                root: String): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (!nativeCasCapable(spark, fs) &&
        spark.conf.get("graft.lake.casProvider", "").isEmpty)
      throw new IllegalStateException(
        s"snapshot commit on '$scheme://' ($root): the manifest CAS " +
          "needs an atomic rename-without-replace, which object-store " +
          "filesystems (s3a and friends) do not provide — their rename " +
          "is copy+delete, so two committers of the same snapshot id " +
          "could both succeed and one commit would be silently lost. " +
          "Commit from a rename-atomic filesystem (HDFS/POSIX); or, if " +
          "this store's rename really is atomic-and-exclusive, declare " +
          "it in spark.conf 'graft.lake.renameAtomicSchemes'; or plug " +
          "the store's conditional create (If-None-Match / " +
          "ifGenerationMatch=0) in via 'graft.lake.casProvider' (a " +
          "graft.pipeline.SnapshotCas implementation)")
  }

  /** Instantiated [[SnapshotCas]] providers, cached by class name. */
  private val casProviders =
    scala.collection.concurrent.TrieMap[String, SnapshotCas]()

  private def casProvider(cls: String): SnapshotCas =
    casProviders.getOrElseUpdate(cls,
      Class.forName(cls).getDeclaredConstructor()
        .newInstance().asInstanceOf[SnapshotCas])

  /** Commit the manifest as the next snapshot — the SINGLE atomic step
    * that makes every data directory it references current at once.
    * Written to a dotted temp name, then swung into place with a real
    * CAS: on `file` a hard link (link(2) fails atomically if the target
    * exists — zero check-then-act window); on HDFS-contract stores a
    * rename, whose metadata op atomically fails on an existing
    * destination. Object-store schemes are REFUSED up front
    * ([[requireCasCapable]]) — their rename is not exclusive and a
    * silent lost-commit is the one failure mode worse than throwing. A
    * concurrent committer of the same id throws
    * [[ConcurrentCommitException]] (optimistic concurrency;
    * last-committer-wins would silently drop writes). */
  /** The manifest wire format: #schema / #stats / #bloom meta lines then
    * the rel→gen mapping, one line each; stat values URL-encoded so
    * data-driven strings can never split a line. Written by commits and
    * staged (write-audit-publish) manifests alike; [[readManifest]]
    * parses both. */
  /** The manifest format version THIS build reads. Every root written
    * from r19 on declares its floor via a `#minreader` line and
    * [[readManifest]] REJECTS a root demanding more — so the NEXT
    * format evolution fails loudly on old readers instead of the
    * pre-r19 hazard: parsers skip unknown `#` lines, so a pre-r18
    * reader handed a SHARDED root (all mapping lines live in shards)
    * silently read an EMPTY snapshot. That hazard itself is historical
    * and unfixable from here (those readers are already deployed) —
    * enable sharding only after all readers are upgraded; this line
    * makes every future divergence loud by construction. */
  private val ReaderVersion = 1
  private val MinReaderLine = s"#minreader\t$ReaderVersion\n"

  /** The snapshot-scoped header lines (reader gate, schema, props) —
    * everything that lives in the ROOT snap file in both the inline and
    * the sharded form. Props deliberately never enter shard blocks:
    * shards are per-rel and content-addressed for byte-identical reuse
    * across epochs, and a per-snapshot fact in a shard would break
    * every epoch's reuse of that shard. */
  private def headerLines(man: Manifest): String =
    MinReaderLine +
      man.schema.map(s => s"#schema\t${s.json}\n").getOrElse("") +
      man.props.toSeq.sortBy(_._1).map { case (k, v) =>
        s"#prop\t${java.net.URLEncoder.encode(k, "UTF-8")}\t${
          java.net.URLEncoder.encode(v, "UTF-8")}\n" }.mkString

  private def manifestText(man: Manifest): String =
    // one source of truth for the line formats: the same per-rel blocks
    // sharding hashes ([[relLines]]) concatenate into the inline form —
    // the parser is prefix-keyed and order-insensitive, and any format
    // drift between inline and sharded manifests would silently break
    // shard content-address reuse
    headerLines(man) +
      man.mapping.keys.toSeq.sorted.map(relLines(man, _)).mkString

  private def commitManifest(spark: org.apache.spark.sql.SparkSession,
                             root: String,
                             man: Manifest,
                             baseId: Int,
                             branch: String = MainBranch): Int = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    requireCasCapable(spark, fs, root)
    fs.mkdirs(lineageDir(r, branch))
    // CAS on the snapshot id the writer BASED its mapping on — never a
    // fresh re-list here: a commit that landed between the base read and
    // this put would otherwise be silently reverted by our stale
    // carried-over entries (lost update), the one failure mode worse
    // than throwing
    val id = baseId + 1
    val target = snapFile(r, id, branch)
    if (!putManifest(spark, fs, r, target, man))
      throw new ConcurrentCommitException(
        s"snapshot $id of $root was committed concurrently — re-read the " +
          "current snapshot and retry the write (withSnapshotRetry wraps " +
          "this loop)")
    id
  }

  /** Per-rel manifest lines (stats + bloom + file + mapping — everything
    * except the schema line), in [[manifestText]]'s exact formats and
    * sort order. The unit of manifest SHARDING. */
  private def relLines(man: Manifest, rel: String): String = {
    val sb = new StringBuilder()
    man.stats.get(rel).foreach(_.toSeq.sortBy(_._1).foreach {
      case (file, cm) => cm.toSeq.sortBy(_._1).foreach { case (c, st) =>
        sb.append(s"#stats\t$rel\t$file\t$c\t${encStat(st.min)}\t${
          encStat(st.max)}\n")
      }
    })
    man.blooms.get(rel).foreach(_.toSeq.sorted.foreach(c =>
      sb.append(s"#bloom\t$rel\t$c\n")))
    man.files.get(rel).foreach(_.sortBy(_.name).foreach(f =>
      sb.append(s"#file\t$rel\t${
        java.net.URLEncoder.encode(f.name, "UTF-8")}\t${f.len}\t${
        f.mtime}\n")))
    sb.append(s"$rel\t${man.mapping(rel)}\n")
    sb.toString
  }

  /** Write a manifest to `target` with the commit CAS — SHARDED when it
    * outgrows `graft.lake.manifestShardLines` (default 50000): rels
    * group by hash into power-of-two many CONTENT-ADDRESSED shard files
    * (`part-<md5>` in the root LakeDir, shared across lineages and
    * epochs), and the root snap file carries only the schema plus
    * `#shard` refs. Content addressing is the carry-efficiency story at
    * 10⁶ files: a commit touching k partitions reproduces the untouched
    * groups' blocks byte-identically, so their shard files already
    * exist and are REUSED without a write — write amplification is
    * O(touched groups × group size), not O(lake). The group count only
    * changes on 2× growth (full re-shard, amortized). Shards are
    * immutable → [[shardCache]] parses each once per process, across
    * every epoch/branch/stage that references it. [[snapshotGc]]
    * reclaims unreferenced shards past the stage-relic TTL (the TTL
    * covers the shard-write→root-CAS window of in-flight commits).
    * Returns false on a lost CAS race (shards may remain — harmless
    * content-addressed relics GC ages out). */
  private def putManifest(spark: org.apache.spark.sql.SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          r: org.apache.hadoop.fs.Path,
                          target: org.apache.hadoop.fs.Path,
                          man: Manifest): Boolean = {
    val threshold = spark.conf
      .get("graft.lake.manifestShardLines", "50000").toInt
    val statLines = man.stats.valuesIterator
      .map(_.valuesIterator.map(_.size).sum).sum
    val fileLines = man.files.valuesIterator.map(_.size).sum
    val bloomLines = man.blooms.valuesIterator.map(_.size).sum
    val total = man.mapping.size + statLines + fileLines + bloomLines
    if (total <= threshold)
      return casPutMeta(spark, fs, target, manifestText(man).getBytes("UTF-8"))
    val perShard = math.max(1, threshold / 4)
    var n = 1
    while (n.toLong * perShard < total) n <<= 1
    val md = java.security.MessageDigest.getInstance("MD5")
    def groupOf(rel: String): Int = {
      val d = md.digest(rel.getBytes("UTF-8"))
      (((d(0) & 0xff) << 24 | (d(1) & 0xff) << 16 |
        (d(2) & 0xff) << 8 | (d(3) & 0xff)) & 0x7fffffff) % n
    }
    val blocks = Array.fill(n)(new StringBuilder())
    man.mapping.keys.toSeq.sorted.foreach(rel =>
      blocks(groupOf(rel)).append(relLines(man, rel)))
    val lake = new org.apache.hadoop.fs.Path(r, LakeDir)
    fs.mkdirs(lake)
    val byName: Map[String, Array[Byte]] =
      blocks.iterator.filter(_.nonEmpty).map { b =>
        val bytes = b.toString.getBytes("UTF-8")
        s"part-${md.digest(bytes).map(x => f"$x%02x").mkString}" -> bytes
      }.toMap
    val reused = scala.collection.mutable.ArrayBuffer[String]()
    byName.foreach { case (name, bytes) =>
      val p = new org.apache.hadoop.fs.Path(lake, name)
      if (!fs.exists(p)) casPutMeta(spark, fs, p, bytes)
      else {
        // REUSED old shard: re-arm its GC TTL — snapshotGc reclaims
        // unreferenced shards past the TTL, and an aged shard this
        // commit is about to re-reference would otherwise sit in a GC
        // race until the root CAS lands. A shard that vanishes between
        // the exists probe and the re-arm (a GC won that race) is
        // simply rewritten — the bytes are in hand.
        reused += name
        try fs.setTimes(p, System.currentTimeMillis(), -1)
        catch {
          case _: UnsupportedOperationException =>
            // stores without setTimes: route the re-arm through the
            // configured provider's touch (self-copy / metadata
            // rewrite) — without one, the TTL discipline is the guard
            // (see the SnapshotCas.touch scaladoc for the contract)
            val cls = spark.conf.get("graft.lake.casProvider", "")
            if (cls.nonEmpty) {
              // resolve OUTSIDE the degrade-catch: a misconfigured
              // provider class must stay loud (swallowing it would
              // silently skip every re-arm forever), while a store
              // hiccup on the OPTIONAL touch itself degrades to the
              // TTL discipline and never aborts a commit whose CAS
              // works
              val provider = casProvider(cls)
              try { provider.touch(fs, p); () }
              catch {
                case _: java.io.FileNotFoundException =>
                  casPutMeta(spark, fs, p, bytes)
                case scala.util.control.NonFatal(_) => ()
              }
            }
          case _: java.io.FileNotFoundException =>
            casPutMeta(spark, fs, p, bytes)
        }
      }
    }
    val names = byName.keys.toSeq.sorted
    val root = headerLines(man) +
      names.map(nm => s"#shard\t$nm\n").mkString
    val won = casPutMeta(spark, fs, target, root.getBytes("UTF-8"))
    if (won && reused.nonEmpty) {
      // SELF-HEAL the remaining race, scoped to the REUSED shards (the
      // freshly written ones have fresh mtimes no GC can age out): a GC
      // whose listing predates the re-arm may have deleted a reused
      // shard before this root became a kept (pinning) manifest; the
      // blocks are content-addressed and in hand, so a vanished shard
      // is rewritten. On setTimes-capable stores this closes the race
      // completely (GC re-probes mtime right before each delete, and
      // the re-arm precedes the root CAS); on stores WITHOUT setTimes
      // the guard is the TTL discipline itself — default 24 h, which a
      // GC pass and a commit would have to straddle for the heal's
      // exists probe to be overtaken.
      reused.foreach { name =>
        val p = new org.apache.hadoop.fs.Path(lake, name)
        if (!fs.exists(p)) casPutMeta(spark, fs, p, byName(name))
      }
    }
    won
  }

  /** Atomic create-if-absent of a small metadata file: write the bytes
    * to `tmp`, then CAS them into `target` — link(2) on local
    * filesystems (fails EEXIST atomically), rename on HDFS-contract
    * stores. Returns false when the target already exists (the caller's
    * conflict), true on success; the tmp never survives either way. A
    * bare create-then-write would leave a ZERO-BYTE target on a crash
    * mid-write — permanently poisonous for files whose readers parse
    * (a truncated tag bricks listTags and so GC; a truncated staged
    * manifest would PUBLISH with missing partitions). All lake metadata
    * (manifests, tags, fork markers, branch seeds, staged manifests)
    * goes through here. */
  private def casPutFile(fs: org.apache.hadoop.fs.FileSystem,
                         target: org.apache.hadoop.fs.Path,
                         tmp: org.apache.hadoop.fs.Path,
                         bytes: Array[Byte]): Boolean = {
    val out = fs.create(tmp, true)
    try {
      try out.write(bytes) finally out.close()
    } catch { case t: Throwable => // never leave a partial tmp behind
      try fs.delete(tmp, false) catch { case _: Throwable => () }
      throw t
    }
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      // hard link: the kernel's link(2) is the CAS — it FAILS with
      // EEXIST atomically when the target appears first; no exists probe
      val t = java.nio.file.Paths.get(target.toUri.getPath)
      val sp = java.nio.file.Paths.get(tmp.toUri.getPath)
      try java.nio.file.Files.createLink(t, sp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false); return false
      }
      fs.delete(tmp, false)
      true
    } else if (fs.exists(target)) {
      fs.delete(tmp, false); false
    } else if (!fs.rename(tmp, target)) {
      // HDFS-contract rename returns false when the destination exists
      // (the CAS losing is expected) but ALSO on transient IO trouble.
      // Probe which it was: reporting an IO failure as "committed
      // concurrently" would misdirect the operator into retry/deleteTag
      // when the store needs an IO diagnosis.
      val conflicted = try fs.exists(target) catch { case _: Throwable =>
        false }
      fs.delete(tmp, false)
      if (conflicted) false
      else throw new java.io.IOException(
        s"rename($tmp -> $target) failed but the target does not exist " +
          "— an IO error on the store, not a commit conflict; do not " +
          "retry as a CAS race")
    } else true
  }

  private def casPutMeta(spark: org.apache.spark.sql.SparkSession,
                         fs: org.apache.hadoop.fs.FileSystem,
                         target: org.apache.hadoop.fs.Path,
                         bytes: Array[Byte]): Boolean = {
    // non-rename-atomic schemes route through the configured
    // [[SnapshotCas]] provider (the store's own conditional create);
    // requireCasCapable already refused the scheme if neither applies
    if (!nativeCasCapable(spark, fs)) {
      val cls = spark.conf.get("graft.lake.casProvider", "")
      require(cls.nonEmpty,
        s"scheme '${fs.getUri.getScheme}' reached the metadata CAS " +
          "without a native rename contract or a casProvider — " +
          "requireCasCapable should have refused this commit")
      return casProvider(cls).putIfAbsent(fs, target, bytes)
    }
    casPutFile(fs, target, new org.apache.hadoop.fs.Path(target.getParent,
      s".${target.getName}.${snapGenName().drop("_gen-".length)}.tmp"),
      bytes)
  }

  /** Partition-relative dirs must be path- AND manifest-safe: no control
    * characters at all (a '\n' or '\r' inside a manifest line would split
    * it in two — the commit would succeed and every later readManifest
    * would throw, bricking the lake's current state on data-driven
    * input), no traversal, no hidden-prefix collision with the
    * metadata/generation namespaces. */
  private def validRel(rel: String): Boolean =
    !rel.exists(c => c < 0x20 || c == 0x7f) &&
      !rel.contains("..") && rel != "." &&
      !rel.startsWith("/") && !rel.endsWith("/") &&
      !rel.startsWith("_") && !rel.startsWith(".")

  /** Loud data-driven guard for [[mergeSnapshot]]/[[applyCdcSnapshot]],
    * which build manifest rels from partition VALUES: validate before any
    * byte is written, naming the offending value. */
  private def requireValidPartValue(partitionCol: String, v: String): Unit =
    if (!validRel(s"$partitionCol=$v"))
      throw new IllegalArgumentException(
        s"partition value ${v.map(c => if (c < 0x20 || c == 0x7f)
          f"\\u$c%04x" else c.toString).mkString} of column " +
          s"'$partitionCol' cannot name a partition directory (control " +
          "characters, traversal, or a hidden-prefix collision) — clean " +
          "or bucket the column before committing")

  /** Lake-wide ATOMIC multi-partition commit — the lake's one commit
    * protocol: a content-CHANGING write touching several partitions
    * ([[applyCdc]]/[[mergeUpsert]]/[[scd2Apply]] outputs) must never
    * expose partition A's new state with partition B's old one. Each
    * write lands in a fresh generation dir under its partition; currency
    * flips for ALL of them at once when [[commitManifest]] puts the one
    * manifest file — until that instant every reader resolves the
    * previous snapshot in full, and a crash mid-write leaves
    * unreferenced generations the next [[snapshotGc]] removes (the old
    * snapshot stays intact: crash-relic contract).
    *
    * `writes` maps a partition-relative dir (`"lang=en"`; `""` for an
    * unpartitioned table) to its FULL new content. Unnamed partitions
    * carry over from the current snapshot unchanged — file-level MVCC,
    * so old snapshots remain readable until GC'd and time travel
    * ([[readSnapshot]]`(asOf)`) falls out of the kept manifests.
    *
    * Contract: partition VALUES ride in the data columns (the manifest
    * key is bookkeeping, not hive inference — that is what lets
    * [[readSnapshot]] plan ONE multi-root scan instead of a union per
    * partition). Adopting a plain parquet dir rewrites it once into a
    * generation as snapshot 1's base; a hive-partitioned lake whose
    * files lack the partition columns must be committed explicitly,
    * partition by partition, with the values materialized.
    *
    * SCHEMA rides the manifest: the commit records the previous schema
    * merged with every write's — EVOLUTION means adding nullable columns
    * (carried partitions' old files null-fill them at read, the parquet
    * explicit-schema contract); a same-name TYPE conflict throws loudly
    * (a type change is a rewrite, not an evolution). Readers never pay
    * per-file footer merging, and time travel reads each snapshot under
    * the schema it was committed with.
    *
    * SKIP LAYER: the rewritten partitions record per-file stats on
    * `statsCols` and bloom sidecars on `bloomCols`; left empty, each
    * falls back to the columns the base manifest already skips on, then
    * to the session default ([[skipCols]]), so no rewrite silently
    * strips the layer. Returns the committed snapshot id. */
  def commitSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
                     writes: Seq[(String, DataFrame)],
                     expectedSnapshot: Option[Int] = None,
                     statsCols: Seq[String] = Nil,
                     bloomCols: Seq[String] = Nil,
                     branch: String = MainBranch,
                     props: Map[String, String] = Map.empty): Int = {
    val (man, baseId) = prepareSnapshot(spark, root, writes,
      expectedSnapshot, statsCols, bloomCols, branch)
    commitManifest(spark, root, man.copy(props = props), baseId, branch)
  }

  /** The write phase every snapshot commit shares — data generations
    * and their file lists, sentinels, schema merge, stats, blooms —
    * WITHOUT the manifest put: returns the manifest that WOULD become
    * current and the base id it derives from. [[commitSnapshot]] flips
    * it immediately; [[stageSnapshot]] parks it for write-audit-publish. */
  private def prepareSnapshot(spark: org.apache.spark.sql.SparkSession,
                              root: String,
                              writes: Seq[(String, DataFrame)],
                              expectedSnapshot: Option[Int],
                              statsCols: Seq[String],
                              bloomCols: Seq[String],
                              branch: String = MainBranch): (Manifest, Int) = {
    require(writes.nonEmpty, "commitSnapshot needs at least one write")
    writes.foreach { case (rel, _) =>
      require(rel.isEmpty || validRel(rel),
        s"bad partition-relative dir '$rel'") }
    require(writes.map(_._1).distinct.size == writes.size,
      "one write per partition: duplicate partition dirs in the commit")
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    requireCasCapable(spark, fs, root) // fail BEFORE writing any data
    // `expectedSnapshot` pins the base this commit derives from (the
    // caller read its inputs under it) — optimistic concurrency: if a
    // competitor committed base+1 meanwhile, fail fast BEFORE writing
    // data, and the CAS in commitManifest covers the remaining
    // write-vs-write window. Data dirs can NEVER collide across
    // concurrent committers — generation names are writer-unique
    // ([[snapGenName]]), so the loser's orphans are GC relics, not
    // corruption of the winner's committed dirs.
    if (branch.nonEmpty)
      require(snapIds(fs, r, branch).nonEmpty,
        s"branch '$branch' of $root does not exist — createBranch first")
    val baseId = expectedSnapshot.getOrElse(
      snapIds(fs, r, branch).lastOption.getOrElse(0))
    if (fs.exists(snapFile(r, baseId + 1, branch)))
      throw new ConcurrentCommitException(
        s"snapshot ${baseId + 1} of $root" +
          s"${if (branch.isEmpty) "" else s" branch '$branch'"} was " +
          "committed concurrently — re-read the current snapshot and " +
          "retry the write")
    val prior: Option[Manifest] =
      if (baseId == 0) None
      else Some(readManifest(fs, snapFile(r, baseId, branch)))
    val effStats = skipCols(spark, statsCols,
      prior.toSeq.flatMap(manifestStatsCols), StatsColsConf)
    val effBloom = skipCols(spark, bloomCols,
      prior.toSeq.flatMap(manifestBloomCols), BloomColsConf)
    writes.foreach { case (rel, df) =>
      requireStatsSupported(effStats, df, rel)
      requireBloomSupported(effBloom, df, rel)
    }
    val (base, baseFiles) = prior.map(m => (m.mapping, m.files)).getOrElse(
      adoptLoose(spark, fs, r, writes.exists(_._1.isEmpty)))
    // base schema: the prior snapshot's recorded one; an adopted base
    // derives it from its dir (one-time footer read)
    val baseSchema = prior.flatMap(_.schema).orElse(
      base.headOption.map { case (rel, gen) =>
        spark.read.parquet(dataDir(r, rel, gen).toString).schema })
    val schema = mergeEvolvedSchema(root, baseSchema,
      writes.map(_._2.schema))
    // partition writes are INDEPENDENT jobs against distinct dirs — run
    // them through a bounded driver-side pool (Spark schedules concurrent
    // jobs; serial writes would make a 100-partition commit a latency
    // wall). Bounded so a 10⁴-partition commit doesn't open 10⁴ jobs at
    // once; failure of any write fails the commit BEFORE the manifest
    // put, leaving only GC-able relics.
    val par = math.max(1, math.min(writes.size, spark.conf
      .get("graft.lake.commitParallelism", "8").toInt))
    // Duration.Inf is DELIBERATE here and only here: these are Spark
    // write JOBS, not metadata IO — they own their failure semantics
    // (task retries, job abort), and a legitimate hours-long partition
    // write must not be killed by the metadata-IO timeout. parMap still
    // provides daemon threads + shutdownNow, so a failed sibling
    // interrupts the rest instead of leaking them.
    val updated = parMap(writes, par, "graft-commit-write",
      scala.concurrent.duration.Duration.Inf) { case (rel, df) =>
      val part =
        if (rel.isEmpty) r else new org.apache.hadoop.fs.Path(r, rel)
      val gen = snapGenName()
      val genP = new org.apache.hadoop.fs.Path(part, gen)
      df.write.mode("overwrite").parquet(genP.toString)
      plantSentinelIfBare(fs, part)
      // record the freshly written files (name, len, mtime) while
      // we are already here — the one listing that buys every
      // future read a ZERO-listing plan (see [[FileEntry]])
      (rel, gen, fileEntries(fs, genP))
    }
    plantSentinelIfBare(fs, r)
    // stats: ONE column-pruned job over every freshly written dir (not
    // one per partition — at 10³ partitions that would double the
    // commit's job count); carried partitions keep their committed
    // stats verbatim (same gen, same files), rewritten ones replace
    // theirs wholesale. A written file LACKING a stats column (schema
    // evolution) records all-null — correct and maximally pruning,
    // because the snapshot read null-fills it and null-excluding ranges
    // exclude those rows anyway.
    val updatedRels = updated.map { case (rel, _, _) => rel }
    val writtenDirs = updated.map { case (rel, gen, _) =>
      fs.makeQualified(dataDir(r, rel, gen)).toString -> rel }.toMap
    val fresh =
      if (effStats.isEmpty) Map.empty[String, Map[String, Map[String, ColStat]]]
      else fileStats(spark, fs, writtenDirs,
        effStats.filter(schema.fieldNames.contains), Some(schema))
    val carried = prior.map(_.stats).getOrElse(Map.empty) -- updatedRels
    // blooms ride the same carry/replace rule as stats
    val freshBlooms = writeBlooms(spark, fs, writtenDirs,
      effBloom.filter(schema.fieldNames.contains), Some(schema))
    val carriedBlooms = prior.map(_.blooms).getOrElse(Map.empty) --
      updatedRels
    // file lists ride the same rule
    (Manifest(base ++ updated.map { case (rel, gen, _) => rel -> gen },
      Some(schema), carried ++ fresh, carriedBlooms ++ freshBlooms,
      (baseFiles -- updatedRels) ++
        updated.map { case (rel, _, fe) => rel -> fe }), baseId)
  }

  /** The data files of a freshly written generation dir as manifest
    * [[FileEntry]]s — ONE listing, done by the committer that just
    * produced the files. */
  private def fileEntries(fs: org.apache.hadoop.fs.FileSystem,
                          dir: org.apache.hadoop.fs.Path): Seq[FileEntry] =
    dataFiles(fs, dir).toSeq.sortBy(_.getPath.getName).map(st =>
      FileEntry(st.getPath.getName, st.getLen, st.getModificationTime))

  // ---- WRITE-AUDIT-PUBLISH: stage a snapshot, audit it, then flip ------------

  private val StagedToken = "^staged-(\\d{8})-[0-9a-f]{32}$".r
  private def stagedFile(root: org.apache.hadoop.fs.Path, token: String) =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, LakeDir), token)

  /** WRITE of write-audit-publish: everything [[commitSnapshot]] does —
    * data generations, schema merge, stats, blooms — except the flip;
    * the would-be manifest parks as a staged file and READERS STILL
    * RESOLVE THE CURRENT SNAPSHOT. Audit the exact bytes via
    * [[readStaged]] (quality gates, row counts, PK checks), then
    * [[publishStaged]] flips it with the same CAS a direct commit gets
    * (the base is pinned at stage time — a competitor landing in between
    * fails the publish loudly; re-stage from the new base), or
    * [[abandonStaged]] drops it. Staged generations are pinned against
    * [[snapshotGc]] until published or abandoned. Returns the stage
    * token. */
  def stageSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
                    writes: Seq[(String, DataFrame)],
                    expectedSnapshot: Option[Int] = None,
                    statsCols: Seq[String] = Nil,
                    bloomCols: Seq[String] = Nil): String = {
    val (man, baseId) = prepareSnapshot(spark, root, writes,
      expectedSnapshot, statsCols, bloomCols)
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val token = f"staged-$baseId%08d-${snapGenName().drop("_gen-".length)}"
    fs.mkdirs(new org.apache.hadoop.fs.Path(r, LakeDir))
    require(putManifest(spark, fs, r, stagedFile(r, token), man),
      s"stage token collision on $root (impossible nonce reuse)")
    token
  }

  private def requireStagedToken(token: String): Int = token match {
    case StagedToken(base) => base.toInt
    case _ => throw new IllegalArgumentException(
      s"'$token' is not a stage token (expected staged-<base>-<nonce>)")
  }

  /** AUDIT of write-audit-publish: the staged snapshot's exact content —
    * the same multi-root manifest read a published snapshot gets
    * (schema null-fill, partition filter, declared ranges), without any
    * reader being able to see it through the normal path. */
  def readStaged(spark: org.apache.spark.sql.SparkSession, root: String,
                 token: String,
                 partitionFilter: String => Boolean = _ => true,
                 fileRanges: Seq[ColRange] = Nil): DataFrame = {
    requireStagedToken(token)
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val f = stagedFile(r, token)
    require(fs.exists(f), s"no staged snapshot '$token' on $root")
    snapshotScan(spark, root, readManifest(fs, f), partitionFilter,
      fileRanges)
  }

  /** PUBLISH of write-audit-publish: flip the staged manifest current
    * with the standard CAS, pinned to the base the stage derived from —
    * a snapshot committed since then fails this loudly (re-stage from
    * the fresh base; the audited bytes no longer describe a valid
    * successor). The staged file is consumed on success and KEPT on a
    * lost race so the stage can be inspected or abandoned explicitly.
    * Returns the committed snapshot id. */
  def publishStaged(spark: org.apache.spark.sql.SparkSession, root: String,
                    token: String): Int = {
    val baseId = requireStagedToken(token)
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val f = stagedFile(r, token)
    require(fs.exists(f), s"no staged snapshot '$token' on $root")
    val id = commitManifest(spark, root, readManifest(fs, f), baseId)
    fs.delete(f, false)
    id
  }

  /** Abandon a staged snapshot: the token dies and the next
    * [[snapshotGc]] reclaims its unpublished generations. */
  def abandonStaged(spark: org.apache.spark.sql.SparkSession, root: String,
                    token: String): Unit = {
    requireStagedToken(token)
    val r = new org.apache.hadoop.fs.Path(root)
    require(fsOf(spark, r).delete(stagedFile(r, token), false),
      s"no staged snapshot '$token' on $root")
  }

  /** All parked stages of the lake, (token, baseId), oldest base first. */
  def listStaged(spark: org.apache.spark.sql.SparkSession,
                 root: String): Seq[(String, Int)] = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val lake = new org.apache.hadoop.fs.Path(r, LakeDir)
    if (!fs.exists(lake)) return Nil
    fs.listStatus(lake).toSeq.map(_.getPath.getName)
      .collect { case t @ StagedToken(b) => t -> b.toInt }
      .sortBy(x => (x._2, x._1))
  }

  /** A caller-declared value range for manifest-level data skipping:
    * asserts the query's filter restricts `column` to `[lower, upper]`
    * (inclusive, null-EXCLUDING — the standard skip contract of
    * `WHERE col BETWEEN lo AND hi`). [[readSnapshot]] drops every file
    * whose committed per-file [min,max] cannot intersect the range
    * BEFORE Spark plans the scan; the caller still applies the real
    * filter — pruning is a strict superset guarantee, never the filter
    * itself. Bounds are plain Scala values matching the column type
    * (numbers, String, java.sql.Date/LocalDate, java.sql.Timestamp/
    * java.time.Instant or Long epoch-micros). */
  final case class ColRange(column: String, lower: Option[Any] = None,
                            upper: Option[Any] = None)

  /** Order-faithful round-trip codec for per-file stat values: encode at
    * commit (typed agg result → string), compare at prune time in the
    * COLUMN'S type domain (never lexicographically for numerics). */
  private[graft] object StatsCodec {
    import org.apache.spark.sql.types._

    def supported(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | DateType | TimestampType |
           TimestampNTZType => true
      case _ => false
    }

    private def micros(i: java.time.Instant): Long =
      math.addExact(math.multiplyExact(i.getEpochSecond, 1000000L),
        (i.getNano / 1000).toLong)

    def encode(v: Any): String = v match {
      case d: java.sql.Date             => d.toString // ISO, order-faithful
      case d: java.time.LocalDate       => d.toString
      case t: java.sql.Timestamp        => micros(t.toInstant).toString
      case t: java.time.Instant         => micros(t).toString
      case t: java.time.LocalDateTime   =>
        micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
      case b: java.math.BigDecimal      => b.toPlainString
      case b: scala.math.BigDecimal     => b.bigDecimal.toPlainString
      case s: String                    => s
      case n: java.lang.Number          => n.toString
      case other => throw new IllegalArgumentException(
        s"unsupported stats value ${other.getClass.getName}")
    }

    private def toBig(v: Any): BigDecimal = v match {
      case b: java.math.BigDecimal  => BigDecimal(b)
      case b: scala.math.BigDecimal => b
      case n: java.lang.Number      => BigDecimal(n.toString)
      case s: String                => BigDecimal(s)
      case other => throw new IllegalArgumentException(
        s"numeric bound expected, got ${other.getClass.getName}")
    }

    /** sign of (committed stat) - (caller bound), in `dt`'s domain. */
    def compare(dt: DataType, stat: String, bound: Any): Int = dt match {
      case _: NumericType => toBig(stat).compare(toBig(bound))
      case StringType =>
        // compare in UTF-8 BINARY order, the order Spark computed the
        // committed min/max under (and the order IN-envelope bounds are
        // picked in): Java's UTF-16 compareTo disagrees for
        // supplementary-plane code points vs chars in [U+E000,U+FFFF],
        // so mixing the two orders could wrongly prune a file that
        // holds a matching value (e.g. an emoji group key)
        val b = bound match {
          case s: String => s
          case other => throw new IllegalArgumentException(
            s"string bound expected, got ${other.getClass.getName}")
        }
        math.signum(org.apache.spark.unsafe.types.UTF8String
          .fromString(stat).compareTo(
            org.apache.spark.unsafe.types.UTF8String.fromString(b)))
      case DateType => math.signum(stat.compareTo(bound match {
        case d: java.sql.Date       => d.toString
        case d: java.time.LocalDate => d.toString
        case s: String              => s
        case other => throw new IllegalArgumentException(
          s"date bound expected, got ${other.getClass.getName}")
      }))
      case TimestampType | TimestampNTZType =>
        val b = bound match {
          case t: java.sql.Timestamp      => micros(t.toInstant)
          case t: java.time.Instant       => micros(t)
          case t: java.time.LocalDateTime =>
            micros(t.toInstant(java.time.ZoneOffset.UTC))
          case l: Long                    => l
          case other => throw new IllegalArgumentException(
            s"timestamp bound expected, got ${other.getClass.getName}")
        }
        java.lang.Long.compare(stat.toLong, b)
      case other => throw new IllegalArgumentException(
        s"no stats ordering for $other")
    }
  }

  private val StatsColsConf = "graft.lake.statsCols"
  private val BloomColsConf = "graft.lake.bloomCols"

  /** The skip-layer columns (stats or blooms) a rewrite records, decided
    * in ONE place: the explicit argument, else the columns the base
    * manifest already skips on (a rewrite must never strip the layer
    * from the partitions it replaces), else the session default `conf`
    * (comma-separated), else none. */
  private def skipCols(spark: org.apache.spark.sql.SparkSession,
                       explicit: Seq[String], fromBase: Seq[String],
                       conf: String): Seq[String] =
    if (explicit.nonEmpty) explicit
    else if (fromBase.nonEmpty) fromBase
    else spark.conf.get(conf, "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Columns a manifest currently skips on — the middle rung of
    * [[skipCols]]. */
  private def manifestStatsCols(m: Manifest): Seq[String] =
    m.stats.values.flatMap(_.values.flatMap(_.keys)).toSeq.distinct.sorted
  private def manifestBloomCols(m: Manifest): Seq[String] =
    m.blooms.values.flatten.toSeq.distinct.sorted

  // ---- per-file BLOOM sidecars: the point-lookup skip layer -----------------

  /** Bloom columns are point-lookup domains: integral or string (a
    * float/decimal equality probe is a modeling bug, not a skip case). */
  private def requireBloomSupported(cols: Seq[String], df: DataFrame,
                                    rel: String): Unit = {
    import org.apache.spark.sql.types._
    cols.foreach { c =>
      df.schema.fields.find(_.name == c).foreach { f =>
        f.dataType match {
          case ByteType | ShortType | IntegerType | LongType | StringType =>
          case other => throw new IllegalArgumentException(
            s"bloom column '$c' (partition '$rel') has type $other — " +
              "per-file bloom skipping needs an integral or string " +
              "point-lookup domain")
        }
      }
    }
  }

  private val BloomFilePrefix = "_bloom-"
  private def bloomSidecar(dir: org.apache.hadoop.fs.Path,
                           c: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dir,
      BloomFilePrefix + java.net.URLEncoder.encode(c, "UTF-8"))

  /** Build per-file bloom filters for `cols` over freshly written gen
    * dirs — ONE job for the whole commit (groupByKey on the file,
    * skip-columns-only scan), sidecars written per (gen dir, column).
    * Values bloom as their CANONICAL STRING (integrals print exactly),
    * so the probe side needs no hash-compatibility with any engine
    * internals — both sides go through the public sketch API. Filters
    * are sized for 200k items at 3% false positives — the file-row
    * TARGET, not the corpus. The collect is bounded by file count ×
    * column count × filter bytes (KBs per file; at 10⁶ files shard the
    * sidecar build per partition — documented, not yet needed). */
  private def writeBlooms(spark: org.apache.spark.sql.SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          dirToRel: Map[String, String], cols: Seq[String],
                          readSchema: Option[org.apache.spark.sql.types.StructType]
                         ): Map[String, Set[String]] = {
    if (cols.isEmpty || dirToRel.isEmpty) return Map.empty
    val n = 200000L
    val fpp = 0.03
    val reader = readSchema.fold(spark.read)(spark.read.schema)
    val src = reader.parquet(dirToRel.keys.toSeq.sorted: _*)
      .select(col("_metadata.file_path").as("__f") +:
        cols.map(c => col(c).cast("string").as(c)): _*)
    import org.apache.spark.sql.{Encoders, Row}
    val nCols = cols.size
    val perFile: Array[(String, Int, Array[Byte])] = src
      .groupByKey((r: Row) => r.getString(0))(Encoders.STRING)
      .flatMapGroups { (f: String, it: Iterator[Row]) =>
        val blooms = Array.fill(nCols)(
          org.apache.spark.util.sketch.BloomFilter.create(n, fpp))
        it.foreach { r =>
          var i = 0
          while (i < nCols) {
            val v = r.getString(i + 1)
            if (v != null) blooms(i).putString(v)
            i += 1
          }
        }
        blooms.iterator.zipWithIndex.map { case (b, i) =>
          val bos = new java.io.ByteArrayOutputStream()
          b.writeTo(bos)
          (f, i, bos.toByteArray)
        }
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaInt, Encoders.BINARY))
      .collect()
    // one sidecar per (gen dir, column)
    perFile.groupBy { case (f, _, _) =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(f).getParent).toString
    }.foreach { case (dirQ, rows) =>
      val dir = new org.apache.hadoop.fs.Path(dirQ)
      rows.groupBy(_._2).foreach { case (ci, entries) =>
        val out = new java.io.DataOutputStream(
          fs.create(bloomSidecar(dir, cols(ci)), true))
        try {
          out.writeInt(entries.length)
          entries.sortBy(_._1).foreach { case (f, _, bytes) =>
            out.writeUTF(new org.apache.hadoop.fs.Path(f).getName)
            out.writeInt(bytes.length)
            out.write(bytes)
          }
        } finally out.close()
      }
    }
    // declare: every written rel gets the cols (a zero-row gen just has
    // empty filters — still correct: nothing matches, everything prunes)
    dirToRel.values.toSeq.distinct.map(_ -> cols.toSet).toMap
  }

  /** Sidecars are immutable with their generation — cache parses.
    * Byte-bounded LRU (64 MB — sidecars are kilobytes each, so that
    * holds the whole skip layer of a 10⁴-partition lake), accounted by
    * the filters' serialized size. The r18 shape (128-entry cap, full `clear()` when
    * exceeded) thrashed at exactly the scale the skip layer targets:
    * every point query on a >128-dir lake re-read nearly every sidecar,
    * sequentially, on the driver, at plan time. */
  private[graft] val bloomCache = new ByteLruCache[
    (String, String), Map[String, org.apache.spark.util.sketch.BloomFilter]](
    () => 64L << 20,
    m => m.valuesIterator.map(_.bitSize() / 8 + 64L).sum + 64L)

  private def parseBloomSidecar(fs: org.apache.hadoop.fs.FileSystem,
                                dir: org.apache.hadoop.fs.Path, c: String
                               ): Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    val p = bloomSidecar(dir, c)
    if (!fs.exists(p)) Map.empty
    else {
      val in = new java.io.DataInputStream(fs.open(p))
      try {
        val count = in.readInt()
        (0 until count).map { _ =>
          val name = in.readUTF()
          val len = in.readInt()
          val bytes = new Array[Byte](len)
          in.readFully(bytes)
          name -> org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
        }.toMap
      } finally in.close()
    }
  }

  /** The POINT-EQUALITY subset of `ranges` — the only shape a bloom
    * filter can answer. */
  private[graft] def bloomPoints(ranges: Seq[ColRange]): Seq[(String, String)] =
    ranges.collect {
      case ColRange(c, Some(lo), Some(hi)) if lo == hi => c -> lo.toString
    }

  /** Resolve the `_bloom-<col>` sidecars a query's point lookups need,
    * for EVERY kept dir at once: cache hits are free, misses fetch in
    * PARALLEL through [[parMap]] (the r18 shape read them one blocking
    * FS open per (dir, col) at a time, inside the per-dir loop — an
    * O(partitions) sequential driver walk at plan time, the same
    * disease the `#file` listing fix cured for statuses). The resolved
    * map is returned LOCALLY and the fetches re-inserted into the
    * byte-bounded cache — a concurrent eviction can never drop a
    * sidecar between this plan's fetch and its use. Keyed by qualified
    * dir + column; a dir with no sidecar caches an empty map (so the
    * repeat query pays zero FS calls for it too). */
  private[graft] def prefetchBloomSidecars(
      fs: org.apache.hadoop.fs.FileSystem,
      pairs: Seq[(org.apache.hadoop.fs.Path, String)])
    : Map[(String, String), Map[String, org.apache.spark.util.sketch.BloomFilter]] = {
    if (pairs.isEmpty) return Map.empty
    val keyed = pairs.map { case (d, c) =>
      (fs.makeQualified(d).toString, c) -> ((d, c)) }.toMap
    val have = keyed.keys.map(k => k -> bloomCache.get(k)).toMap
    val missing = keyed.toSeq.filter { case (k, _) => have(k).isEmpty }
    val fetched = parMap(missing, 16, "graft-bloom-fetch",
      scala.concurrent.duration.Duration(metaIoTimeoutSec(fs), "s")) {
      case (k, (d, c)) => k -> parseBloomSidecar(fs, d, c)
    }.toMap
    fetched.foreach { case (k, v) => bloomCache.put(k, v) }
    have.collect { case (k, Some(v)) => k -> v } ++ fetched
  }

  /** fileName => survives, for the POINT-EQUALITY subset of `ranges`
    * against `dir`'s declared bloom sidecars, read from a
    * [[prefetchBloomSidecars]]-resolved map. A file absent from a
    * sidecar, or a column never declared, keeps (superset guarantee);
    * a definite bloom miss prunes — false positives only cost a read. */
  private[graft] def bloomKeep(
      resolved: Map[(String, String),
        Map[String, org.apache.spark.util.sketch.BloomFilter]],
      dirQ: String, declared: Set[String],
      ranges: Seq[ColRange]): String => Boolean = {
    val points = bloomPoints(ranges).filter(p => declared.contains(p._1))
    if (points.isEmpty) (_: String) => true
    else {
      val checks = points.map { case (c, v) =>
        (resolved.getOrElse((dirQ, c), Map.empty[String,
          org.apache.spark.util.sketch.BloomFilter]), v) }
      name => checks.forall { case (m, v) =>
        m.get(name).forall(_.mightContainString(v)) }
    }
  }

  private def requireStatsSupported(cols: Seq[String], df: DataFrame,
                                    rel: String): Unit =
    cols.foreach { c =>
      df.schema.fields.find(_.name == c).foreach { f =>
        if (!StatsCodec.supported(f.dataType))
          throw new IllegalArgumentException(
            s"stats column '$c' (partition '$rel') has type " +
              s"${f.dataType} — per-file min/max skipping needs an " +
              "orderable atomic (numeric, string, date, timestamp)")
      }
    }

  /** Per-file min/max of `cols` over freshly written generation dirs —
    * ONE column-pruned multi-root scan grouped by file, regardless of
    * how many partitions the commit wrote (k per-partition jobs would
    * double a wide commit's job count for metadata). `dirToRel` maps
    * each qualified gen dir to its manifest rel; files group back to
    * their rel by parent path. The collect is bounded by FILE COUNT ×
    * column count (the same driver bound as every manifest structure).
    * Cost: one re-read of what was just written, pruned to the stats
    * columns — the price of computing stats post-write without hooking
    * the parquet writer (Delta pays it inside the writer; one pruned
    * scan of hot-in-page-cache files is the honest Spark-level
    * equivalent). */
  private def fileStats(spark: org.apache.spark.sql.SparkSession,
                        fs: org.apache.hadoop.fs.FileSystem,
                        dirToRel: Map[String, String], cols: Seq[String],
                        readSchema: Option[org.apache.spark.sql.types.StructType]
                       ): Map[String, Map[String, Map[String, ColStat]]] = {
    if (cols.isEmpty || dirToRel.isEmpty) return Map.empty
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))
    val reader = readSchema.fold(spark.read)(spark.read.schema)
    val rows = reader.parquet(dirToRel.keys.toSeq.sorted: _*)
      .groupBy(col("_metadata.file_path").as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.groupBy { row =>
      val p = new org.apache.hadoop.fs.Path(row.getString(0))
      dirToRel.getOrElse(fs.makeQualified(p.getParent).toString,
        throw new IllegalStateException(
          s"stats scan surfaced a file outside the written dirs: $p"))
    }.map { case (rel, rws) =>
      rel -> rws.map { row =>
        val file = new org.apache.hadoop.fs.Path(row.getString(0)).getName
        file -> cols.zipWithIndex.map { case (c, i) =>
          c -> ColStat(Option(row.get(1 + 2 * i)).map(StatsCodec.encode),
            Option(row.get(2 + 2 * i)).map(StatsCodec.encode))
        }.toMap
      }.toMap
    }
  }

  /** The committed schema of a snapshot: the base schema plus every new
    * column the writes introduce; a same-name type conflict is loud.
    * Field order: base order, then first-seen. A column absent from ANY
    * contributing source (the carried base or one of the writes) is
    * NULLABLE — some committed files lack it and null-fill at read. */
  private def mergeEvolvedSchema(
      root: String,
      base: Option[org.apache.spark.sql.types.StructType],
      writes: Seq[org.apache.spark.sql.types.StructType]
  ): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val sources = base.toSeq ++ writes
    val out = scala.collection.mutable.LinkedHashMap[String, StructField]()
    val seen = scala.collection.mutable.Map[String, Int]()
    for (s <- sources; f <- s) {
      seen(f.name) = seen.getOrElse(f.name, 0) + 1
      out.get(f.name) match {
        case None => out(f.name) = f
        case Some(g) if g.dataType == f.dataType =>
          out(f.name) = g.copy(nullable = g.nullable || f.nullable)
        case Some(g) => throw new IllegalArgumentException(
          s"commitSnapshot($root): schema evolution conflict on column " +
            s"'${f.name}' — committed ${g.dataType} vs written " +
            s"${f.dataType}; evolve by ADDING nullable columns, a type " +
            "change needs an explicit full rewrite")
      }
    }
    StructType(out.values.toSeq.map(f =>
      if (seen(f.name) < sources.size) f.copy(nullable = true) else f))
  }

  /** First-commit adoption: a plain unpartitioned parquet dir's loose
    * files become the `""` entry of the base mapping by ONE
    * content-preserving rewrite into a generation dir — snapshot data
    * always lives in (listing-hidden) generations, so no manifest ever
    * references a directory the sentinel could also land in.
    * Skipped when this very commit overwrites `""` anyway. Partitioned
    * pre-snapshot lakes must be committed explicitly (their hive files
    * lack the partition columns — see [[commitSnapshot]]), and a root
    * left by the retired marker-generation layout is refused
    * ([[requireNoMarkerLayout]]). Returns the base mapping and the file
    * list of the generation it wrote. */
  private def adoptLoose(spark: org.apache.spark.sql.SparkSession,
                         fs: org.apache.hadoop.fs.FileSystem,
                         r: org.apache.hadoop.fs.Path,
                         rootRewritten: Boolean
                        ): (Map[String, String], Map[String, Seq[FileEntry]]) = {
    if (!fs.exists(r)) return (Map.empty, Map.empty)
    val kvDirs = fs.listStatus(r).filter(st =>
      st.isDirectory && st.getPath.getName.contains("="))
    require(kvDirs.isEmpty,
      s"$r is hive-partitioned and not yet snapshot-managed: adopt it by " +
        "committing each partition explicitly with its partition values " +
        "as data columns (hive files do not carry them)")
    requireNoMarkerLayout(fs, r)
    // this commit replaces "" anyway, or there is nothing to adopt
    if (rootRewritten || dataFiles(fs, r).isEmpty) (Map.empty, Map.empty)
    else {
      val genP = new org.apache.hadoop.fs.Path(r, snapGenName())
      spark.read.parquet(r.toString).write.mode("overwrite")
        .parquet(genP.toString)
      (Map("" -> genP.getName), Map("" -> fileEntries(fs, genP)))
    }
  }

  /** Read a snapshot-managed lake: the manifest's entries (optionally
    * `asOf` an older kept snapshot — file-level time travel) planned as
    * ONE scan over their recorded files ([[snapshotScan]]), never a
    * union per partition.
    * `partitionFilter` prunes manifest ENTRIES before planning — the
    * manifest-level partition pruning of every table format that owns
    * its file listing; a filtered scan then still row-group-prunes on
    * the materialized partition columns.
    *
    * `fileRanges` is the DATA-SKIPPING layer on top: for partitions whose
    * manifest carries per-file stats (committed with `statsCols`) or
    * bloom sidecars (`bloomCols`, point ranges only), every
    * file whose committed [min,max] cannot intersect a declared
    * [[ColRange]] is dropped before planning — an unpartitioned-column
    * predicate then opens only the files that can match, instead of every
    * file in every kept partition (the Iceberg/Delta skip contract).
    * Files or partitions WITHOUT skip metadata for a ranged column are kept
    * (pruning is always a superset); the caller still applies the real
    * filter. */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
                   asOf: Option[Int] = None,
                   partitionFilter: String => Boolean = _ => true,
                   fileRanges: Seq[ColRange] = Nil,
                   branch: String = MainBranch): DataFrame =
    snapshotScan(spark, root, manifestAt(spark, root, asOf, branch),
      partitionFilter, fileRanges)

  /** THE snapshot scan — every read of committed data plans here
    * ([[readSnapshot]], [[readStaged]], [[readPart]]): ONE
    * [[ManifestFileIndex]] relation over the recorded `#file` lists of
    * the entries `partitionFilter` keeps, so planning lists no data dir.
    * The manifest's schema is the read schema: evolved columns null-fill
    * in files committed before them, no per-file footer merging, and a
    * time-traveled read keeps its OWN epoch's shape. Declared
    * `fileRanges` pre-prune the file list by stats and blooms (so
    * `inputFiles` is the surviving set); the scan's pushed filters prune
    * it again at plan time. */
  private def snapshotScan(spark: org.apache.spark.sql.SparkSession,
                           root: String, m: Manifest,
                           partitionFilter: String => Boolean,
                           fileRanges: Seq[ColRange]): DataFrame = {
    val r = new org.apache.hadoop.fs.Path(root)
    val kept = m.mapping.toSeq.filter { case (rel, _) => partitionFilter(rel) }
    require(kept.nonEmpty,
      s"snapshot of $root has no partitions left after the filter")
    val schema = m.schema.getOrElse(throw new IllegalStateException(
      s"snapshot of $root carries no #schema line"))
    val colTypes = schema.fields.map(f => f.name -> f.dataType).toMap
    fileRanges.foreach(rg => require(colTypes.contains(rg.column),
      s"fileRanges column '${rg.column}' is not in the committed schema"))
    val index = new ManifestFileIndex(spark, kept.map { case (rel, gen) =>
      (dataDir(r, rel, gen), m.stats.get(rel),
        m.blooms.getOrElse(rel, Set.empty[String]), m.files(rel)) },
      colTypes, fileRanges)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.baseRelationToDataFrame(org.apache.spark.sql.execution.datasources
      .HadoopFsRelation(index, org.apache.spark.sql.types.StructType(Nil),
        schema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
        Map.empty[String, String])(classic))
  }

  /** Can a file with committed stats `cm` contain a row satisfying every
    * range? Missing column stats keep the file (superset guarantee);
    * all-null stats prune it (ranges are null-excluding by contract). */
  private[graft] def rangeSurvives(
      cm: Map[String, ColStat], ranges: Seq[ColRange],
      colTypes: Map[String, org.apache.spark.sql.types.DataType]): Boolean =
    ranges.forall { rg =>
      cm.get(rg.column) match {
        case None => true // file predates this stats column: keep
        case Some(st) if st.min.isEmpty =>
          false // ALL-null file; ranges are null-excluding by contract
        case Some(st) =>
          val dt = colTypes(rg.column)
          rg.lower.forall(lo =>
            StatsCodec.compare(dt, st.max.get, lo) >= 0) &&
            rg.upper.forall(hi =>
              StatsCodec.compare(dt, st.min.get, hi) <= 0)
      }
    }

  /** The kept snapshots' lineage, newest last: (id, committedAtMillis,
    * partitions, schemaCols, statsCols, bloomCols) — the DESCRIBE
    * HISTORY surface. Committed-at is the manifest file's mtime (the
    * instant the CAS landed; manifests are immutable, so it never
    * drifts). One listing + one cached manifest parse per kept id. */
  def snapshotHistory(spark: org.apache.spark.sql.SparkSession,
                      root: String): DataFrame = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val rows = snapIds(fs, r).map { id =>
      val st = fs.getFileStatus(snapFile(r, id))
      val m = manifestAt(spark, root, Some(id))
      (id, st.getModificationTime, m.mapping.size,
        m.schema.map(_.fieldNames.length).getOrElse(0),
        m.stats.values.flatMap(_.values.flatMap(_.keys))
          .toSeq.distinct.sorted,
        m.blooms.values.flatten.toSeq.distinct.sorted)
    }
    import spark.implicits._
    rows.toDF("snapshot_id", "committed_at_ms", "partitions",
      "schema_cols", "stats_cols", "bloom_cols")
  }

  /** TIMESTAMP AS OF: the newest snapshot committed at or before
    * `tsMillis` (manifest mtime = the CAS instant). Throws when the lake
    * has no snapshot that old — reading "before the table existed" must
    * be loud, not empty. Feed the result to `readSnapshot(asOf = …)`. */
  def snapshotIdAt(spark: org.apache.spark.sql.SparkSession, root: String,
                   tsMillis: Long): Int = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val ids = snapIds(fs, r)
    require(ids.nonEmpty, s"$root is not snapshot-managed")
    val at = ids.filter(id =>
      fs.getFileStatus(snapFile(r, id)).getModificationTime <= tsMillis)
    if (at.isEmpty) throw new IllegalArgumentException(
      s"no snapshot of $root existed at $tsMillis — the oldest kept " +
        s"manifest is newer (ids kept: ${ids.mkString(",")})")
    at.max
  }

  /** Bounded optimistic-retry loop around a snapshot write — the pattern
    * every CAS caller otherwise hand-rolls. `write` receives the CURRENT
    * snapshot id (None = not yet snapshot-managed) freshly re-read per
    * attempt and must (a) derive its inputs from THAT base (re-read
    * through [[readSnapshot]] — retrying a stale DataFrame would commit
    * stale data, the lost update the CAS exists to kill) and (b) commit
    * pinned to it (`expectedSnapshot = base`; [[mergeSnapshot]]/
    * [[applyCdcSnapshot]] pin internally, so just re-invoking them is
    * correct). A [[ConcurrentCommitException]] triggers a re-read and
    * retry, up to `maxAttempts`; any other failure propagates
    * immediately. Returns the committed snapshot id. */
  def withSnapshotRetry(spark: org.apache.spark.sql.SparkSession,
                        root: String, maxAttempts: Int = 5)
                       (write: Option[Int] => Int): Int = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    while (true) {
      attempt += 1
      val base = currentSnapshotId(spark, root)
      try return write(base)
      catch {
        case e: ConcurrentCommitException =>
          if (attempt >= maxAttempts) throw new ConcurrentCommitException(
            s"snapshot write to $root lost the commit race $maxAttempts " +
              s"times — a hotter writer is starving this one " +
              s"(last: ${e.getMessage})")
      }
    }
    -1 // unreachable: the loop returns or throws
  }

  /** Partition-pruned ATOMIC MERGE into a snapshot lake — the 100 TB
    * write path composed end to end: upsert `source` (key-unique rows
    * carrying `partitionCol` as a data column) by rewriting ONLY the
    * partitions the source touches, all committed in one snapshot flip.
    * Untouched partitions' manifest entries carry over without a byte
    * of I/O, so the cost is O(changed partitions), not O(lake) — and a
    * crash before the flip leaves the previous snapshot intact.
    *
    * Contract: `partitionCol` must be FUNCTIONALLY DETERMINED by `keys`
    * and stable across updates (the universal caveat of partition-pruned
    * MERGE: an update that moved a key's partition would leave the stale
    * copy in the old partition, which this rewrite never opens). The
    * per-partition work is [[mergeUpsert]]'s anti-join ∪ union; a
    * brand-new partition value inserts wholesale. An empty source is a
    * committed no-op. Returns the committed snapshot id. */
  def mergeSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
                    source: DataFrame, keys: Seq[String],
                    partitionCol: String,
                    branch: String = MainBranch): Int =
    rewriteTouched(spark, root, source, partitionCol, branch) {
      (current, delta) =>
        mergeUpsert(current.getOrElse(delta.limit(0)), delta, keys)
    }

  /** CDC batch applied to a snapshot lake, partition-pruned and atomic
    * — [[applyCdc]]'s I/U/D semantics per TOUCHED partition under one
    * manifest flip ([[mergeSnapshot]]'s shape with delete support): the
    * continuous-ingest write path, where each change batch lands as one
    * snapshot and every intermediate state is a committed, time-
    * travelable table. Same contract: ≤1 change row per key per batch
    * (compact upstream via [[compactLog]]), `partitionCol` key-determined
    * and carried as a data column, nulls loud. */
  def applyCdcSnapshot(spark: org.apache.spark.sql.SparkSession,
                       root: String, changes: DataFrame, keys: Seq[String],
                       partitionCol: String, opCol: String = "op",
                       branch: String = MainBranch): Int =
    rewriteTouched(spark, root, changes, partitionCol, branch) {
      (current, delta) =>
        applyCdc(current.getOrElse(delta.drop(opCol).limit(0)), delta,
          keys, opCol)
    }

  /** The touched-partition rewrite [[mergeSnapshot]] and
    * [[applyCdcSnapshot]] share: every partition value `delta` carries is
    * rewritten as `rewrite(current, its delta rows)` (`current` is None
    * for a brand-new partition) and all of them commit in one snapshot
    * pinned to the base they read. An empty delta (streaming triggers
    * fire on empty sources) is a committed no-op: the base snapshot
    * already IS the result. */
  private def rewriteTouched(spark: org.apache.spark.sql.SparkSession,
                             root: String, delta: DataFrame,
                             partitionCol: String, branch: String)
                            (rewrite: (Option[DataFrame], DataFrame) => DataFrame)
  : Int = {
    require(delta.columns.contains(partitionCol),
      s"the delta must carry '$partitionCol' as a data column")
    val baseId = currentSnapshotId(spark, root, branch).getOrElse(
      throw new IllegalStateException(s"$root has no committed snapshot"))
    val man = manifestAt(spark, root, Some(baseId), branch)
    // pin the delta ONCE before the per-partition fan-out: the k touched
    // partitions each filter the SAME materialized blocks instead of
    // re-running the (possibly computed — a join/aggregate output, the
    // normal CDC shape) delta plan k times. Without this the docstring's
    // O(changed partitions) cost claim multiplies the upstream plan by k.
    // A delta the caller already persisted is respected as-is.
    val pin = delta.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (pin) delta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the collect is bounded by the number of TOUCHED PARTITIONS (never
      // rows) — the same driver-bounded shape as every partition manifest;
      // it is also the action that materializes the pinned delta
      val touched = delta.select(col(partitionCol)).distinct()
        .collect().map(x => Option(x.get(0)).map(_.toString).getOrElse(
          throw new IllegalArgumentException(
            s"NULL $partitionCol in the delta — a null partition value " +
              "has no directory; filter or bucket it explicitly")))
      if (touched.isEmpty) return baseId
      // data-driven rels must be path- and manifest-safe BEFORE any write
      touched.foreach(requireValidPartValue(partitionCol, _))
      val writes = touched.sorted.toSeq.map { v =>
        val rel = s"$partitionCol=$v"
        // read under the SNAPSHOT schema: an evolved column null-fills
        // in old files, so the union with the delta stays aligned
        val current = Option.when(man.mapping.contains(rel))(
          readPart(spark, man, root, rel))
        rel -> rewrite(current, delta.filter(col(partitionCol) === v))
      }
      commitSnapshot(spark, root, writes, expectedSnapshot = Some(baseId),
        branch = branch)
    } finally if (pin) delta.unpersist(blocking = false)
  }

  /** Determinism is only knowable AFTER analysis (an unresolved
    * `rand() < 0.5` reports deterministic), so the guard inspects the
    * analyzed plan of the probe frame the caller built over the
    * snapshot. Catalyst's `deterministic` flag is not enough on its
    * own: `current_timestamp()`/`now()`/`current_date()` report
    * deterministic (they are — within one query), but DML evaluates
    * the predicate in TWO queries (touch pass, then rewrite), so a row
    * crossing the boundary between the passes would survive a DELETE
    * in an un-touched partition. Time-valued expressions are rejected
    * alongside rand() for the same two-evaluations rationale. */
  private def requireDeterministic(df: DataFrame, what: String): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{
      CurrentDate, CurrentTimestamp, Expression, LocalTimestamp, Now}
    def timeDependent(e: Expression): Boolean = e match {
      case _: CurrentTimestamp | _: CurrentDate | _: Now |
           _: LocalTimestamp => true
      case _ => e.children.exists(timeDependent)
    }
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
    val bad = plan.collectFirst {
      case p if p.expressions.exists(!_.deterministic) => p }
    require(bad.isEmpty,
      s"$what must be deterministic — it is evaluated once to find " +
        "touched partitions and once to rewrite them")
    val timey = plan.collectFirst {
      case p if p.expressions.exists(timeDependent) => p }
    require(timey.isEmpty,
      s"$what must not depend on evaluation time " +
        "(current_timestamp/current_date/now): the touch pass and the " +
        "rewrite pass run at different instants, so a row whose match " +
        "flips between them would be missed in an un-touched partition" +
        " — bind the instant to a literal first")
  }

  /** Manifest entries whose committed files can contain a row matching
    * `predicate`, resolved by ONE scan: the snapshot read (with the
    * manifest skip layer live — partitions whose every file is pruned by
    * stats/blooms are never opened) filtered by the predicate, reduced
    * to the DISTINCT generation directories the matches came from. The
    * collect is bounded by the number of MATCHED data dirs (≤ touched
    * partitions), never rows. Directory identity goes through
    * `fs.makeQualified` on both sides so URI spelling (`file:///` vs
    * `file:/`) can't split an entry. */
  private def touchedEntries(spark: org.apache.spark.sql.SparkSession,
                             root: String, baseId: Int, man: Manifest,
                             predicate: Column,
                             branch: String = MainBranch): Seq[(String, String)] = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    // input_file_name() returns the URL-ENCODED path (a partition value
    // like 'a b' reads back as 'lang=a%20b') — decode through URI before
    // comparing against makeQualified(dataDir(...)), which is unencoded;
    // a raw string compare would orphan every encodable partition
    val matchedDirs = readSnapshot(spark, root, asOf = Some(baseId),
      branch = branch)
      .filter(predicate)
      .select(regexp_replace(input_file_name(), "/[^/]*$", "").as("dir"))
      .distinct().collect()
      .map(x => fs.makeQualified(new org.apache.hadoop.fs.Path(
        new java.net.URI(x.getString(0)))).toString).toSet
    val entries = man.mapping.toSeq.filter { case (rel, gen) =>
      matchedDirs.contains(fs.makeQualified(dataDir(r, rel, gen)).toString) }
    val resolved = entries.map { case (rel, gen) =>
      fs.makeQualified(dataDir(r, rel, gen)).toString }.toSet
    val orphans = matchedDirs -- resolved
    require(orphans.isEmpty,
      s"matched files outside the snapshot $baseId manifest of $root: " +
        s"${orphans.take(3).mkString(", ")} — the lake was modified " +
        "outside the commit protocol")
    entries.sortBy(_._1)
  }

  /** Row-level DELETE on a snapshot lake — `DELETE FROM t WHERE pred`,
    * partition-pruned and atomic: ONE predicate-filtered scan (riding
    * the manifest's stats/bloom skip layer, so partitions that provably
    * contain no match are never opened) finds the touched generation
    * dirs; only THOSE partitions are rewritten without the matching
    * rows, committed in one snapshot flip with the untouched entries
    * carried byte-free. SQL semantics: a row is deleted iff the
    * predicate is TRUE — FALSE and NULL both keep it. A predicate that
    * matches nothing is a committed no-op (returns the current id).
    * The predicate must be deterministic: it runs twice (touch
    * detection, then the rewrite) and a non-deterministic one could
    * delete rows in partitions the first pass never saw. Stats and
    * bloom columns recorded in the manifest are recomputed for the
    * rewritten partitions, so the skip layer survives the DML. Returns
    * the committed snapshot id. */
  def deleteSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
                     predicate: Column,
                     branch: String = MainBranch): Int = {
    val baseId = currentSnapshotId(spark, root, branch).getOrElse(
      throw new IllegalStateException(s"$root has no committed snapshot"))
    val man = manifestAt(spark, root, Some(baseId), branch)
    requireDeterministic(
      readSnapshot(spark, root, asOf = Some(baseId), branch = branch)
        .filter(predicate),
      "DELETE predicate")
    val touched = touchedEntries(spark, root, baseId, man, predicate,
      branch)
    if (touched.isEmpty) return baseId // nothing matches: committed no-op
    val writes = touched.map { case (rel, _) =>
      rel -> readPart(spark, man, root, rel)
        .filter(!(predicate <=> lit(true)))
    }
    commitSnapshot(spark, root, writes, expectedSnapshot = Some(baseId),
      branch = branch)
  }

  /** Row-level UPDATE on a snapshot lake — `UPDATE t SET c = e, … WHERE
    * pred`, partition-pruned and atomic, same touch/rewrite shape as
    * [[deleteSnapshot]]. SQL semantics throughout: only predicate-TRUE
    * rows change (NULL keeps the old row), and every SET expression is
    * evaluated against the OLD row (one `select`, not chained
    * `withColumn`s — `SET a = b, b = a` swaps). Loud contracts: SET
    * columns must exist in the committed schema (adding a column is
    * schema evolution via [[commitSnapshot]], not UPDATE), must not
    * change the column's type (a type change is a rewrite), and must
    * not name a partition-layout column of any touched partition (the
    * rewrite never moves rows between partition dirs — the same
    * placement caveat as [[mergeSnapshot]], here enforced because the
    * rel encodes the column). Returns the committed snapshot id. */
  def updateSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
                     predicate: Column, set: Seq[(String, Column)],
                     branch: String = MainBranch): Int = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    require(set.map(_._1).distinct.size == set.size,
      s"duplicate SET column in ${set.map(_._1).mkString(", ")}")
    val baseId = currentSnapshotId(spark, root, branch).getOrElse(
      throw new IllegalStateException(s"$root has no committed snapshot"))
    val man = manifestAt(spark, root, Some(baseId), branch)
    man.schema.foreach { sc =>
      val missing = set.map(_._1).filterNot(sc.fieldNames.contains)
      require(missing.isEmpty,
        s"SET columns not in the committed schema: " +
          s"${missing.mkString(", ")} — adding a column is schema " +
          "evolution (commitSnapshot), not UPDATE")
    }
    // resolve the SET expressions against the snapshot ONCE — type
    // mismatches must be THIS loud error, not an ANSI cast failure from
    // the per-partition when(): a type change is a rewrite, not UPDATE
    val snap0 = readSnapshot(spark, root, asOf = Some(baseId),
      branch = branch)
    val probe = snap0.select(col("*") +: set.map {
      case (c, e) => e.as(s"__set_$c") }: _*).filter(predicate)
    requireDeterministic(probe, "UPDATE predicate and SET expressions")
    man.schema.foreach { sc =>
      set.foreach { case (c, _) =>
        val was = sc(c).dataType
        val now = probe.schema(s"__set_$c").dataType
        require(now == was,
          s"UPDATE cannot change the type of '$c' ($was -> $now) — " +
            "a type change is a table rewrite, not an UPDATE")
      }
    }
    val touched = touchedEntries(spark, root, baseId, man, predicate,
      branch)
    if (touched.isEmpty) return baseId
    val partCols = touched.map(_._1).filter(_.nonEmpty)
      .flatMap(_.split("/").toSeq.map(_.takeWhile(_ != '='))).distinct
    val clash = set.map(_._1).filter(partCols.contains)
    require(clash.isEmpty,
      s"UPDATE cannot SET partition-layout column(s) " +
        s"${clash.mkString(", ")} — moving rows between partitions is a " +
        "rewrite (mergeSnapshot/commitSnapshot), not an in-place UPDATE")
    val setMap = set.toMap
    val writes = touched.map { case (rel, _) =>
      val cur = readPart(spark, man, root, rel)
      rel -> cur.select(cur.columns.toSeq.map { c =>
        setMap.get(c) match {
          case Some(e) => when(predicate, e).otherwise(col(c)).as(c)
          case None    => col(c)
        }
      }: _*)
    }
    commitSnapshot(spark, root, writes, expectedSnapshot = Some(baseId),
      branch = branch)
  }

  /** ROLLBACK: make snapshot `toId`'s content current again by
    * committing a NEW snapshot whose manifest (mapping + schema + stats
    * + blooms) is `toId`'s, verbatim. Metadata-only — zero data I/O,
    * because `toId`'s manifest is kept and GC preserves every generation
    * a kept manifest references, so its dirs are still on disk. History
    * is preserved, not erased: the bad snapshots stay readable (and the
    * rollback itself can be rolled back) until [[snapshotGc]] ages them
    * out — the Iceberg/Delta RESTORE contract. Rolling back to the
    * current snapshot is a no-op. Throws when `toId` is not a kept
    * snapshot (rollback past GC retention is impossible by design).
    * Branch-aware like the rest of the DML family: `branch` rolls THAT
    * lineage back to one of its own kept epochs, main untouched.
    * Returns the committed snapshot id. */
  def rollbackSnapshot(spark: org.apache.spark.sql.SparkSession,
                       root: String, toId: Int,
                       branch: String = MainBranch): Int = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val ids = snapIds(fs, r, branch)
    require(ids.nonEmpty,
      if (branch.isEmpty) s"$root is not snapshot-managed"
      else s"no branch '$branch' on $root")
    val baseId = ids.last
    require(ids.contains(toId),
      s"snapshot $toId of $root${
        if (branch.isEmpty) "" else s" branch '$branch'"} is not kept " +
        s"(kept: ${ids.mkString(",")}) — rollback past GC retention is " +
        "impossible")
    if (toId == baseId) return baseId
    commitManifest(spark, root,
      manifestAt(spark, root, Some(toId), branch), baseId, branch)
  }

  /** PARTITION-LAYOUT EVOLUTION: rewrite the whole lake into a new
    * partition scheme (`partitionCol=value` dirs) as ONE atomic
    * snapshot — the Iceberg partition-evolution need (yesterday's
    * `p=…` layout stops matching today's query pattern) without its
    * split-metadata complexity: here old epochs keep the OLD layout
    * (time travel reads it unchanged) and the new manifest REPLACES the
    * mapping wholesale, so readers flip layouts with the snapshot.
    *
    * Cost discipline: the data moves in ONE Spark pass — a
    * hive-partitioned staging write under the lake's metadata dir (the
    * value is duplicated into a scratch hive column so it also STAYS in
    * the data files, the house contract) — then each staged value dir
    * RENAMES into place as a writer-unique generation: no second copy,
    * no per-partition scan of the lake (k filtered writes would read the
    * lake k times). The column-pruned `distinct` that enumerates the new
    * layout is driver-bounded by the new partition COUNT; null values
    * and values hive would path-escape are refused loudly BEFORE the
    * write. Stats/bloom columns default to the manifest's current sets
    * (a layout change must not strip the skip layer) and recompute over
    * the staged files. A crash leaves a `stage-*` relic [[snapshotGc]]
    * reclaims; a lost CAS race leaves gen relics, same contract as every
    * commit. Returns the committed snapshot id. */
  def repartitionSnapshot(spark: org.apache.spark.sql.SparkSession,
                          root: String, partitionCol: String,
                          statsCols: Seq[String] = Nil,
                          bloomCols: Seq[String] = Nil): Int = {
    val baseId = currentSnapshotId(spark, root).getOrElse(
      throw new IllegalStateException(s"$root has no committed snapshot"))
    val man = manifestAt(spark, root, Some(baseId))
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    requireCasCapable(spark, fs, root) // fail BEFORE the rewrite
    val snap = readSnapshot(spark, root, asOf = Some(baseId))
    require(snap.columns.contains(partitionCol),
      s"'$partitionCol' is not a column of the snapshot " +
        s"(${snap.columns.mkString(", ")})")
    require(!snap.columns.contains("__graft_part"),
      "the table carries the reserved staging column '__graft_part' — " +
        "rename it before repartitioning")
    val vals = snap.select(col(partitionCol)).distinct().collect()
      .map(x => Option(x.get(0)).map(_.toString).getOrElse(
        throw new IllegalArgumentException(
          s"NULL $partitionCol value — a null partition has no " +
            "directory; filter or bucket it explicitly")))
    require(vals.nonEmpty, s"cannot repartition an empty lake $root")
    vals.foreach(requireValidPartValue(partitionCol, _))
    val u = java.util.UUID.randomUUID()
    val staging = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs
      .Path(r, LakeDir),
      f"stage-${u.getMostSignificantBits}%016x${u.getLeastSignificantBits}%016x")
    snap.withColumn("__graft_part", col(partitionCol))
      .write.partitionBy("__graft_part").mode("overwrite")
      .parquet(staging.toString)
    // map staged dirs back to values; hive path-escaping would make the
    // dir name diverge from the raw value — refuse instead of guessing
    val stagedDirs = fs.listStatus(staging).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("__graft_part="))
      .map(_.getPath.getName).toSet
    val expected = vals.map(v => s"__graft_part=$v").toSet
    if (stagedDirs != expected) {
      fs.delete(staging, true)
      throw new IllegalArgumentException(
        s"partition values of '$partitionCol' require hive path " +
          s"escaping — unsupported (staged ${
            (stagedDirs -- expected).take(3).mkString(", ")})")
    }
    val updated = vals.sorted.toSeq.map { v =>
      val rel = s"$partitionCol=$v"
      val part = new org.apache.hadoop.fs.Path(r, rel)
      fs.mkdirs(part)
      val gen = snapGenName()
      require(fs.rename(new org.apache.hadoop.fs.Path(staging,
        s"__graft_part=$v"), new org.apache.hadoop.fs.Path(part, gen)),
        s"staging rename into $rel/$gen failed")
      plantSentinelIfBare(fs, part)
      rel -> gen
    }
    val newFiles = updated.map { case (rel, gen) =>
      rel -> fileEntries(fs, dataDir(r, rel, gen)) }.toMap
    fs.delete(staging, true) // only the _SUCCESS marker remains
    plantSentinelIfBare(fs, r)
    val schema = snap.schema
    val effStats = skipCols(spark, statsCols, manifestStatsCols(man),
      StatsColsConf).filter(schema.fieldNames.contains)
    val effBloom = skipCols(spark, bloomCols, manifestBloomCols(man),
      BloomColsConf).filter(schema.fieldNames.contains)
    val dirToRel = updated.map { case (rel, gen) =>
      fs.makeQualified(dataDir(r, rel, gen)).toString -> rel }.toMap
    val stats = fileStats(spark, fs, dirToRel, effStats, Some(schema))
    val blooms = writeBlooms(spark, fs, dirToRel, effBloom, Some(schema))
    commitManifest(spark, root,
      Manifest(updated.toMap, Some(schema), stats, blooms, newFiles),
      baseId)
  }

  // ---- snapshot TAGS: stable names that pin epochs against GC ---------------

  private val TagName = "^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$".r
  private def tagFile(root: org.apache.hadoop.fs.Path, name: String) =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, LakeDir), s"tag-$name")

  /** Name a kept snapshot (`v1.2`, `audited-2026-08`) — the Iceberg tag
    * contract: tags are IMMUTABLE (re-pointing a name that readers
    * resolve is a silent data swap — create fails on an existing name;
    * [[deleteTag]] first, explicitly) and a tagged epoch is PINNED
    * against [[snapshotGc]] (its manifest and every generation it
    * references survive any retention window until the tag is
    * deleted). Resolve with [[tagSnapshotId]] and read via
    * `readSnapshot(asOf = …)`. */
  def tagSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
                  name: String, id: Int): Unit = {
    require(TagName.matches(name),
      s"bad tag name '$name' (allowed: alnum start, then [A-Za-z0-9._-], " +
        "max 64)")
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    require(snapIds(fs, r).contains(id),
      s"snapshot $id of $root is not kept — tags name live epochs only")
    fs.mkdirs(new org.apache.hadoop.fs.Path(r, LakeDir))
    // tmp + CAS link/rename: an existing tag loses cleanly (tags are
    // immutable — deleteTag first), a crash can never leave a truncated
    // tag file, and real IO errors propagate as themselves
    if (!casPutMeta(spark, fs, tagFile(r, name), s"$id\n".getBytes("UTF-8")))
      throw new IllegalArgumentException(
        s"tag '$name' already exists on $root — tags are immutable; " +
          "deleteTag first")
  }

  /** The snapshot id a tag names; loud when the tag does not exist. */
  def tagSnapshotId(spark: org.apache.spark.sql.SparkSession, root: String,
                    name: String): Int = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val f = tagFile(r, name)
    require(fs.exists(f), s"no tag '$name' on $root")
    val in = fs.open(f)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      "UTF-8").trim.toInt
    finally in.close()
  }

  /** All tags of the lake, (name, snapshotId), name-sorted. */
  def listTags(spark: org.apache.spark.sql.SparkSession,
               root: String): Seq[(String, Int)] = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val lake = new org.apache.hadoop.fs.Path(r, LakeDir)
    if (!fs.exists(lake)) return Nil
    fs.listStatus(lake).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("tag-")).sorted
      .map(n => n.stripPrefix("tag-") ->
        tagSnapshotId(spark, root, n.stripPrefix("tag-")))
  }

  /** Remove a tag; the next [[snapshotGc]] may reclaim the epoch. */
  def deleteTag(spark: org.apache.spark.sql.SparkSession, root: String,
                name: String): Unit = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    require(fs.delete(tagFile(r, name), false), s"no tag '$name' on $root")
  }

  // ---- BRANCHES: isolated lineages + fast-forward publish --------------------

  /** Fork a BRANCH at a main-lineage epoch (default: the current one) —
    * the Iceberg branch contract on the manifest machinery: the branch
    * starts as a copy of that epoch's manifest in its own lineage dir,
    * so `commitSnapshot(branch = …)` evolves it with the full commit
    * semantics (CAS, stats, evolution) while MAIN readers never see any
    * of it; generations are shared (manifests reference, never copy
    * data), and GC keeps whatever any kept manifest of any lineage
    * references. Publish back via [[fastForward]]; discard via
    * [[deleteBranch]]. Branch names share the tag charset; an existing
    * name is refused (re-pointing is a silent swap). */
  def createBranch(spark: org.apache.spark.sql.SparkSession, root: String,
                   name: String, fromId: Option[Int] = None): Int = {
    require(TagName.matches(name),
      s"bad branch name '$name' (allowed: alnum start, then " +
        "[A-Za-z0-9._-], max 64)")
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val ids = snapIds(fs, r)
    require(ids.nonEmpty, s"$root is not snapshot-managed")
    val at = fromId.getOrElse(ids.last)
    require(ids.contains(at),
      s"snapshot $at of $root is not kept (kept: ${ids.mkString(",")})")
    require(snapIds(fs, r, name).isEmpty,
      s"branch '$name' already exists on $root — deleteBranch first")
    fs.mkdirs(lineageDir(r, name))
    // MARKER FIRST, then the seed manifest: the fork id rides a marker
    // file (GC retention may age the fork MANIFEST out of the lineage,
    // but fast-forward must always know where the branch diverged), and
    // writing it first closes the old crash window — a marker without a
    // lineage is a harmless relic the next create recovers from, whereas
    // a seed without a marker bricked the branch (branchFork threw AND
    // re-create was refused). The marker CAS is also the creation lock:
    // of two concurrent creators exactly one wins it.
    val marker = new org.apache.hadoop.fs.Path(lineageDir(r, name), "fork")
    if (!casPutMeta(spark, fs, marker, s"$at\n".getBytes("UTF-8"))) {
      // an existing marker over an EMPTY lineage is a crash relic of a
      // create that died before its seed put (its fork id may differ) —
      // but only once it has AGED past the relic TTL: a FRESH marker
      // over an empty lineage is most likely a LIVE creator between its
      // marker CAS and its seed put, and reclaiming it would re-open
      // the seed-without-marker brick this ordering exists to close
      // (the live creator would complete against OUR marker's fork id,
      // or no marker at all). A non-empty lineage is a live branch.
      if (snapIds(fs, r, name).nonEmpty)
        throw new IllegalArgumentException(
          s"branch '$name' already exists on $root — deleteBranch first")
      val ttl = spark.conf.get("graft.lake.stageRelicTtlMs",
        (24L * 3600 * 1000).toString).toLong
      // the marker can vanish between our lost CAS and this probe (a
      // concurrent reclaimer or deleteBranch won) — that IS a
      // concurrent create, not an IO fault
      val markerMtime = try fs.getFileStatus(marker).getModificationTime
        catch { case _: java.io.FileNotFoundException =>
          throw new ConcurrentCommitException(
            s"branch '$name' is being created concurrently on $root " +
              "(the fork marker vanished mid-create) — retry shortly")
        }
      val age = System.currentTimeMillis() - markerMtime
      if (age <= ttl)
        throw new ConcurrentCommitException(
          s"branch '$name' is being created concurrently on $root (a " +
            s"fork marker ${age}ms old exists with no lineage yet) — " +
            "retry shortly; if the creator is known dead, deleteBranch " +
            "reclaims it immediately")
      fs.delete(marker, false)
      require(casPutMeta(spark, fs, marker, s"$at\n".getBytes("UTF-8")),
        s"branch '$name' is being created concurrently on $root — a " +
          "fork marker reappeared")
    }
    require(putManifest(spark, fs, r, snapFile(r, at, name),
      manifestAt(spark, root, Some(at))),
      s"branch '$name' already exists on $root — deleteBranch first")
    at
  }

  private def branchFork(fs: org.apache.hadoop.fs.FileSystem,
                         r: org.apache.hadoop.fs.Path,
                         name: String): Int = {
    val f = new org.apache.hadoop.fs.Path(lineageDir(r, name), "fork")
    require(fs.exists(f), s"branch '$name' has no fork marker")
    val in = fs.open(f)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      "UTF-8").trim.toInt
    finally in.close()
  }

  /** All branches, (name, headId), name-sorted. */
  def listBranches(spark: org.apache.spark.sql.SparkSession,
                   root: String): Seq[(String, Int)] = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val lake = new org.apache.hadoop.fs.Path(r, LakeDir)
    if (!fs.exists(lake)) return Nil
    fs.listStatus(lake).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("branch-"))
      .map(_.getPath.getName.stripPrefix("branch-")).sorted
      .flatMap(n => snapIds(fs, r, n).lastOption.map(n -> _))
  }

  /** Drop a branch lineage; the next [[snapshotGc]] reclaims whatever
    * generations only it referenced. Main is untouched. */
  def deleteBranch(spark: org.apache.spark.sql.SparkSession, root: String,
                   name: String): Unit = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val dir = lineageDir(r, name)
    require(fs.exists(dir), s"no branch '$name' on $root")
    fs.delete(dir, true)
  }

  /** FAST-FORWARD publish: adopt a branch's commits into main — only
    * when main still points where the branch forked (the branch head's
    * history then IS main's history plus the branch commits; no merge
    * semantics to invent). Every branch manifest past the fork links
    * into the main lineage under the standard CAS, so the audited
    * intermediate epochs stay time-travelable from main; a main commit
    * that landed since the fork fails this loudly (rebase = re-branch
    * from the new head). If a main commit slips in MID-adoption, the
    * already-linked prefix stays — each linked manifest was a committed
    * branch epoch, so main is consistent at every instant — and the
    * remainder fails with the branch lineage intact for a retry after
    * re-basing. The branch lineage is consumed on success.
    * Returns main's new head id. */
  def fastForward(spark: org.apache.spark.sql.SparkSession, root: String,
                  name: String): Int = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val bids = snapIds(fs, r, name)
    require(bids.nonEmpty, s"no branch '$name' on $root")
    val fork = branchFork(fs, r, name)
    val mainHead = snapIds(fs, r).lastOption.getOrElse(
      throw new IllegalStateException(s"$root is not snapshot-managed"))
    if (mainHead != fork)
      throw new ConcurrentCommitException(
        s"cannot fast-forward '$name' (forked at $fork) onto main at " +
          s"$mainHead — main moved since the fork; re-branch from the " +
          "current head and re-apply")
    // adopt CONTIGUOUSLY onto the fork: the first link contends for the
    // exact CAS slot (fork+1) a concurrent main committer would take, so
    // one of them loses loudly — linking at the branch's own (possibly
    // gapped) ids would leave that slot open and silently lose the
    // competitor's update
    bids.filter(_ > fork).zipWithIndex.foreach { case (id, k) =>
      commitManifest(spark, root,
        manifestAt(spark, root, Some(id), name), fork + k)
    }
    // consume ONLY what was adopted — the listed snap files and the fork
    // marker, never a recursive lineage delete: a branch commit landing
    // after the adoption loop would be silently destroyed by `delete(dir,
    // true)` (check-then-act — re-listing first merely narrows the
    // window). With per-file deletes a concurrent commit SURVIVES in the
    // lineage dir and the next branch operation fails loudly on the
    // missing fork marker instead of losing data.
    bids.foreach(id => fs.delete(snapFile(r, id, name), false))
    fs.delete(new org.apache.hadoop.fs.Path(lineageDir(r, name), "fork"),
      false)
    val leftover = snapIds(fs, r, name)
    if (leftover.nonEmpty)
      throw new ConcurrentCommitException(
        s"branch '$name' advanced while fast-forwarding — epochs " +
          s"${bids.mkString(",")} were adopted onto main, but commits " +
          s"${leftover.mkString(",")} landed concurrently and survive in " +
          "the branch lineage (fork marker consumed); re-branch and " +
          "re-apply them")
    // non-recursive dir removal only: if yet another commit sneaked in
    // after the leftover check, the delete fails (non-empty) and the
    // commit survives; an empty leftover dir is harmless to recreate over
    try fs.delete(lineageDir(r, name), false)
    catch { case _: java.io.IOException => () }
    snapIds(fs, r).last
  }

  /** REBASE a diverged branch onto the current main head — the missing
    * half of branch-audit-publish when [[fastForward]] refuses because
    * main moved since the fork: replay the branch's PENDING INTENT (its
    * [[snapshotChanges]] from the fork to its head — I/U/D per key) onto
    * a fresh fork of main's head, so the next fast-forward is legal
    * again. Cherry-pick semantics, loud on conflicts: a key BOTH main
    * and the branch changed since the fork (to different outcomes —
    * identical changes are convergent, not conflicting) throws with both
    * sides' values surfaced; resolving is the operator's call (re-apply
    * by hand on a fresh branch).
    *
    * Crash-safe by staging: the replay lands on a TEMP branch first
    * (`<name>.rebase`), the old lineage — the branch's intent — is
    * deleted only after the temp branch holds the rebased state, then
    * the temp lineage renames into place (an interrupted rebase leaves
    * either the original branch intact or a recoverable
    * `<name>.rebase`). Needs the fork manifest still kept on main
    * (rebase past GC retention is impossible, like rollback).
    * `partitionCol` is the lake's partition column ([[applyCdcSnapshot]]
    * contract: key-determined, carried as a data column). A branch that
    * EVOLVED the schema (added columns main lacks) refuses loudly at
    * the replay union — rebase replays row intent, not schema changes;
    * evolve main first, then rebase. Returns the rebased branch's head
    * id. */
  def rebaseBranch(spark: org.apache.spark.sql.SparkSession, root: String,
                   name: String, keys: Seq[String],
                   partitionCol: String): Int = {
    require(TagName.matches(name), s"bad branch name '$name'")
    require(name.length <= 57,
      s"branch name '$name' too long to rebase — the staging lineage " +
        "appends '.rebase' and branch names cap at 64 chars")
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val bids = snapIds(fs, r, name)
    require(bids.nonEmpty, s"no branch '$name' on $root")
    val fork = branchFork(fs, r, name)
    val mainHead = snapIds(fs, r).lastOption.getOrElse(
      throw new IllegalStateException(s"$root is not snapshot-managed"))
    if (mainHead == fork) return bids.last // fast-forwardable already
    val branchHead = bids.last
    val pending = snapshotChanges(spark, root, fork, branchHead, keys,
      toBranch = name)
    val mainDrift = snapshotChanges(spark, root, fork, mainHead, keys)
    // conflict = a key both sides touched, unless both reached the SAME
    // outcome (same op, null-safe-equal new values — convergent edits)
    val newCols = pending.columns.filter(_.startsWith("new_")).toSeq
    val b = pending.alias("b")
    val mm = mainDrift.alias("m")
    val sameOutcome = (col("b.change_type") === col("m.change_type")) &&
      newCols.map(c => col(s"b.$c") <=> col(s"m.$c"))
        .foldLeft(lit(true))(_ && _)
    val conflicts = b.join(mm, keys, "inner").filter(!sameOutcome)
      .select(keys.map(col) ++ Seq(col("b.change_type").as("branch_op"),
        col("m.change_type").as("main_op")) ++
        newCols.flatMap(c => Seq(col(s"b.$c").as(s"branch_$c"),
          col(s"m.$c").as(s"main_$c"))): _*)
    val sample = conflicts.limit(21).collect()
    if (sample.nonEmpty) throw new IllegalStateException(
      s"rebase of branch '$name' onto $root@$mainHead conflicts: " +
        s"${sample.length}${if (sample.length > 20) "+" else ""} key(s) " +
        "changed by BOTH main and the branch since the fork — first: " +
        sample.take(3).map(_.toString).mkString("; ") +
        " — resolve by re-branching and re-applying by hand")
    // CDC shape: I/U carry the new payload, D only needs key + partition
    // placement (taken from the old side; applyCdc drops D payloads)
    val payload = keys ++ newCols.map(_.stripPrefix("new_"))
      .filterNot(keys.contains)
    require(payload.contains(partitionCol),
      s"'$partitionCol' is not a column of the change feed " +
        s"(${payload.mkString(", ")})")
    val cdc = pending.select(
      payload.map { c =>
        if (keys.contains(c)) col(c).as(c)
        else when(col("change_type") === "D", col(s"old_$c"))
          .otherwise(col(s"new_$c")).as(c)
      } :+ col("change_type").as("op"): _*)
    val tmp = s"$name.rebase"
    if (snapIds(fs, r, tmp).nonEmpty) deleteBranch(spark, root, tmp)
    createBranch(spark, root, tmp, fromId = Some(mainHead))
    applyCdcSnapshot(spark, root, cdc, keys, partitionCol, branch = tmp)
    swapRebasedLineage(fs, r, name, tmp, bids,
      (p, b) => casPutMeta(spark, fs, p, b))
    snapIds(fs, r, name).last
  }

  /** The SWAP step of [[rebaseBranch]]: retire the branch state
    * observed at entry and rename the staged lineage into place — with
    * per-file deletes plus a loud leftover check, never a recursive
    * lineage delete, which would silently destroy a branch commit that
    * landed between the rebase's snapshotChanges capture and the swap
    * (the same check-then-act data-loss window fastForward closed the
    * same way). Order matters: the observed snap files go first, the
    * leftover check runs while the fork marker is STILL in place (so a
    * refused swap leaves the branch rebase-able — marker plus the late
    * epochs), and only a clean re-list proceeds to the marker delete
    * and the rename. */
  private[graft] def swapRebasedLineage(fs: org.apache.hadoop.fs.FileSystem,
                                        r: org.apache.hadoop.fs.Path,
                                        name: String, tmp: String,
                                        observedBids: Seq[Int],
                                        putMeta: (org.apache.hadoop.fs.Path,
                                          Array[Byte]) => Boolean = null)
  : Unit = {
    // the marker restore must ride the SAME CAS every other fork-marker
    // put uses — on object-store schemes that is the SnapshotCas
    // provider (casPutFile's non-file branch is exists-then-rename, the
    // races the SPI exists to kill); rebaseBranch threads it through,
    // and the file-scheme default stays link(2)-atomic
    val put: (org.apache.hadoop.fs.Path, Array[Byte]) => Boolean =
      Option(putMeta).getOrElse((p, b) => casPutFile(fs, p,
        new org.apache.hadoop.fs.Path(p.getParent,
          s".${p.getName}-restore-${java.util.UUID.randomUUID()}"), b))
    observedBids.foreach(id => fs.delete(snapFile(r, id, name), false))
    val late = snapIds(fs, r, name)
    if (late.nonEmpty) throw new ConcurrentCommitException(
      s"rebase of '$name': branch epoch(s) ${late.mkString(",")} were " +
        "committed DURING the rebase and are not in the replayed " +
        s"intent — they survive untouched (with the fork marker, so the " +
        s"branch stays rebase-able) and the rebased state is staged " +
        s"intact on '$tmp'; re-run the rebase to pick them up")
    // the fork id, read while the marker is still ours: a straggler
    // branch commit (one whose branch-exists check passed before the
    // observed snap files were deleted) can land AFTER the marker
    // delete, and the branch must then be restored to a consistent
    // snap-files-plus-marker state, not left half-dismantled
    val forkId = branchFork(fs, r, name)
    val marker = new org.apache.hadoop.fs.Path(lineageDir(r, name), "fork")
    fs.delete(marker, false)
    val straggler = snapIds(fs, r, name)
    if (straggler.nonEmpty) {
      // restore OUR marker via the CAS (a concurrent createBranch's
      // fresh marker must never be overwritten with the stale fork id);
      // an IO failure of the restore itself is a THIRD outcome — the
      // branch is then markerless, and saying "createBranch took the
      // name" would send the operator down the wrong recovery
      // NonFatal, not just IOException: the SnapshotCas SPI says "throw
      // on IO trouble" without constraining the type — an SDK-backed
      // provider's RuntimeException must not clobber the straggler
      // diagnosis (the operator would never learn the branch is
      // markerless or the fork id to write back)
      val restored: Either[Throwable, Boolean] =
        try Right(put(marker, s"$forkId\n".getBytes("UTF-8")))
        catch { case scala.util.control.NonFatal(e) => Left(e) }
      throw new ConcurrentCommitException(
        s"rebase of '$name': branch epoch(s) ${straggler.mkString(",")} " +
          "were committed during the swap (a commit in flight before " +
          "the lineage emptied) — the epochs survive untouched and " +
          (restored match {
            case Right(true) =>
              s"the fork marker is restored, so the branch stays " +
                "rebase-able; re-run the rebase to pick them up"
            case Right(false) =>
              s"a concurrent createBranch re-took the name (its own fork " +
                s"marker is in place); the old fork id was $forkId — " +
                "resolve the name ownership by hand"
            case Left(io) =>
              s"the fork-marker restore FAILED with IO trouble (${
                io.getMessage}) — the branch is currently markerless; " +
                s"restore it by writing '$forkId' to '$marker', then " +
                "re-run the rebase"
          }) +
          s"; the rebased state is staged intact on '$tmp'")
    }
    // non-recursive delete of the now-empty lineage dir is the final
    // guard: it fails loudly if anything appeared after the straggler
    // re-list. A branch COMMIT can no longer intrude (the lineage is
    // empty AND markerless, so a commit's branch-exists require
    // refuses) — the only possible intruder is a concurrent
    // createBranch's fresh fork marker, and OUR marker is already
    // gone, so the message must not claim the old branch lives.
    val emptied = try fs.delete(lineageDir(r, name), false) catch {
      case _: java.io.IOException => false }
    if (!emptied) throw new ConcurrentCommitException(
      s"rebase of '$name': a concurrent createBranch took the name " +
        "between the swap's leftover check and the rename — the rebased " +
        s"state is staged intact on '$tmp'; resolve the name ownership, " +
        s"then recover it manually (fastForward from '$tmp' or rename " +
        "its lineage into place)")
    require(fs.rename(lineageDir(r, tmp), lineageDir(r, name)),
      s"rebase of '$name': staged lineage '$tmp' failed to rename into " +
        s"place — recover it manually (it holds the rebased state)")
  }

  /** The PENDING change set of a branch — "what would [[fastForward]]
    * publish": [[snapshotChanges]] from main's head (which must still be
    * the branch's fork for the FF to be legal; this does not require it
    * — reviewing a stale branch's drift is also useful) to the branch's
    * head, manifest-pruned across lineages exactly like the in-lineage
    * feed. The review step of branch-audit-publish. */
  def branchDiff(spark: org.apache.spark.sql.SparkSession, root: String,
                 name: String, keys: Seq[String]): DataFrame = {
    require(TagName.matches(name),
      s"bad branch name '$name' — an empty/invalid name would silently " +
        "diff main against itself")
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val mainHead = snapIds(fs, r).lastOption.getOrElse(
      throw new IllegalStateException(s"$root is not snapshot-managed"))
    val branchHead = snapIds(fs, r, name).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $root"))
    snapshotChanges(spark, root, mainHead, branchHead, keys,
      toBranch = name)
  }

  /** Incremental CDC EXTRACT between two committed snapshots — "what
    * changed from epoch `fromId` to epoch `toId`", as [[snapshotDiff]]
    * I/U/D rows, WITHOUT scanning the lake: generations are immutable,
    * so a partition whose manifest entry is IDENTICAL in both epochs
    * provably contributed no change — only partitions whose entry
    * differs (rewritten, added, or dropped) are read, on each side under
    * its own epoch's schema (an evolved column null-fills on the side
    * that predates it; a same-name type conflict is loud). At 10⁴
    * partitions a commit that touched 3 of them diffs exactly 3 — the
    * downstream-feed primitive (incremental index refresh, replication,
    * audit) the Delta/Iceberg changes-feed serves, derived here from
    * the manifests alone. `keys` must be row-unique per epoch (the
    * [[snapshotDiff]] contract); rows never leave a partition without
    * rewriting it, so pruning by entry equality is exact, not a
    * heuristic. `fromId == toId` returns an empty frame; swapping the
    * ids inverts the direction (I↔D). */
  def snapshotChanges(spark: org.apache.spark.sql.SparkSession,
                      root: String, fromId: Int, toId: Int,
                      keys: Seq[String],
                      fromBranch: String = MainBranch,
                      toBranch: String = MainBranch): DataFrame = {
    require(keys.nonEmpty, "snapshotChanges needs at least one key column")
    val mFrom = manifestAt(spark, root, Some(fromId), fromBranch)
    val mTo = manifestAt(spark, root, Some(toId), toBranch)
    val changed = (mFrom.mapping.keySet ++ mTo.mapping.keySet)
      .filter(rel => mFrom.mapping.get(rel) != mTo.mapping.get(rel))
    def side(m: Manifest, id: Int, br: String): DataFrame = {
      val rels = changed.intersect(m.mapping.keySet)
      if (rels.isEmpty) // no changed partition exists in this epoch
        readSnapshot(spark, root, asOf = Some(id), branch = br).limit(0)
      else readSnapshot(spark, root, asOf = Some(id),
        partitionFilter = rels.contains, branch = br)
    }
    val o0 = side(mFrom, fromId, fromBranch)
    val n0 = side(mTo, toId, toBranch)
    // align evolved schemas: a column one epoch lacks null-fills there;
    // same-name TYPE conflicts are a rewrite, not an evolution — loud
    val oTypes = o0.schema.fields.map(f => f.name -> f.dataType).toMap
    val nTypes = n0.schema.fields.map(f => f.name -> f.dataType).toMap
    for ((c, t) <- oTypes; tn <- nTypes.get(c))
      require(t == tn,
        s"column '$c' changed type between snapshots ($t -> $tn) — " +
          "diff the epochs explicitly after a rewrite")
    keys.foreach(k => require(oTypes.contains(k) && nTypes.contains(k),
      s"key column '$k' must exist in BOTH snapshots (a null-filled " +
        "key would misclassify every row as I+D)"))
    val allCols = (n0.schema.fields ++
      o0.schema.fields.filterNot(f => nTypes.contains(f.name))).toSeq
    def align(df: DataFrame, have: Map[String, org.apache.spark.sql
      .types.DataType]): DataFrame =
      df.select(allCols.map(f =>
        if (have.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
    snapshotDiff(align(o0, oTypes), align(n0, nTypes), keys,
      allCols.map(_.name).filterNot(keys.contains))
  }

  /** The lake as a STREAMING source — the PUBLIC face of the
    * Delta-CDF-style feed (the replay gate `q_stream_lake_feed` drives
    * exactly this entry point): a Structured Streaming file source
    * watches the lineage's own manifest files (`snap-*`), so each
    * committed snapshot IS the push signal — no poller, no side
    * channel, checkpointed and replayable like any file stream. Every
    * discovered epoch n invokes `handle(n, changes)` where `changes`
    * is [[snapshotChanges]]`(n-1, n)` — I/U/D rows with `change_type`
    * and `old_*`/`new_*` payloads; the lineage's FIRST epoch
    * bootstraps as the full snapshot in the same shape (all-`I`,
    * `old_*` null). Snapshot ids are dense by the commit protocol, so
    * per-epoch deltas need NO cross-batch state: a restart re-derives
    * exactly the unseen epochs from the checkpoint (commits made while
    * the consumer was down are discovered on the next start).
    *
    * Contracts: `handle` runs with foreachBatch's at-least-once
    * semantics — a crash between `handle` and the checkpoint commit
    * replays the epoch, so fold idempotently (key-upserts/deletes are;
    * appends are not). GC retention must cover consumer lag (the
    * standard CDF contract): a discovered epoch whose predecessor
    * manifest was GC'd fails the stream LOUDLY instead of silently
    * re-basing. Stop via the returned query; pair with
    * [[snapshotChanges]] for ad-hoc batch pulls of the same feed. */
  def changesStream(spark: org.apache.spark.sql.SparkSession, root: String,
                    keys: Seq[String], checkpointLocation: String,
                    branch: String = MainBranch)
                   (handle: (Int, DataFrame) => Unit)
  : org.apache.spark.sql.streaming.StreamingQuery =
    changesStreamEpochs(spark, root, keys, checkpointLocation, branch)(
      (id, _, changes) => handle(id, changes))

  /** [[changesStream]] with the epoch's KIND exposed: `handle(id,
    * isBootstrap, changes)`. A bootstrap frame (all-`I`, the full
    * snapshot) is NOT a delta — an additive consumer (e.g. a
    * maintained aggregate) must REPLACE its state with a bootstrap's
    * fold, never add it on top, and the frame itself is
    * indistinguishable from a pure-insert epoch without this flag
    * (key-upsert consumers absorb either shape and can use the 2-arg
    * face). */
  def changesStreamEpochs(spark: org.apache.spark.sql.SparkSession,
                          root: String, keys: Seq[String],
                          checkpointLocation: String,
                          branch: String = MainBranch)
                         (handle: (Int, Boolean, DataFrame) => Unit)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    require(keys.nonEmpty, "changesStream needs at least one key column")
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val dir = lineageDir(r, branch)
    // a committed lineage must exist BEFORE the stream starts: the
    // bootstrap anchor is resolved in the checkpoint's batch 0, so the
    // first trigger must be able to discover at least one epoch
    require(snapIds(fs, r, branch).nonEmpty, s"$root has no ${
      if (branch.isEmpty) "committed snapshot" else s"branch '$branch'"
    } — commit first, then start the changes stream")
    val dirQ = fs.makeQualified(dir)
    val SnapName = ".*/snap-(\\d{8})$".r
    val feed = spark.readStream
      .option("pathGlobFilter", "snap-*")
      .text(dir.toString)
    feed.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        // epoch ids from file NAMES, scoped to THIS lineage dir (a
        // nested branch lineage's snap files must not leak into main's
        // feed), processed in id order within the batch
        val ids = batch.select(input_file_name().as("f")).distinct()
          .collect().map(_.getString(0)).collect {
            case f @ SnapName(n)
              if fs.makeQualified(new org.apache.hadoop.fs.Path(f))
                .getParent == dirQ => n.toInt
          }.sorted
        // bootstrap anchor: only the FIRST batch of a FRESH consumer
        // (batchId 0 — deterministic across at-least-once replays) may
        // re-base, and it anchors on the NEWEST discovered epoch whose
        // predecessor is not kept — epoch 1 on a virgin lake, the
        // oldest kept epoch on a GC'd one, the fork seed on a branch;
        // older discovered strays (e.g. a tag-pinned ancient epoch
        // surviving a non-contiguous retention) are subsumed by it.
        // After batch 0, a missing predecessor is NEVER silently
        // re-based: the consumer holds folded state, and a re-base
        // would resurrect deleted keys — fail loudly instead.
        // derived from the batch's own id set — batch 0's listing is
        // complete for the lineage, so probing the store one exists()
        // per epoch would be 10⁴ serial round-trips of pure waste (the
        // r18 plan-walk disease); the else-branch exists() below still
        // guards the GC race for every non-anchor epoch
        val idSet = ids.toSet
        val bootId: Option[Int] =
          if (batchId == 0L)
            ids.filter(id => !idSet.contains(id - 1)).lastOption
          else None
        ids.filter(id => bootId.forall(_ <= id)).foreach { id =>
          val changes =
            if (bootId.contains(id)) {
              val snap = readSnapshot(spark, root, asOf = Some(id),
                branch = branch)
              val valCols = snap.columns.filterNot(keys.contains).toSeq
              snap.select(keys.map(col) ++
                Seq(lit("I").as("change_type")) ++
                valCols.flatMap(c => Seq(
                  lit(null).cast(snap.schema(c).dataType).as(s"old_$c"),
                  col(c).as(s"new_$c"))): _*)
            } else {
              if (!fs.exists(snapFile(r, id - 1, branch)))
                throw new IllegalStateException(
                  s"changesStream of $root${
                    if (branch.isEmpty) "" else s" branch '$branch'"
                  }: epoch ${id - 1} is no longer kept, so epoch $id's " +
                    "delta cannot be derived — GC retention must cover " +
                    "consumer lag (keepSnapshots >= lag); re-bootstrap " +
                    "by restarting with a FRESH checkpoint (a new " +
                    "consumer anchors on the oldest kept epoch)")
              snapshotChanges(spark, root, id - 1, id, keys,
                fromBranch = branch, toBranch = branch)
            }
          handle(id, bootId.contains(id), changes)
        }
        ()
      }
      .start()
  }

  /** Incremental VIEW MAINTENANCE, delta half: turn one epoch's I/U/D
    * change frame ([[snapshotChanges]] / [[changesStream]] shape) into
    * per-group aggregate DELTAS — the classic IVM decomposition for
    * the additive aggregates (COUNT, SUM; AVG = sum/count downstream).
    * Each change row contributes its OLD payload negatively (U, D) and
    * its NEW payload positively (I, U), so a row that MOVES groups
    * (an update changing a group column) subtracts from the old group
    * and adds to the new one — the case a naive "group the new values"
    * fold silently corrupts. Output: `groupCols`, `d_rows`, and
    * `d_<c>` per sum column; one union + one partial-agg groupBy, no
    * window, no scan of the lake.
    *
    * At 100 TB this is the point: a corpus-stats table (rows/tokens
    * per language, per source) stays current by folding each commit's
    * manifest-pruned delta — never by re-aggregating the lake.
    *
    * Replay discipline: the fold is ADDITIVE, so applying one epoch's
    * delta twice double-counts — unlike a key-upsert replica, it is
    * NOT naturally idempotent under [[changesStream]]'s at-least-once
    * `handle`. Persist the maintained table together with the last
    * epoch id folded into it and skip `handle(id, _)` when
    * `id <= lastApplied` — epoch ids are dense and ordered by the
    * commit protocol, so this one integer is a complete dedup. */
  def aggregateDelta(changes: DataFrame, groupCols: Seq[String],
                     sumCols: Seq[String], minCols: Seq[String] = Nil,
                     maxCols: Seq[String] = Nil): DataFrame = {
    require(groupCols.nonEmpty, "aggregateDelta needs group columns")
    // MIN/MAX are not additive: the delta can only report, per group,
    // the best INCOMING value (foldable monotonically) and the best
    // OUTGOING one (which tells the merge half whether the stored
    // extremum may have left — the affected-group recompute trigger).
    // A row contributes to the outgoing side only when it actually
    // left the group or changed value (D; U that moved groups; U that
    // changed the value) — an unrelated update must not flag a
    // recompute of an extremum that never moved.
    val mm = (minCols ++ maxCols).distinct
    def typ(c: String) = changes.schema(s"old_$c").dataType
    val unmoved = groupCols.map(g => col(s"old_$g") <=> col(s"new_$g"))
      .reduce(_ && _)
    val minus = changes
      .filter(col("change_type").isin("U", "D"))
      .select(groupCols.map(c => col(s"old_$c").as(c)) ++
        sumCols.map(c => (-col(s"old_$c")).as(s"d_$c")) ++
        sumCols.map(c => when(col(s"old_$c").isNotNull, -1L)
          .otherwise(0L).as(s"dn_$c")) ++
        mm.map(c => when(col("change_type") === "D" || !unmoved ||
          !(col(s"old_$c") <=> col(s"new_$c")), col(s"old_$c"))
          .as(s"__out_$c")) ++
        mm.map(c => lit(null).cast(typ(c)).as(s"__in_$c")) :+
        lit(-1L).as("d_rows"): _*)
    val plus = changes
      .filter(col("change_type").isin("I", "U"))
      .select(groupCols.map(c => col(s"new_$c").as(c)) ++
        sumCols.map(c => col(s"new_$c").as(s"d_$c")) ++
        sumCols.map(c => when(col(s"new_$c").isNotNull, 1L)
          .otherwise(0L).as(s"dn_$c")) ++
        mm.map(c => when(col("change_type") === "I" || !unmoved ||
          !(col(s"old_$c") <=> col(s"new_$c")), col(s"new_$c"))
          .as(s"__in_$c")) ++
        mm.map(c => lit(null).cast(typ(c)).as(s"__out_$c")) :+
        lit(1L).as("d_rows"): _*)
    minus.unionByName(plus)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("d_rows")).as("d_rows"),
        sumCols.map(c => sum(col(s"d_$c")).as(s"d_$c")) ++
          // non-null VALUE counts ride along so the merge half can
          // reproduce SQL sum semantics exactly: a group whose values
          // are all NULL must report sum=NULL, never 0 (additions
          // coalesce nulls away, so without this bookkeeping the
          // maintained table would drift from a full recompute)
          sumCols.map(c => sum(col(s"dn_$c")).as(s"dn_$c")) ++
          minCols.map(c => min(col(s"__in_$c")).as(s"in_min_$c")) ++
          minCols.map(c => min(col(s"__out_$c")).as(s"out_min_$c")) ++
          maxCols.map(c => max(col(s"__in_$c")).as(s"in_max_$c")) ++
          maxCols.map(c => max(col(s"__out_$c")).as(s"out_max_$c")): _*)
  }

  /** Incremental VIEW MAINTENANCE, merge half: fold one epoch's
    * [[aggregateDelta]] into the maintained aggregate table
    * (`groupCols`, `n_rows`, `sum_<c>`, plus `nn_<c>` non-null-value
    * bookkeeping that lets sums go back to SQL-NULL when a group's
    * values are all null). Null-safe full-outer on the
    * group key (a null group is a group, exactly as `groupBy` treats
    * it), adds the deltas, and DROPS groups whose row count reaches
    * zero — the maintained table is always exactly what a full
    * `groupBy(groupCols).agg(count, sum…)` over the current snapshot
    * would produce (the gate row proves that equality against a full
    * recompute oracle). Both sides shuffle only group-cardinality
    * rows; with a small delta Catalyst broadcasts it. Start from
    * [[emptyAggregate]] and fold the bootstrap epoch like any other
    * (all-`I` changes ARE the initial aggregate). */
  def applyAggregateDelta(agg: DataFrame, delta: DataFrame,
                          groupCols: Seq[String],
                          sumCols: Seq[String],
                          minCols: Seq[String] = Nil,
                          maxCols: Seq[String] = Nil,
                          snapshot: Option[DataFrame] = None): DataFrame = {
    val folded = foldAggregate(agg, delta, groupCols, sumCols,
      minCols, maxCols)
    if (minCols.isEmpty && maxCols.isEmpty) return folded
    // MIN/MAX cannot always fold: a delete or group-move that removes
    // a group's extremum needs the affected groups re-aggregated from
    // the POST-epoch snapshot (only those groups, pushdown-pruned)
    require(snapshot.isDefined,
      "maintaining MIN/MAX needs the post-epoch snapshot for the " +
        "affected-group recompute — pass snapshot = Some(readSnapshot" +
        "(spark, root, asOf = Some(<the epoch folded>)))")
    resolveExtrema(folded, snapshot.get, groupCols, minCols, maxCols)
      .getOrElse(folded.drop(rcFlagNames(minCols, maxCols): _*))
  }

  /** The fold half of [[applyAggregateDelta]]: null-safe full-outer on
    * the group key, additive COUNT/SUM, tentative MIN/MAX (monotone
    * `least`/`greatest` with the epoch's incoming values) plus one
    * `__rc_min_<c>`/`__rc_max_<c>` flag per extremum column marking
    * groups whose STORED extremum may have left (an outgoing value
    * reached it) — the affected set [[resolveExtrema]] recomputes. */
  private def foldAggregate(agg: DataFrame, delta: DataFrame,
                            groupCols: Seq[String], sumCols: Seq[String],
                            minCols: Seq[String],
                            maxCols: Seq[String]): DataFrame = {
    // loud migration guard: a maintained table persisted by a build
    // without the nn_<c> bookkeeping cannot be folded correctly (its
    // all-null groups are indistinguishable from zero-sum ones) — name
    // the backfill instead of failing with an unresolved column
    sumCols.foreach(c => require(agg.columns.contains(s"nn_$c"),
      s"maintained aggregate lacks bookkeeping column 'nn_$c' — a " +
        "table persisted by a pre-nn build must be backfilled once " +
        s"(nn_$c = count of non-null '$c' per group, recomputed from " +
        "the snapshot the table currently reflects) before folding"))
    // same discipline for extremum columns added AFTER the table was
    // first maintained: backfill once, never guess
    (minCols.map("min_" -> _) ++ maxCols.map("max_" -> _)).foreach {
      case (pfx, c) => require(agg.columns.contains(s"$pfx$c"),
        s"maintained aggregate lacks extremum column '$pfx$c' — a " +
          s"column added to minCols/maxCols after the table was first " +
          s"maintained must be backfilled once ($pfx$c = " +
          s"${pfx.stripSuffix("_")}('$c') per group, recomputed from " +
          "the snapshot the table currently reflects) before folding")
    }
    val a = agg.alias("a")
    val d = delta.alias("d")
    val on = groupCols.map(c => col(s"a.$c") <=> col(s"d.$c"))
      .reduce(_ && _)
    a.join(d, on, "full_outer")
      .select(groupCols.map(c =>
        coalesce(col(s"a.$c"), col(s"d.$c")).as(c)) ++
        Seq((coalesce(col("a.n_rows"), lit(0L)) +
          coalesce(col("d.d_rows"), lit(0L))).as("n_rows")) ++
        sumCols.map { c =>
          // SQL sum semantics: 0 only if at least one non-null value
          // remains; NULL when the group's values are all null
          val nn = coalesce(col(s"a.nn_$c"), lit(0L)) +
            coalesce(col(s"d.dn_$c"), lit(0L))
          // cast back to the maintained table's own sum type: the
          // coalesce-with-0L addition WIDENS DecimalType precision, so
          // without this the persisted schema would drift one notch per
          // fold until the precision-38 cap NULLs every sum
          when(nn === 0L, lit(null))
            .otherwise(coalesce(col(s"a.sum_$c"), lit(0L)) +
              coalesce(col(s"d.d_$c"), lit(0L)))
            .cast(agg.schema(s"sum_$c").dataType).as(s"sum_$c")
        } ++
        sumCols.map(c => (coalesce(col(s"a.nn_$c"), lit(0L)) +
          coalesce(col(s"d.dn_$c"), lit(0L))).as(s"nn_$c")) ++
        // least/greatest skip nulls, exactly the MIN/MAX null contract
        minCols.map(c =>
          least(col(s"a.min_$c"), col(s"d.in_min_$c")).as(s"min_$c")) ++
        maxCols.map(c =>
          greatest(col(s"a.max_$c"), col(s"d.in_max_$c")).as(s"max_$c")) ++
        minCols.map(c => (col(s"a.min_$c").isNotNull &&
          col(s"d.out_min_$c").isNotNull &&
          col(s"d.out_min_$c") <= col(s"a.min_$c")).as(s"__rc_min_$c")) ++
        maxCols.map(c => (col(s"a.max_$c").isNotNull &&
          col(s"d.out_max_$c").isNotNull &&
          col(s"d.out_max_$c") >= col(s"a.max_$c")).as(s"__rc_max_$c"))
        : _*)
      .filter(col("n_rows") > 0L)
  }

  private def rcFlagNames(minCols: Seq[String],
                          maxCols: Seq[String]): Seq[String] =
    minCols.map(c => s"__rc_min_$c") ++ maxCols.map(c => s"__rc_max_$c")

  /** The recompute half of MIN/MAX maintenance: collect the groups a
    * fold flagged (bounded by the groups whose extremum LEFT this
    * epoch — the same driver-bounded class as a commit's touched
    * partitions), re-aggregate ONLY those from the snapshot, and patch
    * them into the fold. None = nothing flagged, the caller just drops
    * the flags. The snapshot scan carries an `isin` pre-filter over the
    * affected group values, so manifest stats and parquet row groups
    * prune to the files that can hold those groups; exactness comes
    * from the null-safe semi join behind it. */
  private def resolveExtrema(folded: DataFrame, snapshot: DataFrame,
                             groupCols: Seq[String], minCols: Seq[String],
                             maxCols: Seq[String]): Option[DataFrame] = {
    val anyRc = rcFlagNames(minCols, maxCols).map(col).reduce(_ || _)
    val affected = folded.filter(anyRc).select(groupCols.map(col): _*)
    val tuples = affected.distinct().collect()
    if (tuples.isEmpty) return None
    val rec = recomputeExtrema(snapshot, tuples, affected.schema,
      groupCols, minCols, maxCols)
    Some(patchExtrema(folded, rec, groupCols, minCols, maxCols))
  }

  /** min/max of every extremum column for exactly the `tuples` groups,
    * re-aggregated from `snapshot` — `rec_min_<c>`/`rec_max_<c>`. */
  private def recomputeExtrema(snapshot: DataFrame,
                               tuples: Array[org.apache.spark.sql.Row],
                               affSchema: org.apache.spark.sql.types.StructType,
                               groupCols: Seq[String],
                               minCols: Seq[String],
                               maxCols: Seq[String]): DataFrame = {
    val spark = snapshot.sparkSession
    // pushdown pre-filter: per group column, IN over its affected
    // values (NULL groups via isNull) — a sound superset the scan can
    // prune on; the semi join below restores tuple-exactness
    val pre = groupCols.zipWithIndex.map { case (g, i) =>
      val vs = tuples.map(_.get(i)).toSeq.distinct
      val nonNull = vs.filter(_ != null)
      val base =
        if (nonNull.isEmpty) lit(false) else col(g).isin(nonNull: _*)
      if (vs.contains(null)) base || col(g).isNull else base
    }.reduce(_ && _)
    val aff = spark.createDataFrame(
      spark.sparkContext.parallelize(tuples.toIndexedSeq, 1), affSchema)
    val on = groupCols.map(g => col(s"s.$g") <=> col(s"a2.$g"))
      .reduce(_ && _)
    val aggs = minCols.map(c => min(col(c)).as(s"rec_min_$c")) ++
      maxCols.map(c => max(col(c)).as(s"rec_max_$c"))
    snapshot.filter(pre).alias("s")
      .join(broadcast(aff.alias("a2")), on, "left_semi")
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Replace flagged groups' tentative extrema with the recomputed
    * truth; drop the flags. */
  private def patchExtrema(folded: DataFrame, rec: DataFrame,
                           groupCols: Seq[String], minCols: Seq[String],
                           maxCols: Seq[String]): DataFrame = {
    val f = folded.alias("f")
    val r = rec.alias("r")
    val on = groupCols.map(g => col(s"f.$g") <=> col(s"r.$g"))
      .reduce(_ && _)
    val carried = folded.columns.toSeq
      .filterNot(rcFlagNames(minCols, maxCols).contains)
      .filterNot(c => minCols.exists(m => c == s"min_$m") ||
        maxCols.exists(m => c == s"max_$m"))
    f.join(r, on, "left_outer")
      .select(carried.map(c => col(s"f.$c").as(c)) ++
        minCols.map(c => when(col(s"f.__rc_min_$c"), col(s"r.rec_min_$c"))
          .otherwise(col(s"f.min_$c")).as(s"min_$c")) ++
        maxCols.map(c => when(col(s"f.__rc_max_$c"), col(s"r.rec_max_$c"))
          .otherwise(col(s"f.max_$c")).as(s"max_$c")): _*)
  }

  /** The empty maintained-aggregate table for
    * [[applyAggregateDelta]] — built as a zero-row aggregate of a
    * sample so `sum_<c>` carries exactly the widened type Spark's own
    * `sum` would give a full recompute. */
  def emptyAggregate(sample: DataFrame, groupCols: Seq[String],
                     sumCols: Seq[String], minCols: Seq[String] = Nil,
                     maxCols: Seq[String] = Nil): DataFrame =
    sample.limit(0).groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sumCols.map(c => sum(col(c)).as(s"sum_$c")) ++
          sumCols.map(c => count(col(c)).as(s"nn_$c")) ++
          minCols.map(c => min(col(c)).as(s"min_$c")) ++
          maxCols.map(c => max(col(c)).as(s"max_$c")): _*)

  /** Manifest property carrying the last SOURCE epoch folded into a
    * [[maintainAggregate]] state lake — the watermark rides the SAME
    * manifest CAS as the state it describes, so a fold is exactly-once
    * by construction: a crash between the commit and the stream
    * checkpoint replays the epoch, reads the watermark back from the
    * committed state, and skips. */
  private[graft] val IvmEpochProp = "graft.ivm.epoch"
  private[graft] val IvmBucketCol = "bucket"
  /** Snapshots an aggregate table's retention GC keeps: the reader window. */
  private val IvmKeepSnapshots = 10
  /** Names the state layout owns — a user column so named would be
    * silently replaced by the layout's own hash/staging columns. */
  private[graft] val IvmReservedCols: Set[String] =
    Set(IvmBucketCol, "__graft_part")

  /** The shared reserved-name guard for [[maintainAggregate]] and
    * [[ivmFold]]: refuse group/aggregate columns colliding with
    * [[IvmReservedCols]] CASE-INSENSITIVELY — Spark resolves columns
    * case-insensitively by default, so a group column 'Bucket' would be
    * replaced by the layout's `withColumn("bucket", …)` just as surely
    * as 'bucket'. Key columns are deliberately NOT checked:
    * [[aggregateDelta]] drops them before the bucket column is added,
    * so a key named 'bucket' never collides. */
  private def requireNoIvmReserved(groupCols: Seq[String],
                                   sumCols: Seq[String],
                                   minCols: Seq[String],
                                   maxCols: Seq[String]): Unit = {
    val hit = (groupCols ++ sumCols ++ minCols ++ maxCols).distinct
      .filter(c => IvmReservedCols.contains(
        c.toLowerCase(java.util.Locale.ROOT)))
    require(hit.isEmpty,
      s"column(s) ${hit.mkString(", ")} are reserved by the " +
        "maintained-aggregate state layout (bucket partitioning; " +
        "matched case-insensitively, the way Spark resolves columns) — " +
        "rename or alias them in the lake before maintaining")
  }

  /** (state-lake snapshot id, last folded source epoch) of a
    * [[maintainAggregate]] table — (None, 0) before the first fold.
    * A committed state WITHOUT the watermark prop means something else
    * committed to the state lake (a foreign writer, or a manual DML):
    * the maintainer can no longer prove what its state reflects, so it
    * fails loudly instead of guessing. */
  private[graft] def ivmLastEpoch(spark: org.apache.spark.sql.SparkSession,
                                  tableDir: String): (Option[Int], Int) =
    currentSnapshotId(spark, tableDir) match {
      case None => (None, 0)
      case s @ Some(sid) =>
        manifestAt(spark, tableDir, Some(sid)).props.get(IvmEpochProp) match {
          case Some(v) => (s, v.toInt)
          case None => throw new IllegalStateException(
            s"maintained aggregate $tableDir: state snapshot $sid " +
              s"carries no '$IvmEpochProp' watermark — the state lake " +
              "was committed outside maintainAggregate, so the folded " +
              "epochs can no longer be proven; rollbackSnapshot to the " +
              "last maintainer-committed epoch, or re-bootstrap with a " +
              "fresh tableDir and checkpoint")
        }
    }

  /** Fold ONE source epoch into a [[maintainAggregate]] state lake —
    * the per-epoch unit the streaming face drives, factored out so the
    * replay/gap/desync discipline is directly testable. Exactly-once
    * under at-least-once delivery: the watermark ([[IvmEpochProp]])
    * commits in the same manifest CAS as the folded state, so a
    * replayed epoch (`id <=` watermark) is skipped and a crashed fold
    * left no watermark to skip on. Non-bootstrap epochs must be DENSE
    * (`id == watermark + 1`): a gapped delta — a misordered or lossy
    * source listing — would silently drop the intervening epochs'
    * changes, so it fails loudly instead. Writes touch ONLY the hash
    * buckets containing changed groups (plus, on a bootstrap REPLACE,
    * empty rewrites of stale buckets); untouched buckets' manifest
    * entries carry over without a byte of I/O. */
  private[graft] def ivmFold(spark: org.apache.spark.sql.SparkSession,
                             root: String, branch: String,
                             tableDir: String, groupCols: Seq[String],
                             sumCols: Seq[String], minCols: Seq[String],
                             maxCols: Seq[String], id: Int,
                             isBootstrap: Boolean, diff: DataFrame,
                             buckets: Int): Unit = {
    requireNoIvmReserved(groupCols, sumCols, minCols, maxCols)
    val (stateId, last) = ivmLastEpoch(spark, tableDir)
    if (id <= last) return // at-least-once replay: folded exactly once
    if (!isBootstrap) {
      // a DELTA with no committed state to fold onto is a checkpoint/
      // tableDir desync (table relocated or cleared while the
      // checkpoint survived) — folding it onto empty would serve a
      // plausibly-shaped but WRONG table
      if (last == 0) throw new IllegalStateException(
        s"maintainAggregate on $tableDir: epoch $id arrived as a " +
          "delta but the table holds no committed state — the " +
          "checkpoint and tableDir are out of sync; restart with a " +
          "FRESH checkpoint so the stream re-bootstraps")
      if (id != last + 1) throw new IllegalStateException(
        s"maintainAggregate on $tableDir: epoch $id arrived after " +
          s"watermark $last — epochs ${last + 1}..${id - 1} were never " +
          "delivered (a lossy or misordered source listing); folding " +
          "over the gap would silently drop their changes. Re-bootstrap " +
          "with a fresh checkpoint, or re-deliver the missing epochs")
    }
    val td = new org.apache.hadoop.fs.Path(tableDir)
    val delta = aggregateDelta(diff, groupCols, sumCols, minCols, maxCols)
      .withColumn(IvmBucketCol,
        pmod(xxhash64(groupCols.map(col): _*), lit(buckets.toLong)))
    // pin the delta ONCE: the per-bucket fan-out and the touched-bucket
    // collect below must not re-run the upstream diff plan per bucket
    // (the mergeSnapshot delta-pinning rationale)
    delta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var recPinned: Option[DataFrame] = None
    var foldsPinned: Seq[DataFrame] = Nil
    // retention GC (the newest 10 snapshots), shared by the narrow and
    // wide write paths: the walk is O(stateBuckets), so it SKIPS while
    // nothing is over retention
    def maybeGc(): Unit = {
      val kept = snapIds(fsOf(spark, td), td)
      if (kept.size > IvmKeepSnapshots) { snapshotGc(spark, tableDir, IvmKeepSnapshots); () }
    }
    try {
      // bounded by min(changed groups, buckets) — never rows
      val touched: Seq[Long] = delta.select(col(IvmBucketCol)).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      val man = stateId.map(sid => manifestAt(spark, tableDir, Some(sid)))
      // a BOOTSTRAP epoch is the full snapshot, not a delta: it
      // REPLACES the table (folds onto empty) — adding it on top of a
      // stale state (a maintainer resumed with a fresh checkpoint
      // after GC) would double-count every carried row
      val replace = isBootstrap || stateId.isEmpty
      def emptyState = {
        // type the empty table from the delta's own new_* columns
        val sample = diff.select(
          (groupCols ++ sumCols ++ minCols ++ maxCols).distinct
            .map(c => col(s"new_$c").as(c)): _*)
        emptyAggregate(sample, groupCols, sumCols, minCols, maxCols)
      }
      val touchedRels = touched.map(v => s"$IvmBucketCol=$v")
      // a WIDE bootstrap (every bucket populated) must not pay one
      // Spark write job per bucket — at 10³ buckets that is 10³ job
      // round-trips for one logical write. REPLACE epochs touching at
      // least `graft.lake.ivm.wideWriteMinBuckets` buckets write the
      // whole state in ONE hive-staged job instead (the
      // repartitionSnapshot recipe: partitionBy into a stage dir under
      // the lake's metadata dir, rename each value dir into place as a
      // writer-unique generation, commit the manifest wholesale — a
      // crash leaves a stage-* relic snapshotGc reclaims). Delta
      // epochs never take this path: they are narrow by design.
      val wideMin = spark.conf
        .get("graft.lake.ivm.wideWriteMinBuckets", "64").toInt
      if (replace && touched.size >= wideMin) {
        wideReplaceState(spark, td, foldAggregate(emptyState, delta,
          groupCols, sumCols, minCols, maxCols)
          .drop(rcFlagNames(minCols, maxCols): _*)
          .withColumn(IvmBucketCol,
            pmod(xxhash64(groupCols.map(col): _*), lit(buckets.toLong))),
          stateId.getOrElse(0), Map(IvmEpochProp -> id.toString))
        maybeGc()
        return
      }
      val folds = touched.zip(touchedRels).map { case (v, rel) =>
        val cur =
          if (replace) emptyState
          else if (man.get.mapping.contains(rel))
            readPart(spark, man.get, tableDir, rel)
          else emptyState // first group hashed into this bucket
        (v, rel, foldAggregate(cur,
          delta.filter(col(IvmBucketCol) === v), groupCols, sumCols,
          minCols, maxCols))
      }
      // MIN/MAX resolution is SHARED across buckets: ONE affected-set
      // collect over all folds and ONE pushdown-pruned recompute scan
      // of the post-epoch snapshot — never a snapshot scan per bucket.
      // The folds are PINNED for it: the affected-set collect and the
      // commit's write would otherwise each evaluate every bucket's
      // full-outer fold join (2× the dominant per-epoch cost)
      val flagNames = rcFlagNames(minCols, maxCols)
      if (flagNames.nonEmpty) {
        folds.foreach(_._3.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        foldsPinned = folds.map(_._3)
      }
      val patched: Seq[(String, DataFrame)] =
        if (flagNames.isEmpty)
          folds.map { case (v, rel, f) =>
            rel -> f.withColumn(IvmBucketCol, lit(v)) }
        else {
          val anyRc = flagNames.map(col).reduce(_ || _)
          val affected = folds.map { case (_, _, f) =>
            f.filter(anyRc).select(groupCols.map(col): _*) }
            .reduce(_.unionByName(_))
          val tuples = affected.distinct().collect()
          if (tuples.isEmpty)
            folds.map { case (v, rel, f) =>
              rel -> f.drop(flagNames: _*)
                .withColumn(IvmBucketCol, lit(v)) }
          else {
            val rec = recomputeExtrema(
              readSnapshot(spark, root, asOf = Some(id), branch = branch),
              tuples, affected.schema, groupCols, minCols, maxCols)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            recPinned = Some(rec)
            folds.map { case (v, rel, f) =>
              rel -> patchExtrema(f, rec, groupCols, minCols, maxCols)
                .withColumn(IvmBucketCol, lit(v)) }
          }
        }
      // a bootstrap REPLACE must also empty out stale buckets the new
      // snapshot no longer populates — a carried-over bucket would
      // resurrect pre-GC groups
      val stale =
        if (!replace) Nil
        else man.map(_.mapping.keySet -- touchedRels).getOrElse(
          Set.empty[String]).toSeq.sorted.map(rel =>
          rel -> emptyState.withColumn(IvmBucketCol, lit(0L)).limit(0))
      val writes = patched ++ stale
      val props = Map(IvmEpochProp -> id.toString)
      if (writes.isEmpty) {
        // an epoch whose diff folds to zero group deltas (a content-
        // identical rewrite) still must advance the watermark, or the
        // NEXT epoch trips the gap guard: commit the current manifest
        // verbatim with the new watermark — metadata-only, zero data IO
        stateId match {
          case Some(sid) => commitManifest(spark, tableDir,
            manifestAt(spark, tableDir, Some(sid)).copy(props = props),
            sid)
          case None => // bootstrap of an EMPTY lake: commit a typed,
            // zero-row bucket so the state (and its schema) exists
            commitSnapshot(spark, tableDir,
              Seq(s"$IvmBucketCol=0" ->
                emptyState.withColumn(IvmBucketCol, lit(0L)).limit(0)),
              expectedSnapshot = Some(0), props = props)
        }
        ()
      } else {
        commitSnapshot(spark, tableDir, writes,
          expectedSnapshot = Some(stateId.getOrElse(0)), props = props)
        ()
      }
      // retention: snapshot-isolated readers hold the manifest they
      // resolved, so the race window is the kept-epoch count — default
      // 10 epochs of lag headroom (vs the fixed 2 of the pre-r20
      // layout); 0 disables so an operator can own the GC cadence
      maybeGc()
    } finally {
      foldsPinned.foreach(_.unpersist(blocking = false))
      recPinned.foreach(_.unpersist(blocking = false))
      delta.unpersist(blocking = false)
    }
  }

  /** Write a REPLACE epoch's whole state in ONE Spark job: hive-staged
    * `partitionBy(bucket)` under the state lake's metadata dir, each
    * staged value dir renamed into place as a writer-unique generation,
    * then one wholesale manifest commit (stale buckets simply absent —
    * no empty rewrites). Bucket values are decimal longs, so hive
    * path-escaping can never diverge. A crash leaves a `stage-*` relic
    * [[snapshotGc]] reclaims past the TTL; old generations stay until
    * retention drops their manifests, like every commit. */
  private def wideReplaceState(spark: org.apache.spark.sql.SparkSession,
                               td: org.apache.hadoop.fs.Path,
                               state: DataFrame, baseId: Int,
                               props: Map[String, String]): Unit = {
    val fs = fsOf(spark, td)
    val u = java.util.UUID.randomUUID()
    val staging = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(td, LakeDir),
      f"stage-${u.getMostSignificantBits}%016x${
        u.getLeastSignificantBits}%016x")
    // repartition ON the bucket before the dynamic-partition write:
    // without it every task opens a file in every bucket dir it sees
    // (tasks × buckets small files — the classic dynamic-partition
    // write trap); with it each bucket lands in exactly one file
    state.withColumn("__graft_part", col(IvmBucketCol))
      .repartition(col("__graft_part"))
      .write.partitionBy("__graft_part").mode("overwrite")
      .parquet(staging.toString)
    // ONE writer-unique generation name for the whole staged write
    // (names only need uniqueness per partition dir) — the shared name
    // is also the observable mark of the one-job path
    val gen = snapGenName()
    val updated = fs.listStatus(staging).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("__graft_part="))
      .map(_.getPath.getName.stripPrefix("__graft_part=")).sorted
      .map { v =>
        val rel = s"$IvmBucketCol=$v"
        val part = new org.apache.hadoop.fs.Path(td, rel)
        fs.mkdirs(part)
        require(fs.rename(
          new org.apache.hadoop.fs.Path(staging, s"__graft_part=$v"),
          new org.apache.hadoop.fs.Path(part, gen)),
          s"staging rename into $rel/$gen failed")
        plantSentinelIfBare(fs, part)
        rel -> gen
      }
    require(updated.nonEmpty,
      "wide replace produced an empty state — a bootstrap epoch always " +
        "carries rows (ivmFold routes empty epochs elsewhere)")
    val files: Map[String, Seq[FileEntry]] = parMap(updated, 16,
      "graft-ivm-wide-list",
      scala.concurrent.duration.Duration(metaIoTimeoutSec(fs), "s")) {
      case (rel, gen) => rel -> fileEntries(fs, dataDir(td, rel, gen))
    }.toMap
    fs.delete(staging, true)
    plantSentinelIfBare(fs, td)
    commitManifest(spark, td.toString,
      Manifest(updated.toMap, Some(state.schema), files = files,
        props = props), baseId)
    ()
  }

  /** The PRODUCTION face of IVM-over-the-feed: a continuously
    * maintained aggregate TABLE driven by [[changesStream]] — each
    * committed lake epoch folds its [[aggregateDelta]] into a snapshot
    * LAKE under `tableDir`, with the replay discipline the primitives
    * demand built in ([[ivmFold]]). The state is bucket-partitioned on
    * `pmod(xxhash64(groupCols), stateBuckets)`, so one epoch REWRITES
    * ONLY the buckets containing changed groups — per-epoch work is
    * O(changed buckets × bucket size), never O(total groups) — and
    * commits atomically with the last-folded-epoch watermark riding
    * the same manifest CAS (crash-safe exactly-once, no marker files).
    * Readers ([[readAggregate]]) are snapshot-isolated: they resolve a
    * committed manifest whose generations GC keeps for 10 epochs, and
    * time travel over the state's own history comes free.
    *
    * Beyond the additive COUNT/SUM family (AVG = sum/count
    * downstream), `minCols`/`maxCols` maintain per-group MIN/MAX by
    * AFFECTED-GROUP RECOMPUTE: incoming values fold monotonically, and
    * only the groups whose stored extremum may have LEFT in an epoch
    * (a delete or group-move reaching it) re-aggregate from the
    * post-epoch snapshot — one pushdown-pruned scan per epoch, never a
    * re-aggregation of untouched groups. Pass the SAME column sets
    * every epoch (a column added later must be backfilled once — the
    * fold names the recipe).
    *
    * Scale regime: group cardinality is bounded only by the bucket
    * layout — size `graft.lake.ivm.stateBuckets` (default 16, pinned
    * at table creation) so ONE bucket's groups fit an executor
    * comfortably (10⁷ groups → 1024 buckets ≈ 10⁴ rows per rewrite).
    * The delta side is manifest-pruned and tracks CHANGED rows, not
    * lake size. Stop via the returned query. */
  def maintainAggregate(spark: org.apache.spark.sql.SparkSession,
                        root: String, keys: Seq[String],
                        groupCols: Seq[String], sumCols: Seq[String],
                        tableDir: String, checkpointLocation: String,
                        branch: String = MainBranch,
                        minCols: Seq[String] = Nil,
                        maxCols: Seq[String] = Nil)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    // eager argument validation — a bad column must fail HERE, not as
    // an AnalysisException inside the stream thread three layers down
    require(groupCols.nonEmpty, "maintainAggregate needs group columns")
    // the state layout owns the bucket-partition namespace: a group/
    // aggregate column with one of these names would be silently
    // REPLACED by the layout's own hash column before the fold (groups
    // collapsing onto hash values — a green stream serving a wrong
    // table), so refuse it here by name
    requireNoIvmReserved(groupCols, sumCols, minCols, maxCols)
    val keyOverlap = (groupCols ++ sumCols ++ minCols ++ maxCols).toSet
      .intersect(keys.toSet)
    require(keyOverlap.isEmpty,
      s"group/sum/min/max columns ${keyOverlap.mkString(", ")} are KEY " +
        "columns — the changes frame carries keys bare (no old_/new_ " +
        "faces), so they cannot be grouped or aggregated; aggregate " +
        "over non-key payload columns")
    // eager SCHEMA validation: the lineage must exist before the
    // stream starts, so one (cached) manifest read resolves the
    // committed schema — a typo'd column is named HERE, synchronously
    manifestAt(spark, root, None, branch).schema.foreach { sc =>
      val missing = (keys ++ groupCols ++ sumCols ++ minCols ++ maxCols)
        .distinct.filterNot(sc.fieldNames.contains)
      require(missing.isEmpty,
        s"column(s) ${missing.mkString(", ")} not in the committed " +
          s"schema of $root (${sc.fieldNames.mkString(", ")})")
      sumCols.foreach(c => require(
        sc(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"sum column '$c' is ${sc(c).dataType.simpleString} — SUM " +
          "maintains numeric columns only"))
      (minCols ++ maxCols).distinct.foreach(c => require(
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(sc(c).dataType),
        s"min/max column '$c' is ${sc(c).dataType.simpleString} — " +
          "MIN/MAX maintain orderable columns only"))
    }
    val td = new org.apache.hadoop.fs.Path(tableDir)
    val fs = fsOf(spark, td)
    val buckets = spark.conf.get("graft.lake.ivm.stateBuckets", "16").toInt
    require(buckets >= 1, s"graft.lake.ivm.stateBuckets must be >= 1")
    // provenance: a maintained table is bound to ONE (lake, branch) and
    // ONE bucket layout — pointing an existing tableDir at a different
    // lake would silently skip epochs (bare-integer dedup) or
    // cross-fold two lakes' deltas, and changing the bucket count would
    // split existing groups across buckets
    val prov = new org.apache.hadoop.fs.Path(td, "_lake")
    val provText = s"${fs.makeQualified(new org.apache.hadoop.fs.Path(
      root))}\t$branch\t$buckets\n"
    // the pin itself goes through the metadata CAS: two concurrent
    // FIRST maintainers with different confs must not both "win" an
    // exists-then-create race and cross-fold incompatible bucket
    // layouts — exactly one creates the pin, the other validates
    // against it like any later maintainer
    val existing =
      if (fs.exists(prov)) Some(readText(fs, prov))
      else {
        fs.mkdirs(td)
        if (casPutMeta(spark, fs, prov, provText.getBytes("UTF-8"))) None
        else Some(readText(fs, prov)) // lost the first-maintainer race
      }
    existing.foreach { ex =>
      require(ex.count(_ == '\t') >= 2,
        s"aggregate table $tableDir uses the pre-r20 t<epoch> state " +
          "layout — re-bootstrap it with a FRESH tableDir and " +
          "checkpoint (the lake-backed layout is not migratable in " +
          "place)")
      require(ex == provText,
        s"aggregate table $tableDir was maintained as '${
          ex.trim.split("\t").mkString("', '")}' (lake, branch, " +
          s"stateBuckets) — refusing '${provText.trim.split("\t")
            .mkString("', '")}'; use a fresh tableDir per (lake, " +
          "branch), and never change graft.lake.ivm.stateBuckets on an " +
          "existing table")
    }
    changesStreamEpochs(spark, root, keys, checkpointLocation, branch) {
      (id, isBootstrap, diff) =>
        ivmFold(spark, root, branch, tableDir, groupCols, sumCols,
          minCols, maxCols, id, isBootstrap, diff, buckets)
    }
  }

  /** The current state of a [[maintainAggregate]] table: a LAZY
    * snapshot-lake read of the newest committed state (bucket column
    * dropped). Snapshot-isolated — the resolved manifest's generations
    * survive 10 further maintenance epochs before GC can reclaim them,
    * so act on the result within that window (or persist/collect it)
    * when the maintainer runs concurrently. Time travel over the state's own
    * history: `readSnapshot(spark, tableDir, asOf = …)`. */
  def readAggregate(spark: org.apache.spark.sql.SparkSession,
                    tableDir: String): DataFrame = {
    require(currentSnapshotId(spark, tableDir).nonEmpty,
      s"$tableDir holds no committed aggregate state yet")
    readSnapshot(spark, tableDir).drop(IvmBucketCol)
  }

  /** Snapshot GC: keep the newest `keepSnapshots` manifests, delete
    * older ones, then delete every generation directory (under the root
    * and its partition dirs) no kept manifest references — superseded
    * data AND crash relics of never-committed writes. A reader of a
    * kept snapshot is never affected; time travel past the kept window
    * is gone by design (the retention policy is the cadence contract of
    * every resolution, [[compactFiles]]' included). Returns (snapshots
    * deleted, data dirs deleted). */
  def snapshotGc(spark: org.apache.spark.sql.SparkSession, root: String,
                 keepSnapshots: Int = 2): (Int, Int) = {
    require(keepSnapshots >= 1, s"must keep >= 1 snapshot, got $keepSnapshots")
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, r)
    val ids = snapIds(fs, r)
    require(ids.nonEmpty, s"$root is not snapshot-managed")
    // tagged epochs are PINNED: their manifests (and so every generation
    // they reference) survive any retention window until untagged
    val tagged = listTags(spark, root).map(_._2).toSet
    val (drop0, keep0) = ids.splitAt(math.max(0, ids.size - keepSnapshots))
    val drop = drop0.filterNot(tagged.contains)
    val keep = keep0 ++ drop0.filter(tagged.contains)
    // BRANCH lineages get the same retention window each (tags pin MAIN
    // ids only); kept branch manifests pin their generations like main's
    val branchKept: Seq[(String, Int)] =
      listBranches(spark, root).map(_._1).flatMap { br =>
        val bids = snapIds(fs, r, br)
        val (bd, bk) = bids.splitAt(math.max(0, bids.size - keepSnapshots))
        bd.foreach(id => fs.delete(snapFile(r, id, br), false))
        bk.map(br -> _)
      }
    // crash relics of repartitionSnapshot stagings: reclaim them here —
    // but only past a TTL, so a GC scheduled while a LIVE repartition is
    // mid-write (its staging is hours of whole-lake rewrite) cannot
    // destroy it; a real crash relic just waits one retention period
    val stageTtlMs = spark.conf
      .get("graft.lake.stageRelicTtlMs", (24L * 3600 * 1000).toString).toLong
    val now = System.currentTimeMillis()
    // relic = no activity ANYWHERE in the staging subtree for a TTL: the
    // top dir's own mtime freezes at job start (the committer writes
    // under _temporary until job commit), so a live long write is only
    // visible in its nested files' mtimes
    def newestMtime(p: org.apache.hadoop.fs.Path): Long = {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +: fs.listStatus(p).toSeq
        .map(c => newestMtime(c.getPath))).max
    }
    val lakeDir = new org.apache.hadoop.fs.Path(r, LakeDir)
    if (fs.exists(lakeDir))
      fs.listStatus(lakeDir).filter(st =>
        st.isDirectory && st.getPath.getName.startsWith("stage-") &&
          now - newestMtime(st.getPath) > stageTtlMs)
        .foreach(st => fs.delete(st.getPath, true))
    // qualified on BOTH sides: listStatus returns scheme-qualified URIs
    // while caller paths may be bare — a string mismatch here would GC
    // live data
    // staged (write-audit-publish) manifests pin their generations too:
    // an un-published stage must survive GC until published or abandoned
    val stagedRefs: Set[String] = listStaged(spark, root).flatMap {
      case (token, _) =>
        // a concurrent publish/abandon may consume the stage between the
        // listing and this read — a vanished stage pins nothing; do not
        // abort the whole GC over it
        try readManifest(fs, stagedFile(r, token)).mapping.toSeq
          .map { case (rel, gen) =>
            fs.makeQualified(dataDir(r, rel, gen)).toString }
        catch { case _: java.io.FileNotFoundException => Nil }
    }.toSet
    val referenced: Set[String] =
      (keep.map(MainBranch -> _) ++ branchKept).flatMap { case (br, id) =>
        readManifest(fs, snapFile(r, id, br)).mapping.toSeq
          .map { case (rel, gen) =>
            fs.makeQualified(dataDir(r, rel, gen)).toString }
      }.toSet ++ stagedRefs
    // SHARD reclamation: part-* files referenced by any kept root (every
    // lineage) or staged root are pinned; unreferenced ones are relics of
    // dropped epochs or lost CAS races — but only reclaim past the
    // stage-relic TTL, which also covers an in-flight commit's window
    // between its shard writes and its root CAS
    def rootShardRefs(p: org.apache.hadoop.fs.Path): Seq[String] =
      try readText(fs, p).linesIterator
        .filter(_.startsWith("#shard\t")).map(_.split("\t", -1)(1)).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val keptShardRefs: Set[String] =
      ((keep.map(MainBranch -> _) ++ branchKept).map { case (br, id) =>
        snapFile(r, id, br) } ++
        listStaged(spark, root).map { case (t, _) => stagedFile(r, t) })
        .flatMap(rootShardRefs).toSet
    if (fs.exists(lakeDir)) {
      val candidates = fs.listStatus(lakeDir).filter { st =>
        st.isFile && st.getPath.getName.startsWith("part-") &&
          !keptShardRefs.contains(st.getPath.getName) &&
          now - st.getModificationTime > stageTtlMs
      }
      // FRESH pin re-read right before the deletes: a commit landing
      // between the keptShardRefs computation above and here may
      // reference an aged candidate, and on stores WITHOUT a working
      // setTimes/touch its re-arm is invisible to the mtime re-probe
      // below — re-listing the live roots (new heads included) and
      // re-reading their #shard refs closes that side of the race with
      // one GET per kept root, not per shard
      val freshPins: Set[String] =
        if (candidates.isEmpty) Set.empty
        else ((snapIds(fs, r).filterNot(drop.contains)
          .map(snapFile(r, _, MainBranch)) ++
          listBranches(spark, root).map(_._1).flatMap(br =>
            snapIds(fs, r, br).map(snapFile(r, _, br))) ++
          listStaged(spark, root).map { case (t, _) => stagedFile(r, t) })
          .flatMap(rootShardRefs)).toSet
      candidates.filterNot(st => freshPins.contains(st.getPath.getName))
        .foreach { st =>
          // FRESH mtime re-probe right before the delete: a committer
          // re-referencing an aged shard re-arms its mtime (or provider
          // touch) BEFORE its root CAS (putManifest), so a still-aged
          // mtime here proves no commit adopted the shard since our
          // listing — without this, a re-arm landing between the
          // listing above and this delete would be invisible and a
          // just-committed root could lose a shard (putManifest's
          // post-CAS self-heal remains the backstop for stores where
          // neither setTimes nor touch works — the TTL contract in the
          // SnapshotCas scaladoc)
          val fresh = try Some(fs.getFileStatus(st.getPath)) catch {
            case _: java.io.FileNotFoundException => None }
          if (fresh.exists(f =>
            now - f.getModificationTime > stageTtlMs))
            fs.delete(st.getPath, false)
        }
    }
    drop.foreach(id => fs.delete(snapFile(r, id), false))
    // candidate data dirs: every gen-* found by walking the partition
    // tree (BFS that never descends into generations or _-hidden dirs) —
    // covers crash relics in brand-new and nested partition dirs too
    var removed = 0
    val queue = scala.collection.mutable.Queue(r)
    while (queue.nonEmpty) {
      val d = queue.dequeue()
      fs.listStatus(d).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          // generation dirs are underscore-hidden, so match them BEFORE
          // the hidden-dir skip; never descend into them or _-metadata
          if (name.startsWith("_gen-")) {
            if (!referenced.contains(fs.makeQualified(st.getPath).toString)) {
              fs.delete(st.getPath, true)
              removed += 1
            }
          } else if (!name.startsWith("_") && !name.startsWith("."))
            queue.enqueue(st.getPath)
        }
      }
    }
    // pre-adoption loose files at the root are superseded copies no
    // manifest can reference (snapshot data lives in generations) —
    // first GC after adoption reclaims them, and from then on a naive
    // root read must fail loudly instead of returning nothing
    dataFiles(fs, r).foreach(st => fs.delete(st.getPath, false))
    plantSentinelIfBare(fs, r)
    (drop.size, removed)
  }

  /** Compact every DRIFTED entry of a lake — the 100 TB composition:
    * the unit of compaction is one partition, never the whole lake in
    * one job (SCALE.md; `DataQuality.partitionManifest` is the drift
    * detector when comparing snapshots). Entries at or under their
    * byte-implied file target are untouched. Returns one
    * (partitionDir, filesBefore, filesAfter) row per REWRITTEN entry.
    *
    * On a SNAPSHOT-managed lake the drifted entries, read under the
    * current manifest, are rewritten by ONE [[commitSnapshot]] pinned to
    * that base: the sweep flips atomically, readers mid-sweep see the
    * previous snapshot in full, an interrupted sweep leaves only relics
    * for [[snapshotGc]], and a competing commit fails it loudly. Being
    * content-preserving, it carries the schema, the skip layer (stats
    * and blooms recomputed on the manifest's columns) and the `#prop`
    * lines. On a plain hive-partitioned root each `key=value` dir is
    * compacted by [[compactFiles]] (its first compaction adopts it);
    * readers resolve through [[resolveCompacted]]`(root + "/key=value")`. */
  def compactDrifted(spark: org.apache.spark.sql.SparkSession,
                     root: String,
                     targetBytes: Long = 128L << 20): Seq[(String, Int, Int)] = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, rootP)
    if (fs.exists(new org.apache.hadoop.fs.Path(rootP, LakeDir)))
      return sweepSnapshot(spark, root, targetBytes).collect {
        case (rel, before, after, _) if after < before => (rel, before, after)
      }
    fs.listStatus(rootP).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .sortBy(_.getPath.getName)
      .flatMap { st =>
        val (before, after, _) =
          compactFiles(spark, st.getPath.toString, targetBytes)
        Option.when(after < before)((st.getPath.getName, before, after))
      }
  }

  /** The compaction sweep of a snapshot-managed lake: the recorded file
    * lists find the drifted entries, ONE commit rewrites them. Returns
    * (rel, filesBefore, filesAfter, bytes) for EVERY entry. */
  private def sweepSnapshot(spark: org.apache.spark.sql.SparkSession,
                            root: String, targetBytes: Long
                           ): Seq[(String, Int, Int, Long)] = {
    val baseId = currentSnapshotId(spark, root).getOrElse(
      throw new IllegalStateException(s"$root has no committed snapshot"))
    val m = manifestAt(spark, root, Some(baseId))
    val entries = m.mapping.keys.toSeq.sorted.map(rel =>
      (rel, m.files(rel).length, m.files(rel).map(_.len).sum))
    val drifted = entries.filter { case (_, n, bytes) =>
      n > fileTarget(bytes, targetBytes) }
    val after: Map[String, Int] =
      if (drifted.isEmpty) Map.empty
      else {
        val id = commitSnapshot(spark, root,
          drifted.map { case (rel, _, bytes) =>
            rel -> readPart(spark, m, root, rel)
              .repartition(fileTarget(bytes, targetBytes))
          },
          expectedSnapshot = Some(baseId), props = m.props)
        val files = manifestAt(spark, root, Some(id)).files
        drifted.map { case (rel, _, _) => rel -> files(rel).size }.toMap
      }
    entries.map { case (rel, n, bytes) =>
      (rel, n, after.getOrElse(rel, n), bytes) }
  }

  /** OPTIMIZE ZORDER for a snapshot lake — the layout half of the skip
    * story: per-file min/max prune only when files hold TIGHT value
    * ranges, and an append-ordered lake's files overlap on every column
    * except arrival time. This rewrites every partition along the Morton
    * curve of (a, b) ([[graft.sources.Zorder.zValue]] — a pure codegen'd
    * bit-shuffle, no UDF) into range-partitioned sorted files, commits
    * the WHOLE sweep as ONE snapshot (readers mid-optimize see the
    * previous snapshot in full, crash relics GC; the compactDrifted
    * contract), and records fresh per-file stats on the z columns plus
    * any previously committed stats columns — after which a box
    * predicate on EITHER column prunes to a handful of files, the
    * `OPTIMIZE ZORDER BY` semantics of lakehouse table formats.
    *
    * `quantA`/`quantB` pre-quantize wide domains into the significant
    * `bits` (e.g. `_ / 3600e9.toLong` for nano-timestamps → hours);
    * stats stay on the RAW columns, so quantization never affects
    * pruning correctness — only curve locality. Content-preserving:
    * same rows, new layout, and the snapshot's `#prop` lines carry.
    * Returns the committed snapshot id. */
  def zorderSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
                     a: String, b: String,
                     quantA: Column => Column = identity,
                     quantB: Column => Column = identity,
                     bits: Int = 16,
                     targetBytes: Long = 128L << 20,
                     statsCols: Seq[String] = Nil): Int = {
    val baseId = currentSnapshotId(spark, root).getOrElse(
      throw new IllegalStateException(s"$root has no committed snapshot"))
    val man = manifestAt(spark, root, Some(baseId))
    // stats: the z columns (the point of the rewrite) ∪ whatever the
    // lake already tracked ∪ the caller's set (else the session
    // default); bloom columns carry through commitSnapshot's ladder
    val effStats = (Seq(a, b) ++ manifestStatsCols(man) ++
      skipCols(spark, statsCols, Nil, StatsColsConf)).distinct
    val writes = man.mapping.keys.toSeq.sorted.map { rel =>
      val nFiles = fileTarget(man.files(rel).map(_.len).sum, targetBytes)
      val z = graft.sources.Zorder.zValue(
        quantA(col(a)), quantB(col(b)), bits)
      rel -> readPart(spark, man, root, rel).withColumn("__z", z)
        .repartitionByRange(nFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    }
    commitSnapshot(spark, root, writes, expectedSnapshot = Some(baseId),
      statsCols = effStats, props = man.props)
  }

  private def anyDiffers(updAlias: String, dimAlias: String,
                         trackCols: Seq[String]): Column =
    trackCols
      .map(c => !(col(s"$updAlias.$c") <=> col(s"$dimAlias.$c")))
      .reduce(_ || _)

  /** SCD Type-2 dimension maintenance. `dim` is the history table with
    * payload columns plus `valid_from`/`valid_to` (valid_to NULL ⇒
    * current). `updates` is the new snapshot of changed-or-new entities
    * keyed by `key`; `ts` is the effective time of this batch.
    *
    * For each update key: if no current row exists, insert a new current
    * row (valid_from = ts); if the current row differs on any of
    * `trackCols` (null-safely), close it (valid_to = ts) and append the
    * new version; if it is identical on `trackCols`, leave history
    * untouched (idempotent re-delivery). Closed history rows are never
    * rewritten.
    *
    * Plan shape: ONE full-outer hash join of CURRENT rows against the
    * batch on `key` (both sides shuffle-partitioned by the key — full
    * outer cannot broadcast), then a single projection that emits each
    * joined row's 0–2 output versions as an exploded compact array —
    * never a re-read of the join per row class (a naive three-way
    * filter-union would execute the join three times). Closed history
    * rows pass through with no join at all, so the joined cardinality is
    * O(current + batch), not O(history). */
  def scd2Apply(dim: DataFrame, updates: DataFrame, key: String,
                trackCols: Seq[String], ts: Long): DataFrame = {
    val payload = dim.columns.filterNot(c =>
      c == "valid_from" || c == "valid_to").toSeq
    require(updates.columns.sorted.sameElements(payload.sorted),
      s"updates must carry exactly the payload columns ${payload.sorted
        .mkString(",")}, got ${updates.columns.sorted.mkString(",")}")

    val closed = dim.filter(col("valid_to").isNotNull)
    val current = dim.filter(col("valid_to").isNull).alias("d")
    val upd = updates.alias("u")

    val joined = current.join(upd, col(s"d.$key") === col(s"u.$key"),
      "full_outer")
    val changed = anyDiffers("u", "d", trackCols)
    val dKey = col(s"d.$key")
    val uKey = col(s"u.$key")
    def version(side: String, from: Column, to: Column): Column =
      struct(payload.map(c => col(s"$side.$c").as(c)) :+
        from.as("valid_from") :+ to.cast("bigint").as("valid_to"): _*)

    // per joined row: stay-open (no update / no-op), closed-by-change,
    // and the new version (change or brand-new key) — nulls compact away
    val versions = array(
      when(dKey.isNotNull && (uKey.isNull || !changed),
        version("d", col("d.valid_from"), col("d.valid_to"))),
      when(dKey.isNotNull && uKey.isNotNull && changed,
        version("d", col("d.valid_from"), lit(ts))),
      when(uKey.isNotNull && (dKey.isNull || changed),
        version("u", lit(ts), lit(null))))

    closed.select(payload.map(col) :+ col("valid_from")
        :+ col("valid_to"): _*)
      .unionByName(joined
        .select(explode(array_compact(versions)).as("__v"))
        .select(col("__v.*")))
  }

  /** Snapshot diff (CDC extraction): compare two snapshots of a table
    * keyed by `keys` and emit one row per changed key with
    * `change_type` ∈ {"I","U","D"}. Unchanged keys (null-safe equal on
    * every `compareCols`) are dropped. Old/new values of the compared
    * columns come back side by side as `old_<c>` / `new_<c>`.
    *
    * One full-outer hash join on the key — the inverse of [[applyCdc]]:
    * `applyCdc(old, snapshotDiff(old, new) ∪ payload, keys) == new`.
    *
    * Row presence is decided by `lit(true)` MARKER columns planted on
    * each side before the join, never by null-testing a key column — a
    * nullable first key would otherwise misclassify its row as an
    * insert/delete (and note SQL join equality never matches null keys,
    * so a null-keyed row pairs with nothing: it reports as D from the
    * old side and I from the new, the honest reading). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    // the markers are planted with withColumn, which silently REPLACES a
    // same-named input column — a snapshot that happened to carry
    // __in_old with null/false values would misclassify its rows as
    // inserts. Reserved names fail loudly instead.
    for (c <- Seq("__in_old", "__in_new"))
      require(!oldSnap.columns.contains(c) && !newSnap.columns.contains(c),
        s"snapshotDiff: input carries reserved marker column '$c' — " +
          "rename it before diffing (the marker decides row presence)")
    val o = oldSnap.withColumn("__in_old", lit(true)).alias("o")
    val n = newSnap.withColumn("__in_new", lit(true)).alias("n")
    val keyMatch = keys.map(k => col(s"o.$k") === col(s"n.$k"))
      .reduce(_ && _)
    val joined = o.join(n, keyMatch, "full_outer")
    val oldKey = col("o.__in_old")
    val newKey = col("n.__in_new")
    val same = compareCols.map(c => col(s"o.$c") <=> col(s"n.$c"))
      .reduce(_ && _)
    joined
      .withColumn("change_type",
        when(oldKey.isNull, lit("I"))
          .when(newKey.isNull, lit("D"))
          .when(same, lit(null).cast("string"))
          .otherwise(lit("U")))
      .filter(col("change_type").isNotNull)
      .select(
        keys.map(k => coalesce(col(s"n.$k"), col(s"o.$k")).as(k)) ++
          Seq(col("change_type")) ++
          compareCols.flatMap(c => Seq(col(s"o.$c").as(s"old_$c"),
            col(s"n.$c").as(s"new_$c"))): _*)
  }
}

/** FileIndex over a snapshot manifest — the one way a lake read plans
  * ([[Lakehouse.snapshotScan]]). The `FileStatus` objects Spark plans
  * over are SYNTHESIZED from the recorded `#file` lines (generations are
  * immutable, so the lines are authoritative forever): ZERO filesystem
  * calls at plan time, where one blocking `listStatus` per kept dir was
  * O(partitions) driver RPCs before a task could launch. Never
  * refreshes.
  *
  * Data skipping, twice over the same rule ([[prune]]): `declared`
  * caller ranges prune the file list at construction (so `inputFiles`
  * is the surviving set), and Spark's planner hands the scan's pushed
  * data filters to `listFiles`, which drops every file whose committed
  * per-file [min,max] (or bloom sidecar, for point equality) cannot
  * satisfy them. No API change — a plain `df.filter(col("id") > x)` (or
  * the SPARQL compiler's pushed FILTER) skips files exactly like
  * Iceberg/Delta readers do. Catalyst still applies the real predicate;
  * pruning is a strict superset, and filter shapes the extractor doesn't
  * recognize (casts, UDFs, disjunctions) simply skip nothing. Null
  * semantics are automatically correct: a pushed comparison is
  * null-excluding by SQL semantics, so pruning an all-null file under it
  * can never drop a surviving row.
  *
  * Uses the stable-across-minor-versions `execution.datasources`
  * surface (`FileIndex`/`PartitionDirectory`/`HadoopFsRelation`) — the
  * documented extension point table formats plug into. */
private final class ManifestFileIndex(
    spark: org.apache.spark.sql.SparkSession,
    dirs: Seq[(org.apache.hadoop.fs.Path,
      Option[Map[String, Map[String, Lakehouse.ColStat]]],
      Set[String], Seq[Lakehouse.FileEntry])],
    colTypes: Map[String, org.apache.spark.sql.types.DataType],
    declared: Seq[Lakehouse.ColRange])
  extends org.apache.spark.sql.execution.datasources.FileIndex {

  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.execution.datasources.PartitionDirectory

  /** A kept dir: path, per-file stats, bloom columns, files, filesystem. */
  private type Dir = (org.apache.hadoop.fs.Path,
    Option[Map[String, Map[String, Lakehouse.ColStat]]], Set[String],
    Array[org.apache.hadoop.fs.FileStatus], org.apache.hadoop.fs.FileSystem)

  private val byDir: Seq[Dir] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val blockSize = 128L << 20 // advisory only: parquet splits by length
    prune(dirs.map { case (d, st, bl, entries) =>
      val fs = d.getFileSystem(conf)
      val qd = fs.makeQualified(d)
      (d, st, bl, entries.map(e => new org.apache.hadoop.fs.FileStatus(
        e.len, false, 1, blockSize, e.mtime,
        new org.apache.hadoop.fs.Path(qd, e.name))).toArray, fs)
    }, declared)
  }

  override def rootPaths: Seq[org.apache.hadoop.fs.Path] = dirs.map(_._1)
  override def partitionSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Nil)
  override def sizeInBytes: Long = byDir.map(_._4.map(_.getLen).sum).sum
  override def inputFiles: Array[String] =
    byDir.flatMap(_._4.map(_.getPath.toString)).toArray
  override def refresh(): Unit = () // committed generations are immutable

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(org.apache.spark.sql.catalyst.InternalRow.empty,
      prune(byDir, dataFilters.flatMap(boundsOf)).flatMap(_._4).toArray))

  /** `ds` without the files whose committed stats or bloom sidecars
    * prove they hold no row inside every range; dirs without skip
    * metadata are never pruned. The bloom sidecars the point lookups
    * need resolve ONCE across every dir — parallel fetch + byte-bounded
    * LRU cache ([[Lakehouse.prefetchBloomSidecars]]), never one blocking
    * read per dir. */
  private def prune(ds: Seq[Dir], ranges: Seq[Lakehouse.ColRange]): Seq[Dir] = {
    if (ranges.isEmpty) return ds
    val pointCols = Lakehouse.bloomPoints(ranges).map(_._1).toSet
    val withBlooms = ds.filter(_._3.exists(pointCols.contains))
    val resolved =
      if (withBlooms.isEmpty) Map.empty[(String, String),
        Map[String, org.apache.spark.util.sketch.BloomFilter]]
      else Lakehouse.prefetchBloomSidecars(withBlooms.head._5,
        withBlooms.flatMap { case (d, _, blooms, _, _) =>
          blooms.intersect(pointCols).toSeq.map(c => (d, c)) })
    ds.map {
      case (d, stOpt, blooms, files, fs) if stOpt.isDefined || blooms.nonEmpty =>
        val keepB = Lakehouse.bloomKeep(resolved,
          fs.makeQualified(d).toString, blooms, ranges)
        (d, stOpt, blooms, files.filter { f =>
          val name = f.getPath.getName
          stOpt.forall(_.get(name).forall(cm =>
            Lakehouse.rangeSurvives(cm, ranges, colTypes))) && keepB(name)
        }, fs)
      case dir => dir // no skip metadata: never pruned
    }
  }

  /** The attribute under a pushed comparison — bare, or wrapped in a
    * cast the type coercion rules inserted, accepted ONLY when the cast
    * is an EXACT monotone widening of the column's committed type
    * (every value representable, order preserved): then a bound in the
    * cast's domain compares faithfully against column-domain stats in
    * BigDecimal space. Inexact widenings (long→double rounds,
    * string→numeric reorders, TRY casts) extract nothing — safe. */
  private object AttrCast {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case Cast(a: AttributeReference, dt, _, _)
        if colTypes.get(a.name).exists(ct => exactWidening(ct, dt)) =>
        Some(a)
      case _ => None
    }
  }

  private def exactWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType |
                      FloatType | DoubleType) => true
      case (ShortType, IntegerType | LongType | FloatType | DoubleType) =>
        true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType)              => true
      case _                                    => false
    }
  }

  /** Conjunctive bounds a pushed filter implies, in [[Lakehouse.ColRange]]
    * form. Only (possibly exact-widened) attribute-vs-literal comparisons
    * on a stats-typed column extract; everything else contributes nothing
    * (no pruning — safe). */
  private def boundsOf(e: Expression): Seq[Lakehouse.ColRange] = e match {
    case And(l, r) => boundsOf(l) ++ boundsOf(r)
    case EqualTo(AttrCast(a), Literal(v, dt)) =>
      bound(a.name, dt, v).toSeq.flatMap(b =>
        Seq(Lakehouse.ColRange(a.name, Some(b), Some(b))))
    case EqualTo(Literal(v, dt), AttrCast(a)) =>
      bound(a.name, dt, v).toSeq.flatMap(b =>
        Seq(Lakehouse.ColRange(a.name, Some(b), Some(b))))
    case EqualNullSafe(AttrCast(a), Literal(v, dt)) if v != null =>
      bound(a.name, dt, v).toSeq.flatMap(b =>
        Seq(Lakehouse.ColRange(a.name, Some(b), Some(b))))
    case GreaterThan(AttrCast(a), Literal(v, dt)) =>
      bound(a.name, dt, v).map(b =>
        Lakehouse.ColRange(a.name, lower = Some(b))).toSeq
    case GreaterThanOrEqual(AttrCast(a), Literal(v, dt)) =>
      bound(a.name, dt, v).map(b =>
        Lakehouse.ColRange(a.name, lower = Some(b))).toSeq
    case LessThan(AttrCast(a), Literal(v, dt)) =>
      bound(a.name, dt, v).map(b =>
        Lakehouse.ColRange(a.name, upper = Some(b))).toSeq
    case LessThanOrEqual(AttrCast(a), Literal(v, dt)) =>
      bound(a.name, dt, v).map(b =>
        Lakehouse.ColRange(a.name, upper = Some(b))).toSeq
    // literal-on-the-left comparisons flip the bound direction
    case GreaterThan(Literal(v, dt), AttrCast(a)) =>
      bound(a.name, dt, v).map(b =>
        Lakehouse.ColRange(a.name, upper = Some(b))).toSeq
    case GreaterThanOrEqual(Literal(v, dt), AttrCast(a)) =>
      bound(a.name, dt, v).map(b =>
        Lakehouse.ColRange(a.name, upper = Some(b))).toSeq
    case LessThan(Literal(v, dt), AttrCast(a)) =>
      bound(a.name, dt, v).map(b =>
        Lakehouse.ColRange(a.name, lower = Some(b))).toSeq
    case LessThanOrEqual(Literal(v, dt), AttrCast(a)) =>
      bound(a.name, dt, v).map(b =>
        Lakehouse.ColRange(a.name, lower = Some(b))).toSeq
    // IN prunes by the ENVELOPE [min(values), max(values)] — a sound
    // range relaxation (a file whose [min,max] misses the envelope can
    // hold no member); null members never match anything, so they drop
    // from the envelope rather than disabling it. This is what makes an
    // affected-group recompute (isin over the changed group keys) open
    // only the files that can hold those groups.
    case In(c @ AttrCast(a), vs)
      if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      val nonNull = vs.collect {
        case Literal(v, dt) if v != null => (v, dt) }
      envelope(a.name, nonNull)
    case InSet(c @ AttrCast(a), hset) if hset.nonEmpty =>
      envelope(a.name,
        hset.toSeq.filter(_ != null).map(v => (v, c.dataType)))
    case _ => Nil
  }

  /** [min,max] envelope of IN-list members, as one [[Lakehouse.ColRange]].
    * Members must share one type and every one must convert to a stats
    * bound; otherwise no pruning (safe). */
  private def envelope(name: String,
                       values: Seq[(Any, org.apache.spark.sql.types
                         .DataType)]): Seq[Lakehouse.ColRange] = {
    if (values.isEmpty) return Nil
    val dt = values.head._2
    if (!values.forall(_._2 == dt)) return Nil
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(dt)
    val vs = values.map(_._1)
    (bound(name, dt, vs.min(ord)), bound(name, dt, vs.max(ord))) match {
      case (Some(lo), Some(hi)) =>
        Seq(Lakehouse.ColRange(name, Some(lo), Some(hi)))
      case _ => Nil
    }
  }

  /** Catalyst INTERNAL literal → a [[Lakehouse.StatsCodec]] bound. Exact
    * match on the column's committed type handles every stats type; a
    * numeric literal in an [[exactWidening]] of the column's numeric
    * type is also faithful (the codec compares numerics in BigDecimal
    * space, and the widening is value- and order-exact). Anything else
    * is outside the column's domain — skip (no pruning). */
  private def bound(name: String,
                    dt: org.apache.spark.sql.types.DataType,
                    v: Any): Option[Any] = {
    import org.apache.spark.sql.types._
    if (v == null) return None
    val ct = colTypes.get(name).getOrElse(return None)
    if (ct != dt) {
      return (ct, dt) match {
        case (f: NumericType, t) if exactWidening(f, t) =>
          Some(v match {
            case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
            case other                                 => other
          })
        case _ => None
      }
    }
    dt match {
      case StringType => Some(v.toString) // UTF8String → String
      case DateType => Some(
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString)
      case TimestampType | TimestampNTZType =>
        Some(v.asInstanceOf[Long]) // epoch micros, the codec's domain
      case _: DecimalType =>
        Some(v.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal)
      case _: NumericType => Some(v) // boxed primitives are Numbers
      case _ => None
    }
  }
}
