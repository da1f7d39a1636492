package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Everything a workload feeds the engine comes
  * from here and depends only on the seed: the same seed gives the same
  * tables, request sequences, upsert batches and corpus. */
object Gen {

  // ---- TPC-H-shaped tables (the `TpchCatalog` schema, sf0.1 sizes) ------

  val Customers = 15000L
  val Orders = 150000L
  val Nations = 25

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Seq("F", "O", "P")
  /** 1992-01-01 and the span of order dates, in epoch seconds. */
  val DateBase = 694224000L
  val DateSpan = 3650L * 86400L

  def custName(k: Long): String = f"Customer#$k%09d"

  /** Every value is a pure function of (seed, column salt, row id), so the
    * tables do not depend on how Spark partitions the range. */
  private final class Hash(seed: Long) {
    def apply(salt: String): Column = xxhash64(lit(seed), lit(salt), col("id"))
    def mod(salt: String, n: Long): Column = pmod(apply(salt), lit(n))
    def pick(salt: String, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (mod(salt, xs.size.toLong) + 1).cast("int"))
  }

  def nation(spark: SparkSession, seed: Long): DataFrame = {
    val h = new Hash(seed)
    spark.range(Nations).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id"), lit("_"), h.mod("n_name", 1000)).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
  }

  def customer(spark: SparkSession, seed: Long): DataFrame = {
    val h = new Hash(seed)
    spark.range(Customers).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h.mod("c_nationkey", Nations).cast("int").as("c_nationkey"),
      (h.mod("c_acctbal", 1100000L) / 100.0 - 999.99).as("c_acctbal"),
      h.pick("c_mktsegment", Segments).as("c_mktsegment"))
  }

  def orders(spark: SparkSession, seed: Long): DataFrame = {
    val h = new Hash(seed)
    spark.range(Orders).select(
      col("id").as("o_orderkey"),
      h.mod("o_custkey", Customers).as("o_custkey"),
      h.pick("o_orderstatus", Statuses).as("o_orderstatus"),
      (h.mod("o_totalprice", 50000000L) / 100.0 + 1000.0).as("o_totalprice"),
      timestamp_seconds(lit(DateBase) + h.mod("o_orderdate", DateSpan / 86400L) * 86400L)
        .as("o_orderdate"),
      h.pick("o_orderpriority", Priorities).as("o_orderpriority"))
  }

  /** Writes the named tables as single-file parquet under `dir`. */
  def writeTables(spark: SparkSession, seed: Long, dir: String,
                  tables: Seq[String]): Unit =
    tables.foreach { t =>
      val df = t match {
        case "nation"   => nation(spark, seed)
        case "customer" => customer(spark, seed)
      }
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }

  // ---- skewed key choice ---------------------------------------------------

  /** Zipf(s) over ranks 1..n; `keyOf` maps a rank (0 = hottest) to a key. */
  final class Zipf(n: Long, s: Double, val keyOf: Int => Long) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n.toInt)(i => 1.0 / math.pow(i + 1.0, s))
      var acc = 0.0
      val c = w.map { x => acc += x; acc }
      c.map(_ / acc)
    }
    def rank(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      if (i >= 0) i else math.min(-i - 1, cdf.length - 1)
    }
    def key(rng: SplittableRandom): Long = keyOf(rank(rng))
  }

  /** Hot keys scattered over the key space (a stride coprime to n). */
  def scattered(n: Long, s: Double): Zipf = new Zipf(n, s, r => (r.toLong * 7919L) % n)

  /** Hot keys are the newest: rank r is key n - 1 - r. */
  def newest(n: Long, s: Double): Zipf = new Zipf(n, s, r => n - 1 - r)

  // ---- SPARQL point reads --------------------------------------------------

  final case class Request(template: Int, key: Long)

  /** Round `round`'s `n` point reads, templates in turn. Half the keys come
    * from the round's upsert batch (read your writes: the order, or its
    * customer); the rest are Zipf(1.1) over orders or customers with the
    * hot keys scattered over the key space. */
  def lakeReads(seed: Long, round: Int, n: Int, batch: Vector[OrderRow]): Vector[Request] = {
    val rng = new SplittableRandom(seed * 1000003L + round)
    val cust = scattered(Customers, 1.1)
    val ord = scattered(Orders, 1.1)
    Vector.tabulate(n) { i =>
      val t = i % PointTemplates.Count
      val fresh = batch.nonEmpty && (i / PointTemplates.Count) % 2 == 0
      val o = if (fresh) Some(batch(rng.nextInt(batch.size))) else None
      Request(t,
        if (PointTemplates.keyedByOrder(t)) o.fold(ord.key(rng))(_.key)
        else o.fold(cust.key(rng))(_.cust))
    }
  }

  // ---- lake upserts ---------------------------------------------------------

  /** One orders row as the lake stores it. */
  final case class OrderRow(key: Long, cust: Long, status: String, price: Double,
                            dateSec: Long, priority: String) {
    def part: Int = (key / LakeUpsert.PartRows).toInt
  }

  /** Round `round`'s upsert batch of `size` distinct keys: `insertFrac` of
    * them inserts of fresh keys from `nextKey` on, the rest updates (new
    * price and status) of distinct existing keys chosen Zipf(1.2) with the
    * newest orders hottest. */
  def upsertBatch(seed: Long, round: Int, size: Int, insertFrac: Double,
                  nextKey: Long, current: Long => Option[OrderRow]): Vector[OrderRow] = {
    val rng = new SplittableRandom(seed * 7919L + round * 104729L + 17)
    val zipf = newest(Orders, 1.2)
    val inserts = math.round(size * insertFrac).toInt
    val updates = scala.collection.mutable.LinkedHashMap[Long, OrderRow]()
    while (updates.size < size - inserts) {
      val k = zipf.key(rng)
      if (!updates.contains(k)) current(k).foreach(old => updates(k) = old.copy(
        status = Statuses(rng.nextInt(Statuses.size)),
        price = (1000 + rng.nextInt(500000)) + rng.nextInt(100) / 100.0))
    }
    val fresh = Vector.tabulate(inserts) { i =>
      OrderRow(nextKey + i, rng.nextLong(Customers), Statuses(rng.nextInt(Statuses.size)),
        (1000 + rng.nextInt(500000)) + rng.nextInt(100) / 100.0,
        DateBase + rng.nextLong(DateSpan / 86400L) * 86400L,
        Priorities(rng.nextInt(Priorities.size)))
    }
    updates.values.toVector ++ fresh
  }

  // ---- corpus with planted duplicates and junk ------------------------------

  /** Document classes, carried in the `source` column so the prepared
    * output can be checked against what was planted. */
  object DocClass {
    val Base = "base"    // clean, unique text; must survive
    val Exact = "exact"  // byte copy of a base document; must be removed
    val Near = "near"    // one-word edit of a base document; should be removed
    val Junk = "junk"    // fails the quality funnel; must be removed
  }

  final case class Doc(id: Long, text: String, lang: String, cls: String)

  final case class CorpusSpec(docs: Int, exactFrac: Double, nearFrac: Double,
                              junkFrac: Double)

  val DefaultCorpus = CorpusSpec(docs = 1000, exactFrac = 0.10, nearFrac = 0.10,
    junkFrac = 0.15)

  private val Syllables = Vector("ka", "lo", "mi", "ren", "tu", "sa", "vel", "dor",
    "pi", "ne", "gar", "shu", "to", "ber", "li", "qua", "mon", "fe", "zi", "ar")

  /** 8000 distinct words of two or three syllables: large enough that two
    * unrelated documents share no word trigram. */
  private val Vocab: Vector[String] = {
    val two = for (a <- Syllables; b <- Syllables) yield a + b
    val three = for (a <- Syllables; b <- Syllables; c <- Syllables) yield a + b + c
    (two ++ three.take(8000 - two.size)).distinct
  }

  private def words(rng: SplittableRandom, n: Int, vocab: Int = Vocab.size): Vector[String] =
    Vector.fill(n)(Vocab(rng.nextInt(vocab)))

  /** Clean text: 25-45 distinct-enough words, under the funnel's 500-char cap. */
  private def cleanText(rng: SplittableRandom): Vector[String] = {
    var w = words(rng, 25 + rng.nextInt(21))
    while (w.mkString(" ").length > 480) w = w.init
    w
  }

  /** The corpus: ids 0.. are base documents, then exact copies, near copies
    * and junk. Base ids are the lowest, so within each duplicate group the
    * base is the canonical survivor. */
  def corpus(seed: Long, spec: CorpusSpec = DefaultCorpus): Vector[Doc] = {
    val rng = new SplittableRandom(seed * 31337L + 5)
    val nExact = math.round(spec.docs * spec.exactFrac).toInt
    val nNear = math.round(spec.docs * spec.nearFrac).toInt
    val nJunk = math.round(spec.docs * spec.junkFrac).toInt
    val nBase = spec.docs - nExact - nNear - nJunk
    require(nBase > nExact + nNear, s"too few base documents in $spec")
    val base = Vector.tabulate(nBase)(i => Doc(i, cleanText(rng).mkString(" "), "en", DocClass.Base))
    // distinct base documents for the two copy kinds, so every planted
    // duplicate group holds exactly one base and one copy
    val donors = new scala.util.Random(rng.nextLong()).shuffle((0 until nBase).toVector)
    var id = nBase.toLong
    def nextId(): Long = { val i = id; id += 1; i }
    val exact = donors.take(nExact).map(b => Doc(nextId(), base(b).text, "en", DocClass.Exact))
    val near = donors.slice(nExact, nExact + nNear).map { b =>
      val w = base(b).text.split(' ')
      // one word in the middle third replaced: Jaccard of word trigrams
      // stays above 0.8 for 25+ words
      val pos = w.length / 3 + rng.nextInt(w.length / 3)
      var repl = Vocab(rng.nextInt(Vocab.size))
      while (repl == w(pos)) repl = Vocab(rng.nextInt(Vocab.size))
      w(pos) = repl
      Doc(nextId(), w.mkString(" "), "en", DocClass.Near)
    }
    val junk = Vector.tabulate(nJunk) { i =>
      i % 3 match {
        case 0 => Doc(nextId(), words(rng, 5 + rng.nextInt(12)).mkString(" "), "en", DocClass.Junk)
        case 1 => Doc(nextId(), words(rng, 40, vocab = 6).mkString(" "), "en", DocClass.Junk)
        case _ => Doc(nextId(), cleanText(rng).mkString(" "), "de", DocClass.Junk)
      }
    }
    base ++ exact ++ near ++ junk
  }

  /** The corpus in the `documents` schema, rows in a seeded order. */
  def corpusFrame(spark: SparkSession, docs: Vector[Doc], seed: Long): DataFrame = {
    import spark.implicits._
    new scala.util.Random(seed).shuffle(docs)
      .map(d => (d.id, d.text, d.lang, d.cls, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Stable text form of generated inputs, for the determinism tests. */
  def canonical(xs: Iterable[Product]): String =
    xs.map(_.productIterator.mkString("\u0001")).mkString("\n")
}
