package graftbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import Gen.DocClass

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def orders(seed: Long): String =
    Gen.canonical(Gen.orders(spark, seed).collect().map(r =>
      Tuple1(r.toSeq.mkString("|"))).sortBy(_._1).toSeq)

  private def batches(seed: Long): String = {
    val base = Gen.OrderRow(0, 0, "O", 1.0, Gen.DateBase, "5-LOW")
    Gen.canonical((0 until 5).flatMap(r =>
      Gen.upsertBatch(seed, r, 50, 0.1, Gen.Orders, k => Some(base.copy(key = k)))))
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    val inputs: Seq[Long => String] = Seq(
      s => Gen.canonical(Gen.lakeReads(s, 2, 500, Vector.empty)),
      s => Gen.canonical(Gen.corpus(s)),
      batches,
      orders)
    inputs.foreach { gen =>
      val (a, b, c) = (gen(7), gen(7), gen(8))
      assert(a.getBytes("UTF-8").sameElements(b.getBytes("UTF-8")))
      assert(a != c)
    }
  }

  test("key skew follows the stated Zipf exponent") {
    val n = Gen.Customers
    val s = 1.1
    val z = Gen.scattered(n, s)
    val rng = new SplittableRandom(1)
    val draws = 200000
    val counts = Array.fill(draws)(z.key(rng)).groupBy(identity).map(_._2.length)
      .toSeq.sorted(Ordering[Int].reverse)
    val h = (1 to n.toInt).map(k => 1.0 / math.pow(k, s)).sum
    // the r-th most frequent key carries about r^-s / H(n, s) of the draws
    Seq(1, 2, 10).foreach { r =>
      val expected = draws / math.pow(r, s) / h
      assert(math.abs(counts(r - 1) - expected) < 0.1 * expected, s"rank $r")
    }
    assert(Gen.newest(Gen.Orders, 1.2).key(new SplittableRandom(2)) <= Gen.Orders - 1)
    assert(Gen.newest(Gen.Orders, 1.2).keyOf(0) == Gen.Orders - 1)
  }

  test("upsert batches insert the stated share of fresh keys and update hot ones") {
    val base = Gen.OrderRow(0, 0, "O", 1.0, Gen.DateBase, "5-LOW")
    val rows = (0 until 200).flatMap(r =>
      Gen.upsertBatch(3, r, 50, 0.1, Gen.Orders, k => Some(base.copy(key = k))))
    assert(rows.count(_.key >= Gen.Orders) == 200 * 5)
    (0 until 200).foreach(r => assert(
      Gen.upsertBatch(3, r, 50, 0.1, Gen.Orders, k => Some(base.copy(key = k)))
        .map(_.key).distinct.size == 50))
    // the updated keys follow the skew: the newest 1% of orders take most of them
    val updated = rows.filter(_.key < Gen.Orders)
    assert(updated.count(_.key >= Gen.Orders * 99 / 100).toDouble / updated.size > 0.5)
  }

  test("the corpus plants duplicates and junk at the stated fractions") {
    val spec = Gen.DefaultCorpus
    val docs = Gen.corpus(5)
    val byClass = docs.groupBy(_.cls).map { case (c, ds) => c -> ds.size }
    assert(docs.size == spec.docs)
    assert(docs.map(_.id).distinct.size == docs.size)
    assert(byClass(DocClass.Exact) == math.round(spec.docs * spec.exactFrac))
    assert(byClass(DocClass.Near) == math.round(spec.docs * spec.nearFrac))
    assert(byClass(DocClass.Junk) == math.round(spec.docs * spec.junkFrac))

    def words(t: String) = t.split(' ').toSeq
    def trigrams(t: String) = words(t).sliding(3).map(_.mkString(" ")).toSet
    def passesFunnel(d: Gen.Doc) = {
      val w = words(d.text.toLowerCase)
      w.size >= 20 && d.text.length <= 500 && w.distinct.size * 3 >= w.size && d.lang == "en"
    }
    val bases = docs.filter(_.cls == DocClass.Base)
    val baseTexts = bases.map(_.text).toSet
    assert(bases.forall(passesFunnel))
    assert(baseTexts.size == bases.size, "base documents must be unique")
    assert(docs.filter(_.cls == DocClass.Junk).forall(d => !passesFunnel(d)))
    assert(docs.filter(_.cls == DocClass.Exact).forall(d => baseTexts(d.text) && passesFunnel(d)))
    val maxBase = bases.map(_.id).max
    docs.filter(_.cls == DocClass.Near).foreach { d =>
      assert(passesFunnel(d) && d.id > maxBase)
      val t = trigrams(d.text)
      val best = bases.iterator.map { b =>
        val u = trigrams(b.text)
        (t intersect u).size.toDouble / (t union u).size
      }.max
      assert(best >= 0.7 && best < 1.0, s"near copy ${d.id} has Jaccard $best to its base")
    }
  }

  test("a short lake_upsert run repeats its amplification exactly") {
    def cycle(): (Double, Double) = {
      Files.createDirectories(Paths.get("target"))
      val dir = Files.createTempDirectory(Paths.get("target"), "lake").toAbsolutePath.toString
      val lake = new OrdersLake(spark, 11, dir)
      lake.build()
      (0 until LakeUpsert.CycleRounds).foreach(lake.merge)
      lake.compact()
      lake.gc()
      assert(lake.matchesModel())
      lake.cycles.head
    }
    val (a, b) = (cycle(), cycle())
    assert(a == b)
    assert(a._1 > 1.0 && a._2 >= 1.0)
  }
}
