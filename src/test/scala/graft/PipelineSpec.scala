package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline._

/** Data-pipeline operator semantics on sf0.001 documents/embeddings. */
class PipelineSpec extends SparkTestBase {

  lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("exact dedup groups sum to corpus size") {
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.map(_.getLong(2)).sum == docs.count())
    assert(groups.forall(_.getLong(2) >= 1))
  }

  test("minhash near-dups are real near-dups (jaccard verified)") {
    val pairs = Dedup.verifiedNearDups(docs, threshold = 0.7).collect()
    assert(pairs.nonEmpty, "generator plants near-duplicates; none found")
    assert(pairs.forall(r => r.getDouble(2) >= 0.7 && r.getLong(0) < r.getLong(1)))
  }

  test("minhash and simhash largely agree on planted near-dups") {
    val mh = Dedup.verifiedNearDups(docs, threshold = 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashNearDups(docs, maxHamming = 6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.nonEmpty && sh.nonEmpty)
    assert((mh intersect sh).size.toDouble / mh.size > 0.5,
      s"simhash missed most minhash pairs: ${mh.size} vs ${sh.size}, overlap ${(mh intersect sh).size}")
  }

  test("decontamination flags planted verbatim overlap, benchmark side broadcasts") {
    val s = spark
    import s.implicits._
    val bench = Seq((900L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words then the quick brown fox jumps over the lazy dog tonight suffix"),
      (2L, "entirely different content with no shared sequences at all here"),
      (3L, "quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    val got = Decontaminate.flagged(corpus, bench, k = 5)
    val byId = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.contains(1L) && byId.contains(3L) && !byId.contains(2L))
    assert(byId(1L) >= 5) // long verbatim run => many matched 5-grams
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram set should broadcast:\n$plan")
  }

  test("repetition stats: repeated phrase collapses keep flag") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq.fill(20)("spam spam").mkString(" ")), // one bigram dominates
      (2L, (1 to 40).map(i => s"tok$i").mkString(" ")) // fully diverse
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!got(1L).getAs[Boolean]("keep"))
    assert(got(2L).getAs[Boolean]("keep"))
    assert(got(2L).getAs[Long]("n_distinct_tokens") == 40L)
    assert(got(1L).getAs[Long]("top_unigram_n") == 40L) // 'spam' 40 times
  }

  test("bigram-LM perplexity: hand-computed milli-nats, cross-corpus floor") {
    val s = spark
    import s.implicits._
    val lm = Seq((0L, "a a b"), (1L, "a b")).toDF("doc_id", "text")
    // c2: (a,a)=1, (a,b)=2; c1(a)=3; V=2; k=0.5
    // doc0: -(ln .375 + ln .625)/2 = 0.72542 -> 725; doc1: -ln .625 -> 470
    val self = TextAnalysis.perplexity(lm).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(self(0L) == ((2L, 725L)), s"doc0: ${self(0L)}")
    assert(self(1L) == ((1L, 470L)), s"doc1: ${self(1L)}")
    // unseen bigram against a reference LM: smoothing floor k/(k*V)=0.5
    val probe = Seq((9L, "c c")).toDF("doc_id", "text")
    val cross = TextAnalysis.perplexity(probe, lmCorpus = lm).collect()
    assert(cross.length == 1 && cross(0).getLong(2) == 693L, // ln 2
      s"cross: ${cross.toSeq}")
    // short docs (< 2 tokens) have no bigram and are excluded
    assert(TextAnalysis.perplexity(Seq((5L, "solo")).toDF("doc_id", "text"))
      .count() == 0L)
  }

  test("brute-force knn: rank 1 is the true nearest neighbour") {
    val got = Similarity.bruteForceTopK(emb, k = 3, numQueries = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.count(_._3 == 1) == 2) // one rank-1 per query
    // cross-check query 0's nearest by local computation
    val all = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = all.find(_._1 == 0L).get._2.map(_.toDouble)
    def cos(v: Array[Float]) = {
      val d = v.map(_.toDouble)
      val dot = d.zip(q).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(d.map(x => x * x).sum) * math.sqrt(q.map(x => x * x).sum))
    }
    val expected = all.filter(_._1 != 0L).maxBy(t => cos(t._2))._1
    assert(got.find(t => t._1 == 0L && t._3 == 1).get._2 == expected)
  }

  test("lsh knn returns a subset ranking consistent with cosine") {
    val got = Similarity.lshTopK(emb, k = 5, numQueries = 3, planes = 4).collect()
    assert(got.nonEmpty) // 4 planes ⇒ 16 buckets ⇒ collisions guaranteed at 500 vecs
  }

  test("ivf knn probes nearest cells and finds the brute-force nearest often") {
    val ivf = Similarity.ivfTopK(emb, k = 5, numQueries = 3, cells = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(ivf.count(_._3 == 1) == 3) // each query has neighbours in its probes
    val brute = Similarity.bruteForceTopK(emb, k = 1, numQueries = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hits = ivf.filter(_._3 == 1).count { case (q, v, _) => brute(q) == v }
    assert(hits >= 1, s"IVF rank-1 never matched brute force: $ivf vs $brute")
  }

  test("canonical ids propagate transitively across pair chains") {
    val s = spark
    import s.implicits._
    val d = Seq(1L, 2L, 3L, 7L, 8L, 99L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val canon = Dedup.canonicalIds(d, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 99L -> 99L))
  }

  test("media features equal deterministic stub formulas") {
    val feats = Multimodal.extractFeatures(docs)(spark).collect()
    val lens = docs.select(col("doc_id"), octet_length(col("text")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.byte_len == lens(f.doc_id))
      assert(f.width == f.byte_len % 640 && f.height == f.byte_len % 480)
    }
  }

  test("langid marks CJK docs zh and is deterministic") {
    val l = TextAnalysis.langId(docs).collect()
    val zh = l.filter(_.getLong(6) > 0)
    assert(zh.forall(_.getString(1) == "zh"))
  }
  test("resize caps the longer stub dimension at maxDim, shrinks payload") {
    implicit val s = spark
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
    val out = graft.pipeline.Multimodal.resize(docs, maxDim = 256).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => math.max(r.width, r.height) <= 256))
    val lens = docs.selectExpr("doc_id", "length(cast(text as binary)) as l")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.forall(r => r.payload.length <= math.max(1, lens(r.doc_id))))
  }

  test("frame sampling emits every stride-th fixed-size slice") {
    implicit val s = spark
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
    val frames = graft.pipeline.Multimodal.sampleFrames(docs, frameBytes = 100, stride = 2)
      .collect()
    assert(frames.nonEmpty)
    assert(frames.forall(f => f.offset == f.frame_no * 2 * 100))
    assert(frames.forall(f => f.payload.length <= 100))
    // every document yields at least one frame
    assert(frames.map(_.doc_id).distinct.length == docs.count())
  }
  test("pii redaction counts and hashes are stable and self-consistent") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = graft.pipeline.TextAnalysis.redactPii(docs)
    assert(out.count() == docs.count())
    // clean documents keep their original text hash
    import org.apache.spark.sql.functions._
    val joined = out.join(docs, "doc_id")
      .withColumn("orig_hash", md5(col("text")))
    val clean = joined.filter(col("n_emails") === 0 && col("n_ips") === 0 &&
      col("n_digit_runs") === 0)
    assert(clean.filter(col("redacted_hash") =!= col("orig_hash")).count() == 0)
  }

  test("sequence packing respects the token budget and bins every doc once") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bins = graft.pipeline.TextAnalysis.packBins(docs, budget = 512)
    import org.apache.spark.sql.functions._
    assert(bins.count() == docs.count()) // every doc exactly once
    val over = bins.groupBy("bin_id")
      .agg(sum("n_tokens").as("tok"), count(lit(1)).as("n"), max("n_tokens").as("mx"))
      .filter(col("tok") > 512 && !(col("n") === 1 && col("mx") >= 512))
    assert(over.count() == 0) // only oversized singletons may exceed budget
  }
  test("simhash bucket cap disarms a degenerate identical-doc bucket") {
    val s = spark
    import s.implicits._
    // 1000 identical docs: every band bucket holds all 1000 ids — uncapped
    // this is 4 × C(1000,2) ≈ 2M pair expansions; capped it yields nothing
    // (exact dedup upstream owns identical text) and completes immediately
    val clones = (1L to 1000L).map(i => (i, "the same boilerplate text repeated"))
      .toDF("doc_id", "text")
    val cappedRes = Dedup.simhashNearDupsWithStats(clones, maxHamming = 3, maxBucket = 50)
    assert(cappedRes.pairs.count() == 0)
    // observability: the dropped buckets are surfaced, not silent — all 4
    // band buckets held the full clone set
    val cb = cappedRes.cappedBuckets.collect()
    assert(cb.length == 4 && cb.forall(_.getAs[Long]("bucket_size") == 1000L))
    // distinct-but-close docs in small buckets are unaffected by the cap
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val mixed = Seq(
      (1L, base + " ending_one"),
      (2L, base + " ending_two"),
      (3L, "completely different words entirely unrelated to the rest")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(mixed, maxHamming = 16, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("blocked topSimilarPairs is exact: matches local brute force") {
    val expected = {
      val all = emb.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
        .map { case (id, v) =>
          val n = math.sqrt(v.map(x => x * x).sum)
          (id, v.map(x => if (n == 0) 0.0 else x / n))
        }.sortBy(_._1)
      val pairs = for {
        i <- all.indices; j <- (i + 1) until all.length
      } yield (all(i)._1, all(j)._1,
        all(i)._2.zip(all(j)._2).map { case (a, b) => a * b }.sum)
      pairs.sortBy(t => (-t._3, t._1, t._2)).take(20).map(t => (t._1, t._2))
    }
    // targetBlockRows=64 forces ~8 blocks / 36 block-pair tasks at 500 rows
    val got = Similarity.topSimilarPairs(emb, n = 20, targetBlockRows = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.toSeq == expected.sorted.toSeq,
      s"blocked pair sweep diverged from brute force:\n$got\nvs\n$expected")
  }

  test("thresholdPairs is exhaustive: every pair at or above tau, none below") {
    val expected = {
      val all = emb.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
        .map { case (id, v) =>
          val n = math.sqrt(v.map(x => x * x).sum)
          (id, v.map(x => if (n == 0) 0.0 else x / n))
        }.sortBy(_._1)
      for {
        i <- all.indices; j <- (i + 1) until all.length
        c = all(i)._2.zip(all(j)._2).map { case (a, b) => a * b }.sum
        if c >= 0.40
      } yield (all(i)._1, all(j)._1)
    }
    assert(expected.nonEmpty, "fixture must have pairs above the threshold")
    // small blocks force the pair scan across many block-pair tasks
    val got = Similarity.thresholdPairs(emb, tau = 0.40, targetBlockRows = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.toSeq == expected.sorted.toSeq)
  }

  test("sketch stats: contract flags hold and exact counts are exact") {
    val rows = graft.pipeline.TextAnalysis.sketchStats(docs).collect()
    assert(rows.nonEmpty)
    val bySource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) == bySource(r.getString(0)), "n_docs must be exact")
      assert(r.getBoolean(3), s"HLL out of tolerance for ${r.getString(0)}")
      assert(r.getBoolean(4), s"approx median rank drift for ${r.getString(0)}")
    }
  }

  test("native shingle_ids is bit-identical to the HOF expression chain") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // edge rows beside the corpus: empty text, fewer tokens than k, and
    // U+A7C0/U+A7C1 tokens that merge only under Spark's (ICU) `lower`; an
    // RDD, so the optimizer cannot fold their projection by interpreted eval
    val edge = spark.sparkContext.parallelize(Seq(-1L -> "", -2L -> "solo",
      -3L -> "Two Words", -4L -> "  lead gap",
      -5L -> "\ua7c0q \ua7c1q \ua7c0q \ua7c1q \ua7c0q", -6L -> "\ua7c1q \ua7c0Q x"), 2)
      .toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionByName(edge)
    val hof = docs
      .withColumn("__tokens", split(lower(col("text")), "\\s+"))
      .withColumn("expected", expr(
        "array_distinct(transform(sequence(1, greatest(size(__tokens)-2, 1)), " +
          "i -> xxhash64(concat_ws(' ', slice(__tokens, i, 3)))))"))
      .select(col("doc_id"), col("expected"))
    val native = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.shingle_ids(col("text"), 3).as("got"))
    val joined = hof.join(native, "doc_id")
    assert(joined.count() == docs.count())
    assert(joined.filter(not(col("expected") === col("got"))).count() == 0)
  }

  /** The funnel as the `when` chain over `split(lower(text), '\s+')` that
    * the native kernel replaced: the reference its rows must equal. */
  private def funnelChain: Column = {
    val w = split(lower(col("text")), "\\s+")
    val nTok = size(w).cast("long")
    val nChars = length(col("text")).cast("long")
    val nDistinct = size(array_distinct(w)).cast("long")
    when(nTok < 20, "too_short")
      .when(nChars > 500, "too_long")
      .when(nDistinct * 3 < nTok, "low_diversity")
      .when(col("lang") =!= "en", "non_english")
  }

  /** A corpus that reaches every funnel rule: token counts around 20,
    * lengths past 500 chars, small vocabularies with case variants, all
    * six `\s` bytes and U+00A0 as separators, mixed languages and NULLs. */
  private lazy val funnelCorpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val seps = Seq(" ", " ", " ", "  ", "\t", "\n", "\u000B", "\f", "\r", " \r\n", "\u00a0")
    // half the rows are all ASCII, half mix in letters that lowering rewrites
    val alphabets = Seq("abyz",
      "abz\u00e4\u0130\u00df\u03a3\u03c3\u00e9\u65e5\ua7c0\ua7c1")
    def word(letters: String): String =
      Seq.fill(1 + rnd.nextInt(16))(letters(rnd.nextInt(letters.length))).mkString
    // case variants of one word are distinct tokens until `lower` merges them
    def variant(w: String): String = w.map(c => if (rnd.nextInt(4) == 0) c.toUpper else c)
    val generated = (1 to 3000).map { id =>
      val letters = alphabets(rnd.nextInt(2))
      val vocab = Seq.fill(Seq(2, 6, 12, 200)(rnd.nextInt(4)))(word(letters))
      val toks = Seq.fill(rnd.nextInt(48))(variant(vocab(rnd.nextInt(vocab.length))))
      val body = toks.map(_ + seps(rnd.nextInt(seps.length))).mkString
      val text = (if (rnd.nextInt(8) == 0) seps(rnd.nextInt(seps.length)) else "") + body
      val lang = Seq("en", "en", "en", "de", null)(rnd.nextInt(5))
      (id.toLong, if (rnd.nextInt(300) == 0) null else text, lang)
    }
    def distinctWords(n: Int, tag: String) = (1 to n).map(i => s"$tag$i")
    val twenty = distinctWords(20, "w").mkString(" ")
    // 20 tokens of 24 chars and 19 spaces are 499 chars; pad the last one
    def charsLong(chars: Int, pad: Char) =
      distinctWords(20, "m").map(_.padTo(24, pad)).mkString(" ").padTo(chars, pad)
    // 21 tokens, 7 distinct as written but 6 once `lower` merges a pair
    def mergedByLower(a: String, b: String) =
      Seq.fill(3)(Seq(a, b) ++ distinctWords(5, "p")).flatten.mkString(" ")
    val edge = Seq(
      " " + twenty, twenty + " ", twenty.replace(" ", "  "), "", " ", "\t\n",
      distinctWords(20, "t").mkString("\t"), distinctWords(20, "n").mkString("\n"),
      distinctWords(20, "v").mkString("\u000B"), distinctWords(20, "f").mkString("\f"),
      distinctWords(20, "r").mkString("\r"), distinctWords(20, "s").mkString(" "),
      distinctWords(40, "b").mkString("\u00a0"),  // one token
      distinctWords(40, "c").grouped(2).map(_.mkString("\u00a0")).mkString(" "),
      mergedByLower("Ab", "aB"),  // all ASCII
      mergedByLower("\u00e4b", "\u00c4b"),  // Ä / ä
      mergedByLower("\u0130x", "i\u0307x"),  // İ lowers to i + U+0307
      // U+A7C0 lowers to U+A7C1 under ICU case mapping, not under the JVM's
      mergedByLower("\ua7c0q", "\ua7c1q"),
      distinctWords(19, "e").mkString(" "), distinctWords(20, "e").mkString(" "),
      distinctWords(21, "e").mkString(" "),
      charsLong(500, 'x'), charsLong(501, 'x'),
      charsLong(500, '\u00e9'), charsLong(501, '\u65e5'),
      // past 500 chars: too few tokens still fails first; many tokens, or
      // a long first token, fail too_long before any lowering
      distinctWords(10, "L").map(_.padTo(90, 'Z')).mkString(" "),
      distinctWords(3000, "G").mkString(" "), "Q" * 800 + " " + twenty,
      // distinct × 3 == tokens passes; one more repeat fails
      Seq.fill(3)(distinctWords(7, "d")).flatten.mkString(" "),
      (Seq.fill(3)(distinctWords(7, "d")).flatten :+ "d1").mkString(" ")
    ).zipWithIndex.flatMap { case (t, i) =>
      Seq((-10L * i - 1, t, "en"), (-10L * i - 2, t, "de")) }
    val nulls = Seq[(Long, String, String)]((-1001L, null, "en"), (-1002L, null, "de"),
      (-1003L, null, null), (-1004L, twenty + " x", null), (-1005L, twenty + " x", "de"))
    // bytes that are not UTF-8: a truncated lead byte before a space
    val invalid = spark.range(1).select(lit(-2001L).as("doc_id"),
      expr("cast(unhex('41c320e08042' || repeat('20e2', 24)) as string)").as("text"),
      lit("en").as("lang"))
    // an RDD, not a local Seq: the optimizer folds projections over a
    // LocalRelation by interpreted eval, so no generated code would run
    spark.sparkContext.parallelize(generated ++ edge ++ nulls, 4)
      .toDF("doc_id", "text", "lang").unionByName(invalid)
  }

  test("native funnel_first_fail equals the when chain on every row") {
    val expected = funnelCorpus.select(col("doc_id"), funnelChain.as("want"),
      size(split(lower(col("text")), "\\s+")).cast("long").as("want_n"))
    val coverage = expected.groupBy("want").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("kept") -> r.getLong(1)).toMap
    assert(Seq("too_short", "too_long", "low_diversity", "non_english", "kept")
      .forall(r => coverage.getOrElse(r, 0L) >= 5), s"rules not all reached: $coverage")
    // generated code (whole-stage and per-expression) and the interpreted
    // eval path must all agree: with whole-stage codegen off, projections
    // and filters still compile their expressions unless the factory mode
    // is NO_CODEGEN
    for ((wholeStage, factory) <- Seq("true" -> "FALLBACK", "false" -> "FALLBACK",
        "false" -> "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try {
        val got = TextAnalysis.filterFunnel(funnelCorpus)
        val bad = expected.join(got, "doc_id").filter(
          !(col("want") <=> col("first_fail")) || !(col("want_n") <=> col("n_tokens")) ||
            !(col("keep") === col("want").isNull))
        assert(got.count() == funnelCorpus.count())
        assert(bad.count() == 0, s"wholeStage=$wholeStage factoryMode=$factory mismatches:\n" +
          bad.limit(10).collect().mkString("\n"))
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    // and each builder's expression's own eval, called on the raw bytes of every row
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val rows = expected.join(funnelCorpus, "doc_id")
      .select(col("text").cast("binary"), col("lang"), col("want"), col("want_n")).collect()
    val evalBad = rows.filter { r =>
      val text = GraftBridge.column(Literal(
        Option(r.getAs[Array[Byte]](0)).map(UTF8String.fromBytes).orNull, StringType))
      val lang = GraftBridge.column(Literal(
        Option(r.getString(1)).map(UTF8String.fromString).orNull, StringType))
      val first = GraftBridge.expression(
        graft.functions.GraftFunctions.funnel_first_fail(text, lang)).eval()
      val n = GraftBridge.expression(graft.functions.GraftFunctions.ws_token_count(text)).eval()
      Option(first).map(_.toString) != Option(r.getString(2)) || n != r.get(3)
    }
    assert(rows.length == funnelCorpus.count())
    assert(evalBad.isEmpty, "eval mismatches:\n" + evalBad.take(10).mkString("\n"))
  }

  test("every native kernel: whole-stage, per-expression and no codegen give the same rows") {
    val F = graft.functions.GraftFunctions
    val text = col("text")
    // each builder's column, and the helper its generated code must call
    val kernels = Seq(
      F.shingle_ids(text, 3) -> "shingleIds",
      F.minhash_bands(F.shingle_ids(text, 3), 32, 8) -> "minhashBands",
      F.funnel_first_fail(text, col("lang")) -> "funnelFirstFail",
      F.ws_token_count(text) -> "wsTokenCount",
      F.repetition_stats(text) -> "repetitionStats",
      F.word_gram_digests(text, 3, distinct = true) -> "wordGramDigests",
      F.char_grams_distinct(text, 4) -> "charGramsDistinct",
      F.substr_window_hashes(text, 16, 8) -> "substrWindowHashes",
      F.winnowed_window_hashes(text, 24, 5, 8) -> "winnowedWindowHashes",
      F.simhash(F.shingle_ids(text, 2)) -> "simhash64",
      F.simhash_md5(text) -> "simhashMd5",
      F.nfc_normalize(text) -> "nfcNormalize",
      F.hashed_quality(text, 64) -> "hashedQuality",
      F.blocklist_terms(text, Seq("ab", "yz", "\ua7c1")) -> "blocklistTerms")
    // funnelCorpus is an RDD, so every mode below runs its own evaluator
    def frame = funnelCorpus.select(col("doc_id") +: kernels.zipWithIndex.map {
      case ((k, _), i) => k.as(s"k$i") }: _*)
    val code = org.apache.spark.sql.execution.debug.codegenString(
      frame.queryExecution.executedPlan)
    kernels.foreach { case (_, helper) =>
      assert(code.contains(s"graft.functions.GraftFunctions.$helper("),
        s"no direct $helper call in the whole-stage code")
    }
    def rows(wholeStage: String, factory: String) = {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try frame.orderBy("doc_id").collect().toSeq
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    val whole = rows("true", "FALLBACK")
    assert(whole.length == funnelCorpus.count())
    for ((wholeStage, factory) <- Seq("false" -> "FALLBACK", "false" -> "NO_CODEGEN")) {
      val got = rows(wholeStage, factory)
      val bad = whole.zip(got).filter { case (a, b) => a != b }
      assert(got.length == whole.length && bad.isEmpty,
        s"wholeStage=$wholeStage factoryMode=$factory differs:\n" + bad.take(3).mkString("\n"))
    }
  }

  test("ivfpq ADC ranks a planted near-duplicate first") {
    import graft.pipeline.Similarity
    val s = spark
    import s.implicits._
    // 64-dim: query 0 and vector 40 are near-identical (planted twin);
    // the rest are orthogonal-ish basis bumps — PQ codes must still put
    // the twin on top when every cell is probed (isolates ADC from IVF)
    val base = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val rows = (0L until 60L).map { id =>
      val v =
        if (id == 40L) base.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.01f else 0f) }
        else if (id == 0L) base
        else Array.tabulate(64)(i => if (i == (id % 64).toInt) 1f else 0.001f * i)
      (id, v)
    }.toDF("vec_id", "embedding")
    val top = Similarity.ivfpqTopK(rows, k = 3, numQueries = 1,
        cells = 4, nProbe = 4, m = 16, ksub = 16)
      .filter(col("q_id") === 0 && col("rank") === 1).collect()
    assert(top.length == 1 && top(0).getLong(1) == 40L)
  }

  test("mixture sampling is deterministic, monotone in rate, and keyed by salt") {
    import graft.pipeline.Mixture
    def ids(rate: Double, salt: String = "s1") =
      Mixture.mixtureSample(docs, Seq("src0" -> rate), defaultRate = 0.0, salt)
        .collect().map(_.getLong(0)).toSet
    assert(ids(1.0).size == docs.filter(col("source") === "src0").count())
    assert(ids(0.0).isEmpty)
    // same salt+rate ⇒ identical corpus; monotone: kept(0.3) ⊆ kept(0.7)
    assert(ids(0.5) == ids(0.5))
    assert(ids(0.3).subsetOf(ids(0.7)))
    // a different salt draws a genuinely different subsample
    assert(ids(0.5) != ids(0.5, salt = "s2"))
  }

  test("rarity profile sums are exact and has_rare matches n_rare") {
    import graft.pipeline.Mixture
    val prof = Mixture.rarityProfile(docs, rareMax = 100)
    // token totals must agree with a direct count
    val direct = docs.select(col("doc_id"),
      size(split(lower(col("text")), "\\s+")).cast("long").as("n"))
    assert(prof.join(direct, "doc_id")
      .filter(col("n_tokens") =!= col("n")).count() == 0)
    val rows = prof.collect()
    assert(rows.forall(r => r.getBoolean(4) == (r.getLong(3) > 0)))
    assert(rows.forall(r => r.getLong(2) >= r.getLong(1))) // every tf >= 1
    // the corpus has a genuinely rare token: both flag values occur
    assert(rows.exists(_.getBoolean(4)) && rows.exists(!_.getBoolean(4)))
  }

  test("split assignment is total, deterministic, and nested under fraction changes") {
    val a = Mixture.splitAssign(docs, valFrac = 0.1, testFrac = 0.1, salt = "s1")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a.size == docs.count())
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    // deterministic: a second run is identical
    val b = Mixture.splitAssign(docs, valFrac = 0.1, testFrac = 0.1, salt = "s1")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a == b)
    // nested: shrinking val moves docs only val->train; test is untouched
    val c = Mixture.splitAssign(docs, valFrac = 0.05, testFrac = 0.1, salt = "s1")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a.keySet == c.keySet)
    a.foreach { case (id, s) =>
      if (s == "test") assert(c(id) == "test", s"doc $id left test on val shrink")
      if (s == "train") assert(c(id) == "train", s"doc $id left train on val shrink")
    }
    // a different salt is a genuinely fresh draw
    val d = Mixture.splitAssign(docs, valFrac = 0.1, testFrac = 0.1, salt = "s2")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(d != a)
  }

  test("boilerplate removal cuts planted repeated segments, leaves content") {
    val s = spark
    import s.implicits._
    val banner = "copyright acme corp reserved" // one exact 4-token window
    val df = ((1L to 6L).map(i =>
      (i, s"$banner unique$i words body content here for doc$i")) :+
      (7L, "entirely clean document with no banner at all present")).toDF("doc_id", "text")
    val got = Dedup.boilerplateClean(df, window = 4, minDf = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    // the banner segment occurs in 6 >= 5 docs: removed from every one
    got.filter(_._1 <= 6).foreach { case (id, text, n) =>
      assert(!text.contains("copyright"), s"doc $id kept the banner: $text")
      assert(n == 1L, s"doc $id removed $n segments")
      assert(text.contains(s"unique$id"), s"doc $id lost content: $text")
    }
    val (_, clean7, n7) = got.find(_._1 == 7L).get
    assert(n7 == 0L && clean7 == "entirely clean document with no banner at all present")
  }

  test("bpe training learns the planted merge order and application matches") {
    val s = spark
    import s.implicits._
    // "aaab" x3 + "ab" x2: pair (a,a) count 6 beats (a,b) count 5, so the
    // first merge must be (a,a) -> "aa"; then aa+a (count 3) vs a+b (5):
    // (a,b) wins rank 1
    val df = Seq((1L, "aaab aaab aaab ab ab")).toDF("doc_id", "text")
    val merges = Bpe.train(df, nMerges = 2)
    assert(merges.map(m => (m.left, m.right)) == Seq(("a", "a"), ("a", "b")))
    // deterministic: retrain is identical
    assert(Bpe.train(df, nMerges = 2) == merges)
    val out = Bpe.tokenize(df, merges).collect()(0)
    // aaab -> [aa, ab, EOW] = 3 tokens; ab -> [ab, EOW] = 2: 3*3 + 2*2
    assert(out.getAs[Long]("n_bpe_tokens") == 13L)
    assert(out.getAs[Long]("n_ws_tokens") == 5L)
    assert(out.getAs[Boolean]("round_trip_ok"))
  }

  test("bpe merges round-trip through the text file; encode matches tokenize") {
    val merges = Bpe.train(docs, nMerges = 50)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_bpe_test/merges.txt"
    Bpe.saveMerges(merges, path)
    assert(Bpe.loadMerges(path) == merges)
    // the token stream agrees with the counting pass, doc by doc
    val streamCounts = Bpe.encode(docs, merges)
      .groupBy("doc_id").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counted = Bpe.tokenize(docs, merges)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_bpe_tokens")).toMap
    assert(streamCounts == counted)
    // positions are dense 0..n-1 per doc
    val firstDoc = Bpe.encode(docs, merges)
      .filter(col("doc_id") === streamCounts.keys.min)
      .orderBy("pos").collect().map(_.getInt(1))
    assert(firstDoc.toSeq == (0 until firstDoc.length))
  }

  test("bpe on the corpus: round-trip holds and counts shrink with merges") {
    val merges = Bpe.train(docs, nMerges = 100)
    assert(merges.length == 100)
    assert(merges.map(_.rank) == (0 until 100))
    val t = Bpe.tokenize(docs, merges)
    assert(t.filter(!col("round_trip_ok")).count() == 0)
    val merged = t.agg(sum("n_bpe_tokens")).collect()(0).getLong(0)
    val unmerged = Bpe.tokenize(docs, Nil).agg(sum("n_bpe_tokens"))
      .collect()(0).getLong(0)
    assert(merged < unmerged, s"100 merges should compress: $merged vs $unmerged")
    // envelope: every word is between 1 and len+1 tokens
    assert(t.filter(col("n_bpe_tokens") > col("n_ws_tokens") + col("n_word_chars"))
      .count() == 0)
    assert(t.filter(col("n_bpe_tokens") < col("n_ws_tokens")).count() == 0)
  }

  test("bpe token ids: stable vocab, 1:1 with the string stream, unk = 0") {
    val s = spark
    import s.implicits._
    val merges = Bpe.train(docs, nMerges = 50)
    val v = Bpe.vocab(docs, merges)
    // dense unique ids from 1 (0 is the reserved unknown)
    assert(v.map(_._2) == (1 to v.size))
    assert(v.map(_._1).distinct.size == v.size)
    // retraining with MORE merges only appends — id streams survive
    // tokenizer evolution (the stability claim in the scaladoc)
    val v20 = Bpe.vocab(docs, merges.take(20))
    assert(v.take(v20.size) == v20)
    // tsv round-trip
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_bpe_test/vocab.tsv"
    Bpe.saveVocab(v, path)
    assert(Bpe.loadVocab(path) == v)
    // the id stream is exactly the string stream mapped through the vocab
    val vm = v.toMap
    val strs = Bpe.encode(docs, merges).orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), vm(r.getString(2))))
    val ids = Bpe.encodeIds(docs, merges, v).orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(ids.toSeq == strs.toSeq)
    // trained-on corpus has no unknowns; an alien character maps to UnkId
    assert(ids.forall(_._3 >= 1))
    val alien = Seq((999L, "abc §")).toDF("doc_id", "text")
    val alienIds = Bpe.encodeIds(alien, merges, v).collect().map(_.getInt(2))
    assert(alienIds.contains(Bpe.UnkId))
    // non-BMP text: the vocab's alphabet decomposes by UTF-16 code unit
    // exactly like encodeWord, so a trained-on emoji never maps to UnkId
    val emoji = Seq((1L, "ab 😀cd 😀")).toDF("doc_id", "text")
    val em = Bpe.train(emoji, nMerges = 4)
    val ev = Bpe.vocab(emoji, em)
    val emIds = Bpe.encodeIds(emoji, em, ev).collect().map(_.getInt(2))
    assert(emIds.nonEmpty && emIds.forall(_ >= 1),
      s"non-BMP symbol fell out of the vocab: ${emIds.mkString(",")}")
  }

  test("packing over precomputed counts: uniform bins within budget") {
    val s = spark
    import s.implicits._
    val counts = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 30L), (5L, 7L))
      .toDF("doc_id", "n_tokens")
    val packed = TextAnalysis.packBinsByCount(counts, budget = 25)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // len-10 docs pack 2 per bin (25 div 10): docs 1,2 share, 3 spills
    assert(packed(1L) == packed(2L) && packed(1L) != packed(3L))
    // an over-budget doc gets a singleton bin; different lengths never mix
    assert(Seq(packed(4L), packed(5L), packed(1L), packed(3L)).distinct.size == 4)
  }

  test("misra-gries guarantee: heavy hitters survive eviction under high vocab") {
    val s = spark
    import s.implicits._
    // 400 distinct singleton tokens force constant MG eviction at k=10;
    // the two planted heavy tokens (freq 120/80 of N=600) must survive
    val rare = (1 to 400).map(i => s"rare$i")
    val toks = new scala.util.Random(7).shuffle(
      Seq.fill(120)("heavy") ++ Seq.fill(80)("warm") ++ rare)
    // 20 documents across 8 partitions: per-partition summaries evict
    // under the rare flood, then merge — the mergeability is the test
    val df = toks.grouped(30).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
      .repartition(8)
    val got = Sketches.heavyHitters(df, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // threshold N/k = 60: exactly the two planted tokens, exact counts
    assert(got.toSeq == Seq(("heavy", 120L), ("warm", 80L)), got.mkString(", "))
  }

  test("misra-gries summary undercounts by at most N/k") {
    val s = spark
    import s.implicits._
    val toks = docs
      .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val n = toks.count()
    val k = 8
    val summary = toks.as[String].select(new Sketches.MisraGries(k).toColumn).head()
    assert(summary.size <= k - 1)
    val exact = toks.groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    summary.foreach { case (t, est) =>
      val truth = exact(t)
      assert(est <= truth, s"$t overcounted: $est > $truth")
      assert(truth - est <= n / k, s"$t undercounted past N/k: $est vs $truth")
    }
    // the superset guarantee: every true heavy hitter is a summary key
    exact.filter(_._2 > n / k).keys.foreach(t =>
      assert(summary.contains(t), s"heavy hitter $t evicted"))
  }

  test("chunking: coverage, overlap, and short-doc edge") {
    val s = spark
    import s.implicits._
    val words = (1 to 50).map(i => s"w$i")
    val df = Seq((1L, words.mkString(" ")), (2L, "tiny doc")).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(df, size = 20, overlap = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val doc1 = got.filter(_._1 == 1L).sortBy(_._2)
    // stride 15 over 50 tokens: chunks at 0,15,30 — ceil((50-5)/15)=3
    assert(doc1.length == 3)
    assert(doc1(0)._3.startsWith("w1 ") && doc1(0)._4 == 20L)
    assert(doc1(1)._3.startsWith("w16 ") && doc1(1)._4 == 20L)
    assert(doc1(2)._3.startsWith("w31 ") && doc1(2)._4 == 20L)
    // consecutive chunks share exactly `overlap` tokens
    val c0 = doc1(0)._3.split(" "); val c1 = doc1(1)._3.split(" ")
    assert(c0.takeRight(5).toSeq == c1.take(5).toSeq)
    // every token appears in some chunk
    assert(doc1.flatMap(_._3.split(" ")).toSet == words.toSet)
    // short doc: one chunk, whole text
    val doc2 = got.filter(_._1 == 2L)
    assert(doc2.length == 1 && doc2(0)._3 == "tiny doc" && doc2(0)._4 == 2L)
  }

  test("persisted IVF index: directory pruning, results identical to in-job IVF") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_test"
    Similarity.buildIvfIndex(emb, path, cells = 8, lloydIters = 3)
    // centers file is tiny; vectors are partitioned one directory per cell
    val dirs = new java.io.File(s"$path/vectors").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(dirs.nonEmpty && dirs.length <= 8, dirs.mkString(", "))
    val fromIndex = Similarity.ivfIndexTopK(spark, path, k = 5,
      numQueries = 3, nProbe = 2)
    // probed cells must land as a partition filter — ANN as directory
    // pruning, the corpus outside the probe set is never read
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe set should prune cell directories:\n$plan")
    val inJob = Similarity.ivfTopK(emb, k = 5, numQueries = 3,
      cells = 8, nProbe = 2, lloydIters = 3)
    assert(fromIndex.collect().map(_.toString).sorted.toSeq ==
      inJob.collect().map(_.toString).sorted.toSeq,
      "persisted index must reproduce the in-job IVF results exactly")
  }

  test("persisted IVF incremental add: parity with a rebuild, old cells untouched") {
    // trainSample=64 and part1 holding the first 300 vec_ids make the
    // part1-built quantizer IDENTICAL to a full-corpus build's (both
    // train on the first 64 vectors), so append-vs-rebuild parity is
    // exact — the spec contract for the stored-quantizer assignment path
    val tmp = System.getProperty("java.io.tmpdir")
    val p1 = emb.filter(col("vec_id") < 300)
    val p2 = emb.filter(col("vec_id") >= 300)
    val incPath = s"$tmp/graft_ivf_inc_${System.nanoTime()}"
    val fullPath = s"$tmp/graft_ivf_full_${System.nanoTime()}"
    Similarity.buildIvfIndex(p1, incPath, cells = 8, trainSample = 64, lloydIters = 3)
    val before = new java.io.File(s"$incPath/vectors").listFiles()
      .filter(_.getName.startsWith("cell=")).flatMap(_.listFiles())
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getPath -> f.lastModified).toMap
    Similarity.addToIvfIndex(p2, incPath)
    // append must not rewrite the existing cell files
    val after = new java.io.File(s"$incPath/vectors").listFiles()
      .filter(_.getName.startsWith("cell=")).flatMap(_.listFiles())
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getPath -> f.lastModified).toMap
    assert(before.forall { case (p, m) => after.get(p).contains(m) },
      "incremental add rewrote pre-existing cell files")
    Similarity.buildIvfIndex(emb, fullPath, cells = 8, trainSample = 64, lloydIters = 3)
    val inc = Similarity.ivfIndexTopK(spark, incPath, k = 5, numQueries = 3, nProbe = 2)
      .collect().map(_.toString).sorted.toSeq
    val full = Similarity.ivfIndexTopK(spark, fullPath, k = 5, numQueries = 3, nProbe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(inc == full, "append diverged from a same-quantizer rebuild")
  }

  test("funnel depth: ordered steps, strict time, nested survivors") {
    val s = spark
    import s.implicits._
    val e = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L), // full
      (2L, "purchase", 10L), (2L, "view", 20L), (2L, "click", 30L), // 2: no purchase after click
      (3L, "click", 10L),                                           // 0: never viewed
      (4L, "click", 10L), (4L, "view", 20L),                        // 1: click precedes view
      (5L, "view", 10L), (5L, "click", 10L)                         // 1: strict >, same ts
    ).toDF("user_id", "event_type", "ts")
    val got = Funnels.funnelDepth(e, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 3, 2L -> 2, 3L -> 0, 4L -> 1, 5L -> 1), got.toString)
    // conversion report over the same fixture: exact-depth counts plus
    // the cumulative reached-at-least bars
    val report = Funnels.funnelReport(e, Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(report == Map(
      0 -> ((1L, 5L)), // everyone reaches depth >= 0
      1 -> ((2L, 4L)),
      2 -> ((1L, 2L)),
      3 -> ((1L, 1L))), report.toString)
  }

  test("retention triangle: cohorts, offsets, and dedup within a week") {
    val s = spark
    import s.implicits._
    val wk = 7L * 86400L * 1000000000L
    val e = Seq(
      (1L, wk * 10 + 5), (1L, wk * 10 + 9), (1L, wk * 11),   // cohort 10, back wk 11
      (2L, wk * 10),     (2L, wk * 12 + 3),                  // cohort 10, back wk 12
      (3L, wk * 11 + 1)                                      // cohort 11 only
    ).toDF("user_id", "ts")
    val got = Funnels.retention(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (10L, 0L, 2L), // users 1,2 in their first week (dup events collapse)
      (10L, 1L, 1L), // user 1 returns week 11
      (10L, 2L, 1L), // user 2 returns week 12
      (11L, 0L, 1L)  // user 3's cohort
    ), got.toString)
  }

  test("bigram novelty: shared phrasing scores low, unique phrasing high") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps"),   // fully unique phrasing
      (2L, "alpha beta gamma delta"),      // shared with doc 3 verbatim
      (3L, "alpha beta gamma delta"),
      (4L, "solo")                         // <2 tokens: no bigrams, drops out
    ).toDF("doc_id", "text")
    val got = Mixture.bigramNovelty(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(!got.contains(4L))
    assert(got(1L) == ((4L, 4L, 4L))) // 4 bigrams, all corpus-unique
    assert(got(2L) == ((3L, 3L, 0L))) // every bigram shared with doc 3
    assert(got(3L) == ((3L, 3L, 0L)))
  }

  test("incremental dedup: the store remembers across batches") {
    val s = spark
    import s.implicits._
    // URI-form path: the store check must go through the Hadoop FS of the
    // path's scheme (a java.io.File test is permanently false for these)
    val store = s"file://${System.getProperty("java.io.tmpdir")}/graft_dedup_store_" +
      System.nanoTime()
    val batch1 = Seq((1L, "first document"), (2L, "second document"),
      (3L, "first document")).toDF("doc_id", "text")
    val fresh1 = Dedup.freshAgainstStore(batch1, store)
    // in-batch dedup: min doc_id wins
    assert(fresh1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    Dedup.admit(fresh1, store)
    // batch 2: one replay of batch 1, one brand-new doc
    val batch2 = Seq((10L, "second document"), (11L, "a new third document"))
      .toDF("doc_id", "text")
    val fresh2 = Dedup.freshAgainstStore(batch2, store)
    assert(fresh2.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L))
    Dedup.admit(fresh2, store)
    // batch 3: everything seen before -> nothing fresh
    val batch3 = Seq((20L, "first document"), (21L, "a new third document"))
      .toDF("doc_id", "text")
    assert(Dedup.freshAgainstStore(batch3, store).count() == 0)
  }

  test("incremental near-dup: the signature store rejects edits of admitted docs") {
    val s = spark
    import s.implicits._
    val store = s"${System.getProperty("java.io.tmpdir")}/graft_neardup_store_" +
      System.nanoTime()
    val base = "the quick brown fox jumps over the lazy dog while rain falls " +
      "on the quiet grey town and nobody watches the empty street tonight"
    val batch1 = Seq((1L, base)).toDF("doc_id", "text")
    val fresh1 = Dedup.nearDupFreshAgainstStore(batch1, store)
    assert(fresh1.count() == 1) // empty store: everything is fresh
    Dedup.admitNearDup(fresh1, store)
    // batch 2: a light edit of the admitted doc + one unrelated doc
    val edited = base.replace("lazy dog", "sleepy dog")
    val unrelated = "completely different content about distributed query " +
      "engines and their shuffle behaviour at large scale in production"
    val batch2 = Seq((10L, edited), (11L, unrelated)).toDF("doc_id", "text")
    val fresh2 = Dedup.nearDupFreshAgainstStore(batch2, store)
    assert(fresh2.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L),
      "the near-identical edit must be rejected, the unrelated doc admitted")
    Dedup.admitNearDup(fresh2, store)
    // batch 3: an edit of BATCH 2's admitted doc is now rejected too
    val batch3 = Seq((20L, unrelated.replace("production", "practice")))
      .toDF("doc_id", "text")
    assert(Dedup.nearDupFreshAgainstStore(batch3, store).count() == 0)
  }

  test("dedupCorpus: exact replays die first, near-dup clusters keep min id") {
    val s = spark
    import s.implicits._
    val long1 = "the quick brown fox jumps over the lazy dog while rain " +
      "falls on the quiet grey town and nobody watches the empty street"
    val df = Seq(
      (1L, long1),                                  // canonical of cluster {1,4,5}
      (2L, "totally unrelated content about query engines and shuffles " +
        "in large distributed production clusters running every night"),
      (3L, long1.replace("lazy dog", "sleepy dog")), // near-dup of 1
      (4L, long1),                                   // exact replay of 1
      (5L, "short unique note")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupCorpus(df)
    // survivors: 1 (canonical), 2, 5; 4 dies in the exact stage, 3 in
    // the near-dup stage; all original columns survive
    assert(got.columns.toSeq == Seq("doc_id", "text"))
    assert(got.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 5L))
  }

  // ---- dedup staging: survivor ids, derive once -----------------------------

  /** Words of document `d`'s text: `n` tokens that occur in no other text. */
  private def words(d: Int, n: Int): Seq[String] = (0 until n).map(i => s"d${d}w$i")

  /** The staging edge cases in one parquet file: a funnel-rejected exact
    * twin holding the lower id, a near-dup chain whose ends are not
    * near-dups of each other, exact and near duplicates mixed in one
    * component, and a quoted-subset pair. */
  private lazy val edgeCorpus = {
    val s = spark
    import s.implicits._
    val chain0 = words(10, 40)
    val chain1 = chain0.patch(5, Seq("c1a", "c1b"), 2)
    val chain2 = chain1.patch(25, Seq("c2a", "c2b"), 2)
    val mixed = words(20, 40)
    val mixedNear = mixed.patch(12, Seq("m1a", "m1b"), 2)
    val quote = words(31, 22)
    def t(ws: Seq[String]) = ws.mkString(" ")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_dedup_edges_${System.nanoTime()}"
    Seq(
      (1L, t(words(1, 30)), "twin", "de"),   // funnel rejects it, lower id
      (2L, t(words(1, 30)), "twin", "en"),   // its exact twin passes
      (3L, t(words(3, 30)), "base", "en"),
      (4L, "too short to keep", "junk", "en"),
      (10L, t(chain0), "chain", "en"),
      (11L, t(chain1), "chain", "en"),
      (12L, t(chain2), "chain", "en"),
      (19L, t(mixedNear), "mixed", "en"),    // near of 20, lowest id
      (20L, t(mixed), "mixed", "en"),
      (21L, t(mixed), "mixed", "en"),        // exact of 20
      (22L, t(mixedNear), "mixed", "en"),    // exact of 19
      (30L, t(words(30, 10) ++ quote ++ words(32, 10)), "cont", "en"),
      (31L, t(quote), "cont", "en")          // quoted whole inside 30
    ).toDF("doc_id", "text", "source", "lang").coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  /** Reference staging: the exact-survivor frame itself, joined to the
    * canonical ids of the components over `edgesOf`'s pairs. */
  private def stagedReference(docs: DataFrame, edgesOf: DataFrame => DataFrame) = {
    val exactKeep = docs.join(
      Dedup.exactGroups(docs).select(col("keep_id").as("doc_id")), Seq("doc_id"))
    val canon = Dedup.canonicalIds(exactKeep, edgesOf(exactKeep))
    exactKeep.join(
      canon.filter(col("canonical_id") === col("doc_id")).select("doc_id"), Seq("doc_id"))
  }

  private def rowSet(df: DataFrame) = df.collect().map(_.toSeq).toSet
  private def idSet(df: DataFrame) =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("dedup staging edge cases: rows equal the reference staging") {
    val near = (ek: DataFrame) => Dedup.verifiedNearDups(ek)
    val both = (ek: DataFrame) => Dedup.verifiedNearDups(ek)
      .select("a", "b").unionByName(Dedup.containmentPairs(ek).select("a", "b"))
    // the chain holds only through its middle: 10~11 and 11~12, not 10~12
    val chainPairs = Dedup.verifiedNearDups(edgeCorpus.filter(col("source") === "chain"))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(chainPairs == Set((10L, 11L), (11L, 12L)), s"chain pairs: $chainPairs")

    val plain = Dedup.dedupCorpus(edgeCorpus)
    assert(plain.columns.toSeq == edgeCorpus.columns.toSeq)
    assert(rowSet(plain) == rowSet(stagedReference(edgeCorpus, near)))
    assert(idSet(plain) == Set(1L, 3L, 4L, 10L, 19L, 30L, 31L))

    val withCont = Dedup.dedupCorpusWithContainment(edgeCorpus)
    assert(withCont.columns.toSeq == edgeCorpus.columns.toSeq)
    assert(rowSet(withCont) == rowSet(stagedReference(edgeCorpus, both)))
    assert(idSet(withCont) == Set(1L, 3L, 4L, 10L, 19L, 30L))

    // the funnel runs before the hashing: doc 1 would win the exact group
    // over the unfiltered corpus, so its twin 2 must be the one kept
    val kept = edgeCorpus.join(TextAnalysis.filterFunnel(edgeCorpus)
      .filter(col("keep")).select("doc_id"), Seq("doc_id"))
    val prepared = Prepare.prepareCorpus(edgeCorpus)
    assert(prepared.columns.toSeq == Seq("doc_id", "source", "split"))
    assert(rowSet(prepared) == rowSet(
      Mixture.splitAssign(stagedReference(kept, near), 0.1, 0.1, "prep")))
    assert(idSet(prepared) == Set(2L, 3L, 10L, 19L, 30L, 31L))
  }

  test("prepareCorpus reads text once: its plan scans no text and hashes nothing") {
    import org.apache.spark.sql.catalyst.expressions.Md5
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val out = Prepare.prepareCorpus(docs)
    out.collect()
    val plan = out.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = helper.collectWithSubqueries(plan) { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, plan.treeString)
    assert(scans.forall(!_.requiredSchema.fieldNames.contains("text")),
      s"the returned frame re-reads the text:\n${plan.treeString}")
    // the split coin hashes doc_id; no digest of the text may remain
    def hashesText(e: org.apache.spark.sql.catalyst.expressions.Expression) = e.exists {
      case m: Md5 => m.references.exists(_.name == "text")
      case _      => false
    }
    assert(helper.collectWithSubqueries(plan) {
      case p if p.expressions.exists(hashesText) => p
    }.isEmpty, s"the returned frame re-hashes the text:\n${plan.treeString}")
  }

  test("dedupCorpus pins nothing but its survivor-id checkpoint") {
    val sc = spark.sparkContext
    def cached = sc.getPersistentRDDs.keySet.toSet
    val before = cached
    val got = Dedup.dedupCorpus(docs)
    val pinned = cached -- before
    assert(pinned.size == 1, s"cached RDDs left behind: $pinned")
    assert(got.count() > 0)
    org.apache.spark.sql.GraftBridge.freeCheckpoint(got)
    assert((cached -- before).isEmpty,
      "the one RDD left behind must be the checkpoint the result reads")
  }

  test("candidate pairs: typed expansion equals the transform/slice expression") {
    val s = spark
    import s.implicits._
    val cap = 8
    // bucket j of band 0 holds j members (0 to 6, then cap and cap + 1);
    // band 1 regroups the same ids, so pairs repeat across bands
    val sizes = (0 to 6) ++ Seq(cap, cap + 1)
    val band0 = sizes.zipWithIndex.flatMap { case (n, j) =>
      (0 until n).map(i => (100L * j + i, 0, j.toLong)) }
    val band1 = band0.map { case (id, _, _) => (id, 1, id % 7) }
    val buckets = (band0 ++ band1).toDF("doc_id", "band", "bh")
    val got = Dedup.candidatePairsWithStats(buckets, cap).pairs
    val want = buckets.groupBy("band", "bh")
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(col("n").between(2, cap))
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids)), y -> named_struct('a', x, 'b', y))))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    assert(got.schema == want.schema)
    val rows = got.as[(Long, Long)].collect()
    assert(rows.length == rows.distinct.length)
    assert(rows.toSet == want.as[(Long, Long)].collect().toSet)
    // the bucket at the cap pairs up; the one past it only through band 1
    def bandZeroOnly(j: Long) = rows.exists { case (a, b) =>
      a / 100 == j && b / 100 == j && a % 7 != b % 7 }
    assert(bandZeroOnly(7) && !bandZeroOnly(8))
    assert(!got.queryExecution.executedPlan.toString.contains("lambdafunction"))
  }

  test("simhash pairs: lambda-free banding and expansion equal the transform/slice expressions") {
    val s = spark
    import s.implicits._
    val cap = 8
    val base = (1 to 40).map(i => s"word$i")
    // cluster j holds j texts that differ in one trailing token (0 to 6
    // members), then identical clones at the cap and one past it
    val near = (0 to 6).flatMap(j => (0 until j).map(i =>
      (100L * j + i, (base.map(_ + s"c$j") :+ s"tail$i").mkString(" "))))
    val clones = Seq(cap, cap + 1).zipWithIndex.flatMap { case (n, k) =>
      (0 until n).map(i => (1000L * (k + 1) + i, base.mkString(" ") + s" clone$k")) }
    val docs = (near ++ clones :+ (9999L, null)).toDF("doc_id", "text")
    for (maxHamming <- Seq(3, 16)) {
      val got = Dedup.simhashNearDupsWithStats(docs, maxHamming, cap)
      val banded = Dedup.simhash(docs).select(col("doc_id"), col("simhash"),
        explode(expr("transform(sequence(0, 3), j -> " +
          "named_struct('band', j, 'bh', (simhash >> (j*16)) & 65535))")).as("bb"))
        .select(col("doc_id"), col("simhash"), col("bb.band").as("band"),
          col("bb.bh").as("bh"))
      val sized = banded.join(
        banded.groupBy("band", "bh").agg(count(lit(1)).as("bucket_size")), Seq("band", "bh"))
      val wantCapped = sized.filter(col("bucket_size") > cap)
        .select("band", "bh", "bucket_size").distinct()
      val want = sized.filter(col("bucket_size").between(2, cap))
        .groupBy("band", "bh")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ms"))
        .select(explode(expr(
          "flatten(transform(ms, (x, i) -> " +
            "transform(slice(ms, i + 2, size(ms)), y -> named_struct(" +
            "'a', x.doc_id, 'b', y.doc_id, " +
            "'hamming', bit_count(x.simhash ^ y.simhash)))))")).as("p"))
        .filter(col("p.hamming") <= maxHamming)
        .select(col("p.a").as("a"), col("p.b").as("b"), col("p.hamming").as("hamming"))
        .distinct()
      assert(got.pairs.schema.map(_.dataType) == want.schema.map(_.dataType))
      val rows = got.pairs.as[(Long, Long, Int)].collect()
      assert(rows.length == rows.distinct.length)
      assert(rows.toSet == want.as[(Long, Long, Int)].collect().toSet, s"maxHamming=$maxHamming")
      assert(got.cappedBuckets.collect().map(_.toSeq).toSet ==
        wantCapped.collect().map(_.toSeq).toSet)
      assert(!got.pairs.queryExecution.executedPlan.toString.contains("lambdafunction"))
    }
    // the clone bucket at the cap pairs up; the one past it is capped
    val pairs = Dedup.simhashNearDups(docs, 3, cap).as[(Long, Long, Int)].collect()
    assert(pairs.count(p => p._1 / 1000 == 1) == cap * (cap - 1) / 2)
    assert(!pairs.exists(_._1 / 1000 == 2))
  }

  test("store admits are idempotent; compaction preserves verdicts") {
    val s = spark
    import s.implicits._
    val tmp = System.getProperty("java.io.tmpdir")
    def storeRows(p: String) = spark.read.parquet(p).count()

    // exact store: double-admit leaves size AND verdicts unchanged
    val dstore = s"$tmp/graft_dedup_idem_${System.nanoTime()}"
    val b1 = Seq((1L, "alpha doc"), (2L, "beta doc")).toDF("doc_id", "text")
    val f1 = Dedup.freshAgainstStore(b1, dstore)
    Dedup.admit(f1, dstore)
    val sizeOnce = storeRows(dstore)
    Dedup.admit(f1, dstore) // retry / double-drive
    assert(storeRows(dstore) == sizeOnce, "double admit grew the digest store")
    val b2 = Seq((10L, "alpha doc"), (11L, "gamma doc")).toDF("doc_id", "text")
    assert(Dedup.freshAgainstStore(b2, dstore)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L))
    Dedup.compactStore(spark, dstore)
    assert(storeRows(dstore) == sizeOnce)
    assert(Dedup.freshAgainstStore(b2, dstore)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L),
      "compaction changed verdicts")

    // near-dup store: same replay discipline, keyed on the bands side
    val nstore = s"$tmp/graft_neardup_idem_${System.nanoTime()}"
    val base = "the quick brown fox jumps over the lazy dog while rain falls " +
      "on the quiet grey town and nobody watches the empty street tonight"
    val nb1 = Seq((1L, base)).toDF("doc_id", "text")
    val nf1 = Dedup.nearDupFreshAgainstStore(nb1, nstore)
    Dedup.admitNearDup(nf1, nstore)
    val bandsOnce = storeRows(s"$nstore/bands")
    val shinglesOnce = storeRows(s"$nstore/shingles")
    Dedup.admitNearDup(nf1, nstore) // retry
    assert(storeRows(s"$nstore/bands") == bandsOnce &&
      storeRows(s"$nstore/shingles") == shinglesOnce,
      "double admitNearDup grew the signature store")
    // crash healing: shingles were written but bands were not — the
    // retry must re-admit the doc (bands absent), duplicating only
    // shingle rows, and compaction reclaims those
    val crashed = Seq((30L, "completely different content about engines and " +
      "shuffles at very large scale in production clusters everywhere"))
      .toDF("doc_id", "text")
    val cf = Dedup.nearDupFreshAgainstStore(crashed, nstore)
    cf.select(col("doc_id"), col("shingles"))
      .write.mode("append").parquet(s"$nstore/shingles") // simulated partial admit
    Dedup.admitNearDup(cf, nstore) // heal
    val edited = Seq((40L, base.replace("lazy dog", "sleepy dog"))).toDF("doc_id", "text")
    assert(Dedup.nearDupFreshAgainstStore(edited, nstore).count() == 0,
      "store verdicts broken after crash healing")
    assert(storeRows(s"$nstore/shingles") == shinglesOnce + 2) // healed dup rows
    Dedup.compactNearDupStore(spark, nstore)
    assert(storeRows(s"$nstore/shingles") == shinglesOnce + 1,
      "compaction should keep one shingle row per doc")
    assert(Dedup.nearDupFreshAgainstStore(edited, nstore).count() == 0,
      "compaction changed near-dup verdicts")
  }

  test("containment store: a quoted-subset doc in a later batch is rejected") {
    val s = spark
    import s.implicits._
    val cstore = s"${System.getProperty("java.io.tmpdir")}/graft_cont_idem_${System.nanoTime()}"
    def storeRows() = spark.read.parquet(s"$cstore/cgrams").count()
    // batch 1: a long document, admitted
    val long1 = (1 to 40).map(i => s"sentence$i word$i token$i").mkString(" ")
    val b1 = Seq((1L, long1),
      (2L, "wholly unrelated prose about distributed shuffles and encoders " +
        "spilling cleanly under memory pressure in long nightly batch jobs"))
      .toDF("doc_id", "text")
    val f1 = Dedup.containmentFreshAgainstStore(b1, cstore)
    assert(f1.count() == 2, "empty store must admit everything")
    Dedup.admitContainment(f1, cstore)
    val sizeOnce = storeRows()
    Dedup.admitContainment(f1, cstore) // replay / double-drive
    assert(storeRows() == sizeOnce, "double admit grew the containment store")

    // batch 2: doc 10 quotes a contiguous half of doc 1 (tau-contained —
    // the asymmetric case MinHash bands miss), doc 11 is novel
    val quote = long1.split(" ").slice(0, 60).mkString(" ")
    val b2 = Seq((10L, quote),
      (11L, "fresh unseen material mentioning watermark semantics and state " +
        "stores compacting quietly between micro batch executions tonight"))
      .toDF("doc_id", "text")
    val f2 = Dedup.containmentFreshAgainstStore(b2, cstore)
    assert(f2.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L),
      "quoted-subset doc admitted in a later batch must be rejected")
    Dedup.admitContainment(f2, cstore)
    val sizeTwice = storeRows()
    Dedup.admitContainment(f2, cstore) // replay again
    assert(storeRows() == sizeTwice)

    // racing-admit residue compacts away without changing verdicts
    f2.select(col("doc_id"), explode(col("cgrams")).as("g"))
      .write.mode("append").parquet(s"$cstore/cgrams") // simulated race dup
    Dedup.compactContainmentStore(spark, cstore)
    assert(storeRows() == sizeTwice, "compaction did not reclaim race residue")
    assert(Dedup.containmentFreshAgainstStore(
        Seq((20L, quote)).toDF("doc_id", "text"), cstore).count() == 0,
      "compaction changed containment verdicts")
  }

  test("ingest gate: exact replay, near-dup, and quoted subset all die across batches") {
    val s = spark
    import s.implicits._
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_gate_${System.nanoTime()}"
    def sizes() = (
      spark.read.parquet(s"$root/digests").count(),
      spark.read.parquet(s"$root/neardup/bands").count(),
      spark.read.parquet(s"$root/containment/cgrams").count())
    val long1 = (1 to 40).map(i => s"sentence$i word$i token$i").mkString(" ")
    val b1 = Seq((1L, long1),
      (2L, "wholly unrelated prose about distributed shuffles and encoders " +
        "spilling cleanly under memory pressure in long nightly batch jobs"))
      .toDF("doc_id", "text")
    val f1 = Dedup.freshAgainstAllStores(b1, root)
    assert(f1.count() == 2)
    Dedup.admitAll(f1, root)
    val once = sizes()
    Dedup.admitAll(f1, root) // full replay: every store byte-stable
    assert(sizes() == once, "replayed admitAll grew a store")

    // batch 2: one of each rejection class + one novel doc
    val b2 = Seq(
      (20L, long1),                                           // exact replay
      (21L, long1.replace("token7", "token7x")),              // near-dup
      (22L, long1.split(" ").slice(0, 60).mkString(" ")),     // quoted subset
      (23L, "genuinely new material on watermark state stores compacting " +
        "between micro batch executions while the cluster sleeps tonight"))
      .toDF("doc_id", "text")
    val f2 = Dedup.freshAgainstAllStores(b2, root)
    assert(f2.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(23L),
      "each rejection class must die at its stage; only the novel doc survives")
    Dedup.admitAll(f2, root)
    // the admitted novel doc is itself a replay now: nothing fresh remains
    assert(Dedup.freshAgainstAllStores(b2, root).count() == 0)
  }

  test("boilerplate removal on the corpus: totals reconcile") {
    val got = Dedup.boilerplateClean(docs, window = 4, minDf = 5)
    assert(got.count() == docs.count()) // every doc survives as a row
    val removed = got.agg(sum("n_removed")).collect()(0).getLong(0)
    assert(removed >= 0)
    // untouched docs reconstruct to their normalized text exactly
    val joined = got.join(docs, "doc_id")
      .filter(col("n_removed") === 0)
      .withColumn("norm", concat_ws(" ", split(lower(col("text")), "\\s+")))
    assert(joined.filter(col("clean_text") =!= col("norm")).count() == 0)
  }
}
