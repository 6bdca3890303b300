package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF, Vectors}
import graft.operators.{Dedup, Multimodal}

/** Semantics tests for the extended analytics surface (SURVEY §7.6). */
class AnalyticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(cores = 4)

  test("polyHash: deterministic fold matching the reference formula") {
    import spark.implicits._
    val got = Seq("hello world").toDF("s").select(TF.polyHash(col("s"))).as[Long].head()
    // independent scalar computation
    val want = "hello world".foldLeft(0L)((h, c) => (h * 31 + c.toInt) % TF.HashP)
    assert(got == want)
  }

  test("wordShingles: positions 1..len-n, distinct, short docs → empty") {
    import spark.implicits._
    val got = Seq("a b c d e f").toDF("t")
      .select(TF.wordShingles(col("t"), 4)).as[Seq[String]].head()
    assert(got == Seq("a b c d", "b c d e")) // len 6 → positions 1..2 (len-4)
    val short = Seq("a b c d").toDF("t")
      .select(TF.wordShingles(col("t"), 4)).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("shingle tokenization keeps boundary empty tokens (oracle trim+split parity)") {
    import spark.implicits._
    // space-only trim; leading tab → leading empty token → shingle with leading space
    val got = Seq("\tfoo bar baz qux quux").toDF("t")
      .select(graft.expressions.WordShingleStrings(col("t"), 4)).as[Seq[String]].head()
    assert(got.toSet == Set(" foo bar baz", "foo bar baz qux"))
    // preimage contract holds on the same input
    val (hs, hOfS) = Seq("\tfoo bar baz qux quux").toDF("t")
      .select(graft.expressions.WordShingleHashes(col("t"), 4),
        transform(graft.expressions.WordShingleStrings(col("t"), 4), x => TF.polyHash(x)))
      .as[(Seq[Long], Seq[Long])].head()
    assert(hs == hOfS)
  }

  test("simhashPairs ignores shingle-less docs (no all-ones fingerprint pairs)") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "one two three four"),
      (3L, "a b c d e f g h i j"), (4L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, col("doc_id"), col("text"), 4, 60, 6, 3)
      .select("i", "j").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((3L, 4L))) // the two short docs must NOT pair
  }

  test("exact dedup: canonical id = min, copies counted, case/space normalized") {
    import spark.implicits._
    val df = Seq((1L, "Hello  X"), (2L, "hello  x"), (3L, "other")).toDF("doc_id", "text")
    val got = Dedup.exact(df, col("doc_id"), col("text"))
      .orderBy(col("canonical_id")).as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (3L, 1L)))
  }

  test("jaccard pairs: identical docs → j=1 pair; disjoint docs → none") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(df, col("doc_id"), col("text"), 4, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("prefix-filtered jaccard pairs == brute-force exact jaccard (sf0.001 docs)") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    // brute-force oracle in plain Scala: distinct 4-word shingles per
    // doc — positions 1..len-n, the engine/DuckDB enumeration (the
    // final window is deliberately NOT emitted; see TF.wordShingles)
    def shingles(t: String): Set[String] = {
      val w = t.trim.split("\\s+", -1)
      if (w.length < 5) Set.empty
      else (0 until w.length - 4).map(i => w.slice(i, i + 4).mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingles(t) }
    val want = (for {
      (i, si) <- sets; (j, sj) <- sets
      if i < j && si.nonEmpty
      shared = (si & sj).size
      if shared.toDouble / (si.size + sj.size - shared) >= 0.5
    } yield (i, j)).toSet
    val got = Dedup.jaccardPairs(Tables.documents(spark, "/root/testdata/sf0.001"),
        col("doc_id"), col("text"), 4, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(want.nonEmpty, "testdata must actually contain near-dup pairs")
  }

  test("minhash LSH finds what exact jaccard finds on near-dups") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val df = Seq((1L, base), (2L, near), (3L, "completely different words in every position here now ok fine"))
      .toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(df, col("doc_id"), col("text"), 4, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(df, col("doc_id"), col("text"), 4, 32, 16, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L)))
    assert(lsh == exact)
  }

  test("edit-distance near-dup: exact distances, threshold discriminates, " +
    "non-candidates never scored") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today " +
      "with many more words to make the document long enough for a tight bound"
    val near = base.replace("today", "tomoday")  // 2 edits on ~140 chars ≈ 1.4%
    val far = base.replace("quick brown fox", "slow beige ferret")
      .replace("lazy dog", "alert wolf").replace("many more", "so few")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(df, col("doc_id"), col("text"), 4, 32, 16, 2)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // (1,2) survives with the exact distance; (1,3)/(2,3) either miss
    // the bands or fail the 2% bound — both correct rejections
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(got.head._3 == lev(base, near).toLong, "distance not exact")
    assert(got.head._4 == math.max(base.length, near.length).toLong)
  }

  test("quantizeI8: codes bounded, extremes hit ±127, zero vector → zeros") {
    import spark.implicits._
    val got = Seq(Seq(0.5f, -1.0f, 0.25f, 0.0f), Seq(0.0f, 0.0f))
      .toDF("v").select(graft.expressions.QuantizeI8(col("v")))
      .as[Seq[Int]].collect().toSeq
    // scale = 127/1.0; floor(0.5*127+0.5)=64, floor(-127+0.5)=-127, floor(31.75+0.5)=32
    assert(got == Seq(Seq(64, -127, 32, 0), Seq(0, 0)))
    val dot = Seq((Seq(1, 2, 3), Seq(4, -5, 6))).toDF("a", "b")
      .select(graft.expressions.IntDot(col("a"), col("b"))).as[Long].head()
    assert(dot == 4 - 10 + 18)
  }

  test("quantizeI8 non-finite inputs degrade to 0 codes (documented precondition)") {
    import spark.implicits._
    val got = Seq(Seq(Float.NaN, 1.0f, Float.PositiveInfinity))
      .toDF("v").select(graft.expressions.QuantizeI8(col("v")))
      .as[Seq[Int]].head()
    // maxAbs = +Inf → scale 0; finite x*0 → floor(0.5)=0; NaN/Inf → 0
    assert(got == Seq(0, 0, 0))
  }

  // recall is asserted at BOTH the unit scale and the bench scale
  // (sf0.1 = 2000 vectors): quantization error compounds with corpus
  // density, so a bound checked only on 500 vectors says little about
  // the scale the bench actually reports. Measured: 1.00 at sf0.001,
  // 0.967 at sf0.1 (recorded in PERF.md).
  for (sf <- Seq("sf0.001", "sf0.1"))
    test(s"quantized search recall@3 vs float-exact ranking ($sf)") {
      import spark.implicits._
      val dir = s"/root/testdata/$sf"
      val exact = graft.queries.AnalyticsQueries.a01BruteForceTopK(spark, dir)
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val quant = graft.queries.AnalyticsQueries.a05QuantizedAnn(spark, dir)
        .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recall = exact.keys.toSeq.map { q =>
        (exact(q) & quant.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
      }.sum / exact.size
      assert(recall >= 0.85, s"quantized recall@3 degraded to $recall at $sf")
    }

  // PQ compresses 64 floats to 4 one-byte codes (64×), so its ADC
  // estimate alone cannot rank this corpus (synthetic near-uniform
  // unit vectors — neighbors separated by tiny cosine gaps); the
  // two-stage shortlist+re-rank is what makes the recall real. The
  // bound is looser at bench scale because the L=100 shortlist covers
  // a smaller corpus fraction (5% at sf0.1 vs 20% at sf0.001).
  // Measured: 0.82 at sf0.001, 0.67 at sf0.1 (recorded in PERF.md).
  for ((sf, bound) <- Seq(("sf0.001", 0.7), ("sf0.1", 0.55)))
    test(s"PQ shortlist+rerank recall@5 vs float-exact ranking ($sf)") {
      import spark.implicits._
      val dir = s"/root/testdata/$sf"
      val exact = graft.queries.AnalyticsQueries.a01BruteForceTopK(spark, dir)
        .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val pq = graft.queries.AnalyticsQueries.a09PqAnn(spark, dir)
        .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recall = exact.keys.toSeq.map { q =>
        (exact(q) & pq.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
      }.sum / exact.size
      assert(recall >= bound, s"PQ recall@5 degraded to $recall at $sf")
    }

  // a11 searches the PERSISTED index a09 builds inline; the algebra is
  // deterministic integers end to end, so the full ranked table must be
  // row-identical — any drift means the stored index diverged from the
  // build math.
  test("a11 prebuilt search == a09 inline build+search, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("rank"), col("neighbor_id"))
        .as[(Long, Int, Long)].collect().toSeq
    assert(rows(graft.queries.AnalyticsQueries.a11PqSearchPrebuilt(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.a09PqAnn(spark, dir)))
  }

  // a12 trains codebooks on the corpus half only and encodes the
  // increment against them — the result must still surface increment
  // rows (odd ids) as neighbors, and recall vs the float-exact ranking
  // must stay near a09's (quantization drift, not collapse).
  test("a12 corpus-trained codebooks index the increment; recall holds") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.AnalyticsQueries.a12PqIndexUpdate(spark, dir)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect()
    assert(got.exists(_._2 % 2 == 1), "no increment (odd-id) neighbor surfaced")
    val exact = graft.queries.AnalyticsQueries.a01BruteForceTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val byQ = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.toSeq.map { q =>
      (exact(q) & byQ.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }.sum / exact.size
    assert(recall >= 0.6, s"a12 recall@5 collapsed to $recall")
  }

  // a12 is APPEND-ONLY: an update run reads the persisted corpus codes
  // and encodes only the increment — it must leave the stored corpus
  // half byte-identical, and the stored half must cover exactly the
  // even (corpus) ids. A drift here means an update recomputed (or
  // worse, rewrote) corpus state it claims never to touch.
  test("a12 update leaves the stored corpus codes byte-identical") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val stage = graft.queries.AnalyticsQueries.a12CorpusIndexStage(spark, dir)
    def snapshot(): Seq[(Long, Long, Long, Long, Long)] =
      spark.read.parquet(s"$stage/codes")
        .select(col("vec_id"), col("cid0"), col("cid1"), col("cid2"), col("cid3"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    val before = snapshot()
    assert(before.nonEmpty && before.forall(_._1 % 2 == 0),
      "stored corpus codes must cover exactly the even ids")
    graft.queries.AnalyticsQueries.a12PqIndexUpdate(spark, dir).collect()
    assert(snapshot() == before, "an update run changed the stored corpus codes")
  }

  // bpeMergeRound must be CANONICAL leftmost non-overlapping merging —
  // the exact cases where the old " l r "→" lr " string replace
  // under-merged: runs of repeated symbols (consecutive matches share
  // the delimiter space) and abutting l≠r chains.
  test("t14 merge round: canonical leftmost non-overlapping, repeated runs included") {
    import spark.implicits._
    def round(in: Seq[String], l: String, r: String): Seq[String] =
      graft.queries.AnalyticsQueries
        .bpeMergeRound(in.toDF("s"), l, r).as[String].collect().toSeq
    assert(round(Seq(" a a a a "), "a", "a") == Seq(" aa aa "))
    assert(round(Seq(" a a a "), "a", "a") == Seq(" aa a "))
    assert(round(Seq(" a a a a a "), "a", "a") == Seq(" aa aa a "))
    assert(round(Seq(" l r l r "), "l", "r") == Seq(" lr lr "))
    assert(round(Seq(" x l r y "), "l", "r") == Seq(" x lr y "))
    assert(round(Seq(" x y "), "l", "r") == Seq(" x y "))
    assert(round(Seq(" q "), "l", "r") == Seq(" q "))
  }

  // a19 searches the PERSISTED inverted index with per-query
  // top-8-rarest term pruning; scoring is integer tf·idf end to end,
  // so the ranked table must be row-identical to an inline
  // window-based recompute of the same definition — a path independent
  // of both the stored artifacts and the TopKByScore heap.
  test("a19 prebuilt keyword search == inline pruned tf-idf recompute, row for row") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val tf = docs.select(col("doc_id"), explode(TF.words(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idx = tf.join(dft, Seq("term"))
      .withColumn("impact", col("tf") * floor(lit(10000.0) * n / col("df")).cast("long"))
    val qt = tf.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("term")).distinct()
    val wprune = Window.partitionBy("query_id").orderBy(col("df").asc, col("term").asc)
    val qk = qt.join(dft, Seq("term"))
      .withColumn("trk", row_number().over(wprune)).filter(col("trk") <= 8)
      .select("query_id", "term")
    val wrank = Window.partitionBy("query_id")
      .orderBy(col("kw_score").desc, col("doc_id").asc)
    val want = idx.join(qk, Seq("term")).filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id").agg(sum("impact").as("kw_score"))
      .withColumn("kw_rank", row_number().over(wrank).cast("int"))
      .filter(col("kw_rank") <= 20)
      .select(col("query_id"), col("kw_rank"), col("doc_id"), col("kw_score"))
      .as[(Long, Int, Long, Long)].collect().toSeq.sorted
    val got = graft.queries.AnalyticsQueries.a19KeywordSearchPrebuilt(spark, dir)
      .as[(Long, Int, Long, Long)].collect().toSeq.sorted
    assert(want.nonEmpty && got == want)
  }

  // The corpus is ASCII, so the oracle gate alone never exercises NFC's
  // composing path — pin the kernel on real combining sequences here.
  test("t19 NFC kernel: combining sequences compose, ASCII is identity") {
    import spark.implicits._
    val out = Seq("é", "plain ascii", "Å", "ﬁ already-nfc é")
      .toDF("s").select(graft.expressions.NfcNormalize(col("s")).as("n"))
      .as[String].collect().toSeq
    assert(out == Seq("é", "plain ascii", "Å", "ﬁ already-nfc é"))
  }

  // a23 searches the PERSISTED passage index with a19's pruning under
  // passage-level df; the ranked table must be row-identical to an
  // inline window-based recompute of the a22 passage definition plus
  // the pruning — a path independent of the stored artifacts and the
  // TopKByScore heap.
  test("a23 prebuilt passage search == inline pruned passage recompute, row for row") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val chunks = docs
      .select(col("doc_id"), TF.words(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(1), size(col("toks")), lit(24)))
          .as(Seq("chunk_idx", "start_tok")))
      .select((col("doc_id") * 1024 + col("chunk_idx")).as("pid"), col("doc_id"),
        slice(col("toks"), col("start_tok"), lit(32)).as("ptoks"))
    val nP = chunks.count()
    val tf = chunks.select(col("pid"), col("doc_id"), explode(col("ptoks")).as("term"))
      .groupBy("pid", "doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfp = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idx = tf.join(dfp, Seq("term"))
      .withColumn("impact", col("tf") * floor(lit(10000.0) * nP / col("df")).cast("long"))
    val qt = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), explode(TF.words(col("text"))).as("term"))
      .distinct()
    val wprune = Window.partitionBy("query_id").orderBy(col("df").asc, col("term").asc)
    val qk = qt.join(dfp, Seq("term"))
      .withColumn("trk", row_number().over(wprune)).filter(col("trk") <= 8)
      .select("query_id", "term")
    val wrank = Window.partitionBy("query_id")
      .orderBy(col("p_score").desc, col("pid").asc)
    val want = idx.join(qk, Seq("term")).filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "pid").agg(sum("impact").as("p_score"))
      .withColumn("rank", row_number().over(wrank).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), expr("pid DIV 1024").as("doc_id"),
        expr("pid % 1024").as("chunk_idx"), col("p_score"))
      .as[(Long, Int, Long, Long, Long)].collect().toSeq.sorted
    val got = graft.queries.AnalyticsQueries.a23PassageSearchPrebuilt(spark, dir)
      .as[(Long, Int, Long, Long, Long)].collect().toSeq.sorted
    assert(want.nonEmpty && got == want)
  }

  // a21 is PURE COMPOSITION: its channel ranks must be exactly a19's
  // and a13's served ranks, its fused score the integer RRF of them,
  // and each query must fill all 10 fused slots. A drift here means
  // the fused plan re-derived a channel instead of composing the
  // stored-index searches.
  test("a21 fuses exactly the served a19/a13 ranks under integer RRF") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val kw = graft.queries.AnalyticsQueries.a19KeywordSearchPrebuilt(spark, dir)
      .select(col("query_id"), col("doc_id"), col("kw_rank"))
      .as[(Long, Long, Int)].collect().map { case (q, d, r) => (q, d) -> r }.toMap
    val vec = graft.queries.AnalyticsQueries.a13IvfPqSearchPrebuilt(spark, dir)
      .filter(col("query_id") < 10)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .as[(Long, Long, Int)].collect().map { case (q, d, r) => (q, d) -> r }.toMap
    val fused = graft.queries.AnalyticsQueries.a21HybridSearchPrebuilt(spark, dir)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("kw_rank"), col("vec_rank"), col("rrf_score"))
      .as[(Long, Int, Long, Option[Int], Option[Int], Long)].collect().toSeq
    assert(fused.map(r => (r._1, r._2)).toSet ==
      (0L until 10L).flatMap(q => (1 to 10).map(r => (q, r))).toSet,
      "every query must fill fused ranks 1..10 exactly once")
    fused.foreach { case (q, _, d, kwR, vecR, score) =>
      assert(kwR == kw.get((q, d)), s"kw_rank drift at ($q, $d)")
      assert(vecR == vec.get((q, d)), s"vec_rank drift at ($q, $d)")
      val expected = kwR.map(r => 1000000L / (60 + r)).getOrElse(0L) +
        vecR.map(r => 1000000L / (60 + r)).getOrElse(0L)
      assert(score == expected, s"rrf_score drift at ($q, $d)")
    }
    assert(fused.exists(r => r._4.isEmpty || r._5.isEmpty),
      "fusion should surface at least one single-channel hit on this corpus")
  }

  // t15 consumes t14's artifact: the staged merge table must be byte-
  // identical to a fresh training run, and the per-doc accounting must
  // respect the tokenizer invariants — chars ≥ tokens ≥ words (each
  // merge only ever shrinks a word's symbol count, to no less than 1),
  // with the learned merges actually compressing at least one doc.
  test("t15 encode: staged merges == t14 training; per-doc token accounting sane") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val staged = {
      val stage = graft.queries.AnalyticsQueries.rebuildBpeMergesStage(spark, dir)
      spark.read.parquet(s"$stage/merges")
        .as[(Int, String, String, Long)].collect().toSeq.sorted
    }
    val trained = graft.queries.AnalyticsQueries.t14BpeMerges(spark, dir)
      .as[(Int, String, String, Long)].collect().toSeq.sorted
    assert(staged == trained && staged.size == 3)
    val rows = graft.queries.AnalyticsQueries.t15BpeEncode(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (id, nWords, nTokens, nChars) =>
      assert(nWords >= 1 && nTokens >= nWords && nChars >= nTokens,
        s"invariant broke at doc $id: words=$nWords tokens=$nTokens chars=$nChars")
    }
    assert(rows.exists { case (_, _, nTokens, nChars) => nTokens < nChars },
      "three learned merges should compress at least one document")
  }

  // t16 must LEARN, not relabel: the fixed-point GD boundary has to
  // agree with the weak labels well above chance while predicting both
  // classes — a degenerate model (all-keep / all-reject) would still
  // hash-gate, so the learning itself needs a pin.
  test("t16 trained classifier: boundary beats chance, predicts both classes") {
    import spark.implicits._
    val rows = graft.queries.AnalyticsQueries
      .t16QualityClassifier(spark, "/root/testdata/sf0.001")
      .select(col("pred_keep"), col("label_keep"), col("correct"))
      .as[(Boolean, Boolean, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    val acc = rows.count(_._3).toDouble / rows.size
    assert(acc >= 0.85, s"label agreement $acc below the learned floor")
    assert(rows.exists(_._1) && rows.exists(!_._1),
      "model must predict both classes")
    assert(rows.exists(_._2) && rows.exists(!_._2),
      "weak labels must cover both classes (fixture drift otherwise)")
  }

  // t17 must GENERALIZE: the model never saw an odd doc_id, so
  // out-of-sample agreement ≥ 0.85 pins that the even-half boundary
  // transfers — and the served rows must cover exactly the unseen half.
  test("t17 apply: even-half model generalizes to the unseen odd half") {
    import spark.implicits._
    val rows = graft.queries.AnalyticsQueries
      .t17ClassifierApply(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("pred_keep"), col("correct"))
      .as[(Long, Boolean, Boolean)].collect().toSeq
    assert(rows.nonEmpty && rows.forall(_._1 % 2 == 1),
      "apply must score exactly the odd (unseen) doc ids")
    val acc = rows.count(_._3).toDouble / rows.size
    assert(acc >= 0.85, s"out-of-sample agreement $acc below the floor")
    assert(rows.exists(_._2) && rows.exists(!_._2),
      "served predictions must cover both classes")
  }

  // a20 is APPEND-ONLY on the text index: an update run reads the
  // persisted corpus postings and encodes only the increment — it must
  // leave the stored postings byte-identical, cover exactly the even
  // (corpus-half) doc_ids, and still surface increment (odd-id)
  // neighbors in the merged search.
  test("a20 update leaves stored keyword postings byte-identical; increment searchable") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val stage = graft.queries.AnalyticsQueries.a20CorpusKwIndexStage(spark, dir)
    def snapshot(): Seq[(Long, Long, Long)] =
      spark.read.parquet(s"$stage/postings")
        .select(col("term_id"), col("doc_id"), col("impact"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
    val before = snapshot()
    assert(before.nonEmpty && before.forall(_._2 % 2 == 0),
      "stored corpus postings must cover exactly the even doc ids")
    val got = graft.queries.AnalyticsQueries.a20KeywordIndexUpdate(spark, dir)
      .select(col("query_id"), col("doc_id")).as[(Long, Long)].collect()
    assert(got.exists(_._2 % 2 == 1), "no increment (odd-id) neighbor surfaced")
    assert(snapshot() == before, "an update run changed the stored corpus postings")
  }

  // a30 is APPEND-ONLY on the token-hash index: an update run reads
  // the persisted corpus-half token table and hashes only the
  // increment — stored rows byte-identical, even-ids only, odd-id
  // (increment) docs searchable in the merged MaxSim scan.
  test("a30 update leaves stored token hashes byte-identical; increment searchable") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val stage = graft.queries.AnalyticsQueries.a30TokenBaseStage(spark, dir)
    def snapshot(): Seq[(Long, Seq[Long])] =
      spark.read.parquet(s"$stage/tokens")
        .select(col("doc_id"), col("th"))
        .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    val before = snapshot()
    assert(before.nonEmpty && before.forall(_._1 % 2 == 0),
      "stored token-hash base must cover exactly the even doc ids")
    val got = graft.queries.AnalyticsQueries.a30TokenIndexUpdate(spark, dir)
      .select(col("query_id"), col("doc_id")).as[(Long, Long)].collect()
    assert(got.exists(_._2 % 2 == 1), "no increment (odd-id) neighbor surfaced")
    assert(snapshot() == before, "an update run changed the stored token-hash base")
  }

  // a30's gate is the strongest in the index-update family: token-hash
  // rows are pure per-doc functions, so base ∪ increment must equal
  // the inline full-corpus index EXACTLY — row for row against a27.
  test("a30 append-only union == a27 inline full rebuild, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    assert(rows(graft.queries.AnalyticsQueries.a30TokenIndexUpdate(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.a27MaxSimRerank(spark, dir)))
  }

  // s26 streams the queries in four micro-batches through the FULL
  // composed stack (kw shortlist → RRF → MMR → MaxSim) against the
  // frozen indexes; a31 serves them in one shot. Every stage is
  // per-query decomposable, so the union of per-batch landings must
  // be row-identical — batch boundaries leave no trace.
  test("s26 streamed stack serving == one-shot a31 composition, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("rank"), col("doc_id"), col("ms_score"))
        .as[(Long, Int, Long, Long)].collect().toSeq
    val streamed = rows(graft.queries.StreamingQueries.s26StreamStackServing(spark, dir))
    // the serve twin goes through the withGeneration loan: after it
    // returns, ZERO pinned generations may remain under its tag
    assert(graft.queries.ServingPins.heldCount(s"stack:$dir") == 0,
      "s26 must leave no live pinned generation behind")
    assert(streamed == rows(graft.queries.AnalyticsQueries.a31StackServed(spark, dir)))
  }

  // s28 streams the queries in four micro-batches through a29's
  // served re-rank against the frozen keyword + token indexes; a29
  // serves them in one shot. Shortlist, fetch, kernel and rank are
  // all per-query, so the union of per-batch landings must be
  // row-identical — batch boundaries leave no trace.
  test("s28 streamed re-rank serving == one-shot a29, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    val streamed = rows(graft.queries.StreamingQueries.s28StreamRerankServing(spark, dir))
    assert(graft.queries.ServingPins.heldCount(s"s28:$dir") == 0,
      "s28 must leave no live pinned generation behind")
    assert(streamed == rows(graft.queries.AnalyticsQueries.a29MaxSimServed(spark, dir)))
  }

  // a32 serves the identical re-rank from the generational (base ∪
  // increment segment) layout; a29 from the monolithic table. The
  // layouts hold the same rows, so the served output must be
  // row-identical — generations leave no trace in what the index serves.
  test("a32 appended-index re-rank == a29 monolithic re-rank, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    assert(rows(graft.queries.AnalyticsQueries.a32RerankAppended(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.a29MaxSimServed(spark, dir)))
  }

  // a33: compaction of the generational token layout is a pure layout
  // change — the compacted table must hold EXACTLY the rows a fresh
  // full build (the a28 monolith) holds, serve the identical re-rank,
  // and shrink the file population.
  test("a33: compacted tokens ≡ a fresh full build; serve ≡ a29; fewer files") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def tokens(stage: String): Seq[(Long, Seq[Long])] =
      spark.read.parquet(s"$stage/tokens")
        .select(col("doc_id"), col("th"))
        .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    val compacted = graft.queries.AnalyticsQueries.a33CompactedStage(spark, dir)
    val fresh = graft.queries.AnalyticsQueries.tokenHashStage(spark, dir)
    assert(tokens(compacted) == tokens(fresh),
      "compacting base ∪ segment must reproduce a fresh full build row for row")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    assert(rows(graft.queries.AnalyticsQueries.a33CompactedRerank(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.a29MaxSimServed(spark, dir)),
      "compaction changed the served re-rank")
    val meta = spark.read.parquet(s"$compacted/meta").head
    assert(meta.getAs[Long]("files_after") < meta.getAs[Long]("files_before"),
      s"compaction did not shrink files: $meta")
  }

  // a34: soft delete (broadcast anti-join over base ∪ segment) and
  // hard delete (purged table) serve the SAME re-rank; no tombstoned
  // doc ever surfaces as a result OR as a query; the purged table
  // drops exactly the tombstoned token rows.
  test("a34: tombstone re-rank ≡ purged re-rank; deletes invisible, total") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    val soft = rows(graft.queries.AnalyticsQueries.a34TombstoneRerank(spark, dir))
    val hard = rows(graft.queries.AnalyticsQueries.a34PurgedRerank(spark, dir))
    assert(soft == hard, "purging compaction changed the served re-rank")
    assert(soft.nonEmpty)
    soft.foreach { case (qid, _, did, _) =>
      assert(did % 7 != 3, s"tombstoned doc surfaced as a result: $did")
      assert(qid % 7 != 3, s"tombstoned doc still serving as a query: $qid")
    }
    val stage = graft.queries.AnalyticsQueries.a34DeleteStage(spark, dir)
    val meta = spark.read.parquet(s"$stage/meta").head
    assert(meta.getAs[Long]("n_tomb") > 0, "fixture produced no tombstones")
    assert(spark.read.parquet(s"$stage/purged").count() ==
      meta.getAs[Long]("n") - meta.getAs[Long]("n_tomb"),
      s"purged table must drop exactly the tombstoned rows: $meta")
  }

  // a35: keyword compaction is a RE-STAT, and a re-stat over base ∪
  // segment is definitionally a fresh full build — so the compacted
  // artifacts must be row-identical to the a19 monolith's (dictionary
  // AND postings, not just the served answer), recovered entirely from
  // index bytes (tf = impact DIV idf), and the file population shrinks.
  test("a35: compacted keyword index ≡ a fresh full build (terms, postings, serve); fewer files") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val compacted = graft.queries.AnalyticsQueries.a35CompactedKwStage(spark, dir)
    val fresh = graft.queries.AnalyticsQueries.keywordIndexStage(spark, dir)
    def terms(st: String) = spark.read.parquet(s"$st/terms")
      .as[(String, Long, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    def postings(st: String) = spark.read.parquet(s"$st/postings")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(terms(compacted) == terms(fresh),
      "re-statted dictionary must equal a fresh build's")
    assert(postings(compacted) == postings(fresh),
      "re-encoded postings must equal a fresh build's")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    assert(rows(graft.queries.AnalyticsQueries.a35KeywordCompacted(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.a19KeywordSearchPrebuilt(spark, dir)),
      "compaction changed the served search")
    val meta = spark.read.parquet(s"$compacted/meta").head
    assert(meta.getAs[Long]("files_after") < meta.getAs[Long]("files_before"),
      s"compaction did not shrink files: $meta")
  }

  // a36: soft delete (broadcast anti-join) and hard delete (purged
  // postings) serve the SAME search; no tombstoned doc is ever
  // returned, but a tombstoned doc can still ASK (queries are external
  // text — deletion is index-level, a16's convention); the purge drops
  // exactly the tombstoned posting rows and leaves stats frozen.
  test("a36: tombstone search ≡ purged search; deletes invisible; external queries survive") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    val soft = rows(graft.queries.AnalyticsQueries.a36TombstoneSearch(spark, dir))
    val hard = rows(graft.queries.AnalyticsQueries.a36PurgedSearch(spark, dir))
    assert(soft == hard, "purging changed the served search")
    assert(soft.nonEmpty)
    soft.foreach { case (_, _, did, _) =>
      assert(did % 7 != 3, s"tombstoned doc surfaced as a result: $did")
    }
    assert(soft.exists(_._1 == 3),
      "query 3 (tombstoned as a DOC, external as a QUERY) must still serve")
    val stage = graft.queries.AnalyticsQueries.a36DeleteStage(spark, dir)
    val a35 = graft.queries.AnalyticsQueries.a35CompactedKwStage(spark, dir)
    val meta = spark.read.parquet(s"$stage/meta").head
    assert(meta.getAs[Long]("n_tomb") > 0, "fixture produced no tombstones")
    val all = spark.read.parquet(s"$a35/postings")
    val tomb = all.filter(pmod(col("doc_id"), lit(7)) === 3).count()
    assert(tomb > 0 && spark.read.parquet(s"$stage/purged").count() == all.count() - tomb,
      "purged postings must drop exactly the tombstoned doc rows")
  }

  // s29 streams the tombstone ids in four batches; a34 applies the
  // set one-shot. The accumulated landings anti-joined over base ∪
  // segment must serve the identical re-rank — delete batch
  // boundaries leave no trace in what the index can return.
  test("s29 streamed token deletes == one-shot a34 tombstones, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    assert(rows(graft.queries.StreamingQueries.s29StreamTokenDeletes(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.a34TombstoneRerank(spark, dir)))
  }

  // s30 streams the media retractions in four batches; m12 applies
  // them one-shot. Deletion precedes the cluster aggregate in both, so
  // survivors re-elect and recount identically.
  test("s30 streamed image deletes == one-shot m12 tombstones, row for row") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    assert(rows(graft.queries.StreamingQueries.s30StreamImageDeletes(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.m12TombstoneNearDup(spark, dir)))
  }

  // s31 streams the tombstone ids in four batches; a36 applies the set
  // one-shot. Both consult the accumulated ids as a broadcast anti-join
  // on the SAME compacted postings with frozen stats, so the served
  // search must be row-identical — delete batch boundaries leave no
  // trace in what the keyword index returns.
  test("s31 streamed keyword deletes == one-shot a36 tombstones, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    assert(rows(graft.queries.StreamingQueries.s31StreamKeywordDeletes(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.a36TombstoneSearch(spark, dir)))
  }

  // s25 streams the increment in four batches; a30 applies it one-shot.
  // Token-hash rows are pure per-doc functions, so the merged MaxSim
  // readback must be row-identical — batch boundaries leave no trace.
  test("s25 streamed token ingest == one-shot a30 update, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    assert(rows(graft.queries.StreamingQueries.s25StreamTokenHashIngest(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.a30TokenIndexUpdate(spark, dir)))
  }

  // a29 re-ranks WITHIN the keyword channel's shortlist: every result
  // doc must appear in the depth-50 a19 candidate set for its query,
  // and scores must agree with the brute a27 MaxSim on those pairs.
  test("a29 served re-rank stays inside the shortlist; scores match brute MaxSim") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val served = graft.queries.AnalyticsQueries.a29MaxSimServed(spark, dir)
      .select(col("query_id"), col("doc_id"), col("ms_score"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(served.nonEmpty)
    // containment: the depth-50 keyword shortlist is the ONLY pool the
    // served re-rank may draw from — a served doc outside it means the
    // re-rank read beyond its candidates (a28's corpus-linear shape)
    val shortlist = graft.queries.AnalyticsQueries
      .maxSimCandidateShortlist(spark, dir)
      .select(col("query_id"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    served.foreach { case (q, d, _) =>
      assert(shortlist.contains((q, d)),
        s"served ($q,$d) is not in the depth-50 candidate shortlist")
    }
    val brute = graft.queries.AnalyticsQueries.a27MaxSimRerank(spark, dir)
      .select(col("query_id"), col("doc_id"), col("ms_score"))
      .as[(Long, Long, Long)].collect()
      .map { case (q, d, s) => (q, d) -> s }.toMap
    // a27 keeps only its own top-20, so compare where both exist: the
    // kernel arithmetic must be identical pair for pair
    val overlap = served.filter { case (q, d, _) => brute.contains((q, d)) }
    assert(overlap.nonEmpty, "served and brute top-20 share no pairs — suspicious")
    overlap.foreach { case (q, d, s) =>
      assert(s == brute((q, d)), s"score mismatch on ($q,$d): served=$s brute=${brute((q, d))}")
    }
  }

  // s17 streams the increment in four batches; a20 applies it one-shot.
  // Same frozen dictionary, same segment-local OOV stats, same pruned
  // search — the ranked tables must be row-identical (batch boundaries
  // leave no trace).
  test("s17 streamed keyword ingest == one-shot a20 update, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    assert(rows(graft.queries.StreamingQueries.s17StreamKeywordIngest(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.a20KeywordIndexUpdate(spark, dir)))
  }

  // s20 streams the queries in four micro-batches against the FROZEN
  // a19 index; a19 answers them in one shot. Queries are independent
  // rows, so the union of per-batch landings must be row-identical —
  // batch boundaries leave no trace in what the index serves.
  test("s20 streamed serving == one-shot a19 search, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    assert(rows(graft.queries.StreamingQueries.s20StreamSearch(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.a19KeywordSearchPrebuilt(spark, dir)))
  }

  // s27 streams the queries in four micro-batches against the FROZEN
  // IVF-PQ index; a13 answers them in one shot. Probes, ADC scoring,
  // and the exact re-rank are all per-query, so the union of per-batch
  // landings must be row-identical — batch boundaries leave no trace
  // in what the vector index serves (s20's pin, vector channel).
  test("s27 streamed vector serving == one-shot a13 search, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long)].collect().toSeq
    assert(rows(graft.queries.StreamingQueries.s27StreamVectorServing(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.a13IvfPqSearchPrebuilt(spark, dir)))
  }

  // the pin ledger's central invariant, r17 form: query-scale pins are
  // driver-local relations, so repeated serves hold ZERO block-manager
  // blocks — the one-generation-per-serve leak the ledger existed to
  // prevent is now structurally impossible (the ledger remains only for
  // the over-contract localCheckpoint fallback)
  test("ServingPins: repeated serves hold one generation, not one per serve") {
    val dir = "/root/testdata/sf0.001"
    val Pins = graft.queries.ServingPins
    (1 to 3).foreach { _ =>
      graft.queries.AnalyticsQueries.a29MaxSimServed(spark, dir).collect()
      assert(Pins.heldCount(s"rerank:$dir") == 0,
        "a local-relation pin must hold no block-manager blocks")
    }
    (1 to 2).foreach { _ =>
      val stages = graft.queries.AnalyticsQueries.servingStackStages(spark, dir)
      stages.dropRight(1).foreach(_._2())
      stages.last._2().collect()
      assert(Pins.heldCount(s"stack:$dir") == 0,
        "stack hop pins must hold no block-manager blocks")
    }
    Pins.release(s"stack:$dir")
    assert(Pins.heldCount(s"stack:$dir") == 0)
  }

  // the loan pattern the serve twins wrap their drains in: the tag's
  // generation is released on the way out even when the body THROWS —
  // a forgotten-release leak is structurally impossible through here
  test("ServingPins.withGeneration releases on return AND on throw") {
    val Pins = graft.queries.ServingPins
    val tag = "loan:test"
    val df = spark.range(3).toDF("x")
    val out = Pins.withGeneration(tag) {
      Pins.pin(tag, spark, df).count()
    }
    assert(out == 3 && Pins.heldCount(tag) == 0)
    intercept[RuntimeException] {
      Pins.withGeneration(tag) {
        Pins.pin(tag, spark, df).count()
        throw new RuntimeException("serve failed mid-drain")
      }
    }
    assert(Pins.heldCount(tag) == 0,
      "a throwing serve body must still release its pinned generation")
    assert(!Pins.liveTags.contains(tag))
  }

  // m10 serves near-dup from the generational base ∪ segment layout;
  // m09 from the monolithic index. A perceptual hash is a pure
  // per-media function, so the layouts must be output-identical —
  // appends leave no trace in what the image index serves.
  test("m10 generational image near-dup == m09 monolithic index, row for row") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    assert(rows(graft.queries.AnalyticsQueries.m10ImageNearDupAppended(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.m09ImageNearDupPrebuilt(spark, dir)))
  }

  // m11: compacting the generational image-hash layout is a pure
  // layout change — the compacted table must hold EXACTLY what a fresh
  // full build (the m09 monolith) holds, serve the identical near-dup,
  // and shrink the file population.
  test("m11: compacted hashes ≡ a fresh full build; serve ≡ m09; fewer files") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def hashes(path: String): Seq[(Long, Long, Long)] =
      spark.read.parquet(path)
        .select(col("media_id"), col("hash_hi"), col("hash_lo"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
    val compacted = graft.queries.AnalyticsQueries.m11CompactedStage(spark, dir)
    val fresh = graft.queries.AnalyticsQueries.imageHashStage(spark, dir)
    assert(hashes(s"$compacted/hashes") == hashes(s"$fresh/hashes"),
      "compacting base ∪ segment must reproduce a fresh full build row for row")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    assert(rows(graft.queries.AnalyticsQueries.m11CompactedNearDup(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.m09ImageNearDupPrebuilt(spark, dir)),
      "compaction changed the served near-dup")
    val meta = spark.read.parquet(s"$compacted/meta").head
    assert(meta.getAs[Long]("files_after") < meta.getAs[Long]("files_before"),
      s"compaction did not shrink files: $meta")
  }

  // m12: soft delete (broadcast anti-join over base ∪ segment) and
  // hard delete (purged table) serve the SAME near-dup; no tombstoned
  // media ever surfaces as a cluster representative; clusters recount
  // their surviving members (deletion precedes the cluster aggregate).
  test("m12: tombstone near-dup ≡ purged near-dup; representatives re-elected") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val soft = rows(graft.queries.AnalyticsQueries.m12TombstoneNearDup(spark, dir))
    val hard = rows(graft.queries.AnalyticsQueries.m12PurgedNearDup(spark, dir))
    assert(soft == hard, "purging compaction changed the served near-dup")
    assert(soft.nonEmpty)
    soft.foreach { r =>
      assert(r.getLong(0) % 7 != 3 && r.getLong(1) % 7 != 3,
        s"tombstoned media surfaced as a cluster representative: $r")
    }
    // deletion must shrink membership vs the undeleted serve (m11):
    // equal sums would mean tombstones only renamed representatives
    def memberSum(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => r.getLong(2) + r.getLong(3)).sum
    val full = rows(graft.queries.AnalyticsQueries.m11CompactedNearDup(spark, dir))
    assert(memberSum(soft) < memberSum(full),
      "tombstoned media still counted as cluster members")
    val stage = graft.queries.AnalyticsQueries.m12DeleteStage(spark, dir)
    val meta = spark.read.parquet(s"$stage/meta").head
    assert(meta.getAs[Long]("n_tomb") > 0, "fixture produced no tombstones")
    assert(spark.read.parquet(s"$stage/purged").count() ==
      meta.getAs[Long]("n") - meta.getAs[Long]("n_tomb"),
      s"purged table must drop exactly the tombstoned rows: $meta")
  }

  // s21 streams the PNG fixture through the real decode kernel in four
  // micro-batches; m03 decodes it in one scan. The decoder holds no
  // cross-batch state, so the thumbnails must be row-identical.
  test("s21 streamed decode == one-shot m03 resize, row for row") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    assert(rows(graft.queries.StreamingQueries.s21StreamMultimodal(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.m03Resize(spark, dir)))
  }

  // s22 streams train docs through the Bloom-first guard in four
  // micro-batches; this recomputes the verdicts exactly (no Bloom) in
  // one shot. Row identity proves both halves: the Bloom admits every
  // true overlap (no false negatives) and its false positives die in
  // the exact join; and batch boundaries leave no trace.
  test("s22 streamed decontamination guard == exact one-shot recompute") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val sets = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"),
      graft.expressions.WordShingleHashes(col("text"), 4).as("hv"))
    val tr = sets.filter(pmod(col("doc_id"), lit(10)) =!= 0 && size(col("hv")) > 0)
    val ev = sets.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(explode(col("hv")).as("h")).distinct()
    val hits = tr.select(col("doc_id"), explode(col("hv")).as("h"))
      .join(ev, Seq("h")).groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    val want = tr.select(col("doc_id"), size(col("hv")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("quarantined", col("n_overlap") * 10 >= col("n_shingles"))
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    val got = graft.queries.StreamingQueries.s22StreamDecontamGuard(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got == want)
    assert(got.exists(_._3 > 0), "fixture produced zero overlap — guard untested")
  }

  // s18 streams the unseen half through the frozen model in four
  // micro-batches; t17 scores it in one scan. Same staged weights,
  // same dot product — the scored tables must be row-identical (batch
  // boundaries leave no trace, and no gradient ran in the stream).
  test("s18 streamed scoring == one-shot t17 apply, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Boolean, Boolean, Boolean)].collect().toSeq
    assert(rows(graft.queries.StreamingQueries.s18StreamClassifier(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.t17ClassifierApply(spark, dir)))
  }

  // a13 searches the persisted IVF-PQ artifacts; the algebra is
  // deterministic integers end to end, so the full ranked table must be
  // row-identical to a10's inline build+search.
  test("a13 prebuilt IVF-PQ search == a10 inline build+search, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("rank"), col("neighbor_id"))
        .as[(Long, Int, Long)].collect().toSeq
    assert(rows(graft.queries.AnalyticsQueries.a13IvfPqSearchPrebuilt(spark, dir)) ==
      rows(graft.queries.AnalyticsQueries.a10IvfPqAnn(spark, dir)))
  }

  // a25's greedy is distributed per-query inside flatMapGroups; this
  // recomputes the ENTIRE selection on the driver from the raw
  // embeddings table (shortlist ranking + unrolled greedy, same fold
  // order) and demands row identity — plus the structural property
  // that every step-1 pick is the plain relevance top-1.
  test("a25 MMR == independent driver-side greedy recompute") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0d; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val nsq = vecs.map { case (_, v) => dot(v, v) }
    val byId = vecs.map(_._1).zipWithIndex.toMap
    def cos(i: Int, j: Int): Double =
      dot(vecs(i)._2, vecs(j)._2) / (math.sqrt(nsq(i)) * math.sqrt(nsq(j)))
    val want = vecs.filter(_._1 < 8).flatMap { case (qid, _) =>
      val qi = byId(qid)
      val shortlist = vecs.indices.filter(ci => vecs(ci)._1 != qid)
        .map(ci => (ci, cos(qi, ci)))
        .sortBy { case (ci, rel) => (-rel, vecs(ci)._1) }
        .take(graft.queries.AnalyticsQueries.MmrShortlist)
      val chosen = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
      while (chosen.size < graft.queries.AnalyticsQueries.MmrSelect) {
        val cands = shortlist.filter(c => !chosen.exists(_._1 == c._1))
        val best = cands.minBy { case (ci, rel) =>
          val pen = if (chosen.isEmpty) 0.0d else chosen.map(s => cos(ci, s._1)).max
          (-(0.5d * rel - 0.5d * pen), vecs(ci)._1)
        }
        chosen += best
      }
      chosen.toSeq.zipWithIndex.map { case ((ci, rel), r) => (qid, r + 1, vecs(ci)._1) }
    }.toSeq
    val got = graft.queries.AnalyticsQueries.a25MmrRerank(spark, dir)
      .as[(Long, Int, Long)].collect().toSeq
    assert(got == want)
    // step 1 ignores diversity: it must be the plain relevance argmax
    val top1 = graft.queries.AnalyticsQueries.a01BruteForceTopK(spark, dir)
      .filter(col("rank") === 1 && col("query_id") < 8)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toMap
    got.filter(_._2 == 1).foreach { case (q, _, sel) => assert(top1(q) == sel) }
  }

  // a26 diversifies the STORED index's shortlist: every selection must
  // come from the index's own top-12, and step 1 must be the index's
  // rank-1 (the greedy ignores diversity on the first pick).
  test("a26 stored-index MMR selects within the index top-12; step 1 = index top-1") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.AnalyticsQueries.a26MmrPrebuilt(spark, dir)
      .as[(Long, Int, Long)].collect().toSeq
    val top12 = graft.queries.AnalyticsQueries.a26IndexShortlist(spark, dir)
      .as[(Long, Int, Long)].collect().toSeq
    val byQuery = top12.groupBy(_._1)
    got.foreach { case (q, _, sel) =>
      assert(byQuery(q).exists(_._3 == sel),
        s"query $q selected $sel outside the index shortlist") }
    val rank1 = top12.filter(_._2 == 1).map(r => r._1 -> r._3).toMap
    got.filter(_._2 == 1).foreach { case (q, _, sel) =>
      assert(rank1(q) == sel, s"query $q step-1 pick is not the index top-1") }
    assert(got.size == rank1.size * graft.queries.AnalyticsQueries.MmrSelect)
  }

  // a14 searches the same stored index under a metadata predicate.
  // Two properties make filtered search correct: every returned
  // neighbor satisfies the predicate (pre-filtering guarantees it
  // structurally; post-filtering would not), and recall vs the
  // float-exact ranking OVER THE FILTERED CORPUS holds — the filter
  // must shrink the candidate space, not the answer quality.
  test("a14 filtered search honors the predicate; filtered recall holds") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.AnalyticsQueries.a14FilteredAnnPrebuilt(spark, dir)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect()
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    assert(got.nonEmpty && got.forall(r => labels(r._2) < 5),
      "a neighbor outside the metadata predicate surfaced")
    // float-exact filtered ground truth (double math is fine for a
    // recall bound; the hash gate pins exact fold order elsewhere)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Seq[Float], Int)].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    }
    val corpus = vecs.filter(_._3 < 5)
    val exact = vecs.filter(_._1 < 20).map { case (q, qe, _) =>
      q -> corpus.filter(_._1 != q)
        .map { case (id, ce, _) => (cos(qe, ce), id) }
        .sortBy { case (s, id) => (-s, id) }.take(5).map(_._2).toSet
    }.toMap
    val byQ = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.toSeq.map { q =>
      (exact(q) & byQ.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }.sum / exact.size
    assert(recall >= 0.6, s"a14 filtered recall@5 collapsed to $recall")
  }

  // a10 probes 3 of 8 coarse cells, so its recall trades against a09's
  // by exactly the unprobed-cell mass. Measured: 0.78 at sf0.001, 0.81
  // at sf0.01 (vs a09's 0.82/0.86); bounds leave noise headroom.
  for ((sf, bound) <- Seq(("sf0.001", 0.65), ("sf0.1", 0.45)))
    test(s"IVF-PQ probe+shortlist+rerank recall@5 vs float-exact ranking ($sf)") {
      import spark.implicits._
      val dir = s"/root/testdata/$sf"
      val exact = graft.queries.AnalyticsQueries.a01BruteForceTopK(spark, dir)
        .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val got = graft.queries.AnalyticsQueries.a10IvfPqAnn(spark, dir)
        .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recall = exact.keys.toSeq.map { q =>
        (exact(q) & got.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
      }.sum / exact.size
      assert(recall >= bound, s"IVF-PQ recall@5 degraded to $recall at $sf")
    }

  test("shingle rep stats kernel == brute-force multiset counts (seeded random)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd")
    val texts = Vector.fill(100) {
      val n = rnd.nextInt(12)
      Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } :+ "" :+ "aa" :+ "aa bb cc"
    def brute(t: String, n: Int): Seq[Long] = {
      val w = t.trim.split("\\s+", -1).toSeq.filterNot(_ => t.trim.isEmpty)
      val wins = w.length - n
      if (wins <= 0) Seq(0L, 0L, 0L)
      else {
        val counts = (0 until wins).map(i => w.slice(i, i + n).mkString(" "))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        Seq(counts.values.max, counts.size.toLong, wins.toLong)
      }
    }
    val got = texts.toDF("t")
      .select(graft.expressions.ShingleRepStats(col("t"), 3)).as[Seq[Long]]
      .collect().toSeq
    val want = texts.map(brute(_, 3))
    assert(got == want, s"kernel diverged from brute force:\n${got.zip(want)
      .zip(texts).filter(p => p._1._1 != p._1._2).take(3)}")
  }

  test("graft_sort_key: order-preserving and injective on doubles") {
    import graft.expressions.DoubleSortKey
    val rnd = new scala.util.Random(42)
    val xs = (Seq.fill(2000)(rnd.nextDouble() * 2 - 1) ++
      Seq.fill(500)((rnd.nextDouble() - 0.5) * 1e300) ++
      Seq(0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
        Double.MaxValue, Double.MinValue,
        Double.PositiveInfinity, Double.NegativeInfinity))
      .distinct.sorted
    // xs is strictly increasing as doubles, so order preservation +
    // injectivity ⇔ the key sequence is strictly increasing as longs
    val keys = xs.map(DoubleSortKey.key)
    keys.sliding(2).foreach { case Seq(a, b) =>
      assert(a < b, s"key order diverges from double order ($a !< $b)")
    }
    // self-inverse: re-applying the bit transform recovers the double
    xs.foreach { x =>
      val k = DoubleSortKey.key(x)
      val back = java.lang.Double.longBitsToDouble(k ^ ((k >> 63) & Long.MaxValue))
      assert(java.lang.Double.doubleToLongBits(back) ===
        java.lang.Double.doubleToLongBits(x))
    }
    // the zeros are EQUAL as doubles, so they must get EQUAL keys
    // (ties then break by id, matching window ORDER BY semantics)
    assert(DoubleSortKey.key(-0.0d) === DoubleSortKey.key(0.0d))
  }

  test("quality filter: keep and reject verdicts both occur on testdata") {
    import spark.implicits._
    val verdicts = graft.queries.AnalyticsQueries
      .t09QualityFilter(spark, "/root/testdata/sf0.001")
      .groupBy(col("verdict")).count()
      .as[(String, Long)].collect().toMap
    assert(verdicts.contains("keep"), s"no docs kept: $verdicts")
    assert(verdicts.contains("too_short"), s"no short-doc rejects: $verdicts")
  }

  test("graft_top_k: matches window top-k, ties by lower id, short groups kept whole") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 30L), ("a", 4L, 20L), ("a", 5L, 5L),
      ("b", 6L, 7L), // group smaller than k
      ("c", 7L, 1L), ("c", 8L, 1L), ("c", 9L, 1L), ("c", 10L, 1L)) // all ties
      .toDF("g", "id", "score")
    val got = df.groupBy(col("g"))
      .agg(graft.expressions.TopKByScore(col("score"), col("id"), 3).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).as("rank"), col("col.id"), col("col.score"))
      .as[(String, Long, Long, Long)].collect().toSet
    val want = Set(
      ("a", 1L, 2L, 30L), ("a", 2L, 3L, 30L), ("a", 3L, 4L, 20L),
      ("b", 1L, 6L, 7L),
      ("c", 1L, 7L, 1L), ("c", 2L, 8L, 1L), ("c", 3L, 9L, 1L))
    assert(got == want)
    // serialization roundtrip exercised by a repartition-forced exchange
    val shuffled = df.repartition(4, col("id")).groupBy(col("g"))
      .agg(graft.expressions.TopKByScore(col("score"), col("id"), 3).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).as("rank"), col("col.id"), col("col.score"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(shuffled == want)
  }

  test("graft_top_k skips null scores/ids instead of failing or ranking them") {
    import spark.implicits._
    val df = Seq((Some(5L), Some(1L)), (None, Some(2L)), (Some(7L), None),
      (Some(3L), Some(4L))).toDF("score", "id").withColumn("g", lit("x"))
    val got = df.groupBy(col("g"))
      .agg(graft.expressions.TopKByScore(col("score"), col("id"), 10).as("top"))
      .select(explode(col("top"))).select(col("col.score"), col("col.id"))
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((5L, 1L), (3L, 4L)))
  }

  test("review regressions: wide LSH bands, MinValue scores, typed/length guards") {
    import spark.implicits._
    // 31-bit band mask must use a Long shift (Int `1 << 31` is negative)
    val wide = Seq((1L, Seq.fill(8)(1.0f)), (2L, Seq.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingLshPairs(wide, col("vec_id"), col("embedding"),
      bands = 2, planesPerBand = 31).select("i", "j").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
    // Long.MinValue score must rank LAST, not first
    val sentinel = Seq((1L, Long.MinValue), (2L, 5L)).toDF("id", "score")
    val top = sentinel.groupBy(lit(1))
      .agg(graft.expressions.TopKByScore(col("score"), col("id"), 2).as("t"))
      .select(explode(col("t"))).select(col("col.id")).as[Long].collect().toSeq
    assert(top == Seq(2L, 1L))
    // wrong element type fails at ANALYSIS, not with silent garbage
    val doubles = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      doubles.select(Vectors.dot(col("a"), col("b"))).collect()
    }
    // mismatched lengths throw instead of truncating to a plausible value
    val ragged = Seq((Seq(1.0f, 2.0f), Seq(1.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      ragged.select(Vectors.dot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("TopKHeap property: 200 random streams match sort-take oracle") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { trial =>
      val k = 1 + rnd.nextInt(8)
      val n = rnd.nextInt(40)
      // small score range forces heavy ties → exercises the id tiebreak
      val xs = Seq.fill(n)((rnd.nextInt(5).toLong, rnd.nextLong()))
      val heap = new graft.expressions.TopKHeap(k)
      xs.foreach { case (s, i) => heap.insert(s, i) }
      // duplicates of the same (score,id) may both be kept — compare on
      // the multiset the heap actually saw
      val wantMulti = xs.sortBy { case (s, i) => (-s, i) }.take(k)
      assert(heap.sortedPairs.toSeq == wantMulti, s"trial $trial k=$k n=$n")
    }
  }

  test("Bloom property: random key sets never false-negative; merge ≡ single build") {
    import graft.expressions.{Bloom, BloomBuffer}
    val rnd = new scala.util.Random(7)
    (1 to 100).foreach { trial =>
      val n = 1 + rnd.nextInt(400)
      val keys = Seq.fill(n)(rnd.nextLong())
      // split across 3 "tasks", OR-merge, serialize — the agg's life cycle
      val parts = keys.grouped((n + 2) / 3).toSeq.map { slice =>
        val b = new BloomBuffer(64, 5) // 4096 bits: small enough to stress fpp
        slice.foreach(b.add)
        b
      }
      val merged = parts.reduceLeft { (a, b) => a.mergeFrom(b); a }
      val bytes = merged.toBytes
      keys.foreach { k =>
        assert(Bloom.contains(bytes, k), s"trial $trial: inserted key $k missing")
      }
      // a single-pass build must produce the identical bitset
      val single = new BloomBuffer(64, 5)
      keys.foreach(single.add)
      assert(java.util.Arrays.equals(single.toBytes, bytes),
        s"trial $trial: merge-of-parts differs from single build")
    }
  }

  test("prefix filter property: random near-dup corpora lose no qualifying pair") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    // random docs + mutated near-copies: a mix that makes Jaccard≥0.5
    // pairs common enough to be a real completeness check
    val docs = (0 until 60).flatMap { i =>
      val base = Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      val mutated = base.updated(rnd.nextInt(base.size), vocab(rnd.nextInt(vocab.size)))
      Seq((i * 2L, base.mkString(" ")), (i * 2L + 1, mutated.mkString(" ")))
    }
    val df = docs.toDF("doc_id", "text")
    // engine/DuckDB enumeration: positions 1..len-n (no final window)
    def shingles(t: String): Set[String] = {
      val w = t.trim.split("\\s+", -1)
      if (w.length < 5) Set.empty
      else (0 until w.length - 4).map(i => w.slice(i, i + 4).mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingles(t) }
    val want = (for {
      (i, si) <- sets; (j, sj) <- sets
      if i < j && si.nonEmpty
      shared = (si & sj).size
      if shared.toDouble / (si.size + sj.size - shared) >= 0.5
    } yield (i, j)).toSet
    val got = Dedup.jaccardPairs(df, col("doc_id"), col("text"), 4, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(want.size > 20, s"corpus too easy: only ${want.size} qualifying pairs")
  }

  test("dupClusters: long chains converge (no diameter-bound round cap)") {
    import spark.implicits._
    // a 200-edge chain has graph diameter 200 — naive min-label
    // propagation needs 200 rounds; large/small-star must do it in
    // O(log n) and must NOT silently return partial labels
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("i", "j")
    val got = Dedup.dupClusters(chain)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 201)
    assert(got.values.forall(_ == 0L), "every chain member labels to the min id")
  }

  test("dupClusters: labels match brute-force components on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (1 to 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    // brute-force union-find oracle
    val parent = scala.collection.mutable.Map((0L until 60L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val want = nodes.map { n =>
      val comp = nodes.filter(m => find(m) == find(n))
      n -> comp.min
    }.toMap
    val got = Dedup.dupClusters(edges.toDF("i", "j")).as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("native dot/normSq match the HOF formulations bit-for-bit") {
    import spark.implicits._
    import graft.functions.Vectors
    val rnd = new scala.util.Random(13)
    val rows = (0 until 50).map { _ =>
      ((0 until 64).map(_ => (rnd.nextGaussian() * 2).toFloat),
        (0 until 64).map(_ => (rnd.nextGaussian() * 2).toFloat))
    }
    val df = rows.toDF("a", "b")
    val got = df.select(
        Vectors.dot(col("a"), col("b")).as("d1"),
        Vectors.dotHof(col("a"), col("b")).as("d2"),
        Vectors.normSq(col("a")).as("n1"),
        Vectors.normSqHof(col("a")).as("n2"))
      .as[(Double, Double, Double, Double)].collect()
    // bitwise equality, not tolerance — the oracle hash-gate needs it
    assert(got.forall(r => r._1 == r._2 && r._3 == r._4),
      s"native != HOF: ${got.find(r => r._1 != r._2 || r._3 != r._4)}")
  }

  test("native hyperplane bits match the HOF formulation bit-for-bit") {
    import spark.implicits._
    import graft.functions.Vectors
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 50).map(_ => (0 until 64).map(_ => (rnd.nextGaussian() * 3).toFloat))
    val df = vecs.map(v => Tuple1(v)).toDF("v")
    for (planes <- Seq(8, 18, 30)) {
      val got = df.select(Vectors.lshBucket(col("v"), planes).as("a"),
          Vectors.lshBucketHof(col("v"), planes).as("b"))
        .as[(Long, Long)].collect()
      assert(got.forall(p => p._1 == p._2),
        s"native != HOF at $planes planes: ${got.find(p => p._1 != p._2)}")
    }
  }

  test("embeddingLshPairs: identical vectors collide in every band, sim = 1") {
    import spark.implicits._
    val v = (0 until 16).map(i => math.sin(i + 1).toFloat)
    val u = (0 until 16).map(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((1L, v), (2L, v), (3L, u)).toDF("vec_id", "embedding")
    val got = Dedup.embeddingLshPairs(df, col("vec_id"), col("embedding"),
        bands = 3, planesPerBand = 6)
      .as[(Long, Long, Double)].collect()
    val identical = got.find(p => p._1 == 1L && p._2 == 2L)
    assert(identical.isDefined, s"identical vectors must be candidates, got ${got.toSeq}")
    assert(math.abs(identical.get._3 - 1.0) < 1e-12)
  }

  test("cosine: orthogonal → 0, identical → 1") {
    import spark.implicits._
    val df = Seq((Seq(1f, 0f), Seq(0f, 1f), Seq(1f, 0f))).toDF("a", "b", "c")
    val r = df.select(
      Vectors.cosine(col("a"), col("b"), Vectors.normSq(col("a")), Vectors.normSq(col("b"))),
      Vectors.cosine(col("a"), col("c"), Vectors.normSq(col("a")), Vectors.normSq(col("c"))))
      .as[(Double, Double)].head()
    assert(r._1 == 0.0 && r._2 == 1.0)
  }

  test("image decode: ImageIO roundtrip + 2:1 box filter match pure pixel math") {
    import spark.implicits._
    import graft.operators.Multimodal
    // expected checksum computed WITHOUT ImageIO — independent integer
    // pixel math; equality proves the codec encode→decode is lossless
    // and the downsample kernel is the floor 2x2 mean
    def expected(id: Long, w: Int, h: Int): Long = {
      def v(x: Int, y: Int, c: Int): Long = (id * 7 + (y.toLong * w + x) * 3 + c) % 256
      var hsh = 0L
      for (my <- 0 until h / 2; mx <- 0 until w / 2; c <- 0 until 3) {
        val m = (v(2 * mx, 2 * my, c) + v(2 * mx + 1, 2 * my, c) +
          v(2 * mx, 2 * my + 1, c) + v(2 * mx + 1, 2 * my + 1, c)) / 4
        hsh = (hsh * 31 + m) % Multimodal.FeatureExtractor.P
      }
      hsh
    }
    val ids = Seq(0L, 1L, 37L, 9999L)
    val payloads = ids.toDF("media_id")
      .select(col("media_id"), lit(null).cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, _) => (id, Multimodal.synthPng(id, 16, 16)) }
      .toDF("media_id", "payload")
    val got = Multimodal.decodeDownsample2x(payloads).collect()
      .map(d => d.media_id -> d).toMap
    ids.foreach { id =>
      val d = got(id)
      assert((d.width, d.height, d.out_w, d.out_h) == (16, 16, 8, 8))
      assert(d.checksum == expected(id, 16, 16),
        s"codec/kernel drift for id=$id: ${d.checksum} vs ${expected(id, 16, 16)}")
    }
    // a non-image payload must fail loudly, not silently skip
    val bad = Seq((1L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeDownsample2x(bad).collect()
    }
    assert(ex.getMessage != null)
  }

  test("multimodal: batched features dispatch on kind — text codepoints, real image decode") {
    import spark.implicits._
    val df = Seq((7L, "abc")).toDF("doc_id", "text")
    val payloads = Multimodal.asPayload(df, col("doc_id"), col("text"), lit("text"))
    val f = Multimodal.extractFeatures(payloads).collect().head
    assert(f.media_id == 7L && f.kind == "text" && f.byte_len == 3 && f.feat == 'a'.toInt)
    assert(f.checksum == "abc".foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 1000000007L))
    // image-kind rows run the REAL ImageIO decoder: the checksum must fold
    // the synthesis formula's pixels (id*7 + j) % 256 for j = 0..191
    val png = Seq((7L, Multimodal.synthPng(7L, 8, 8))).toDF("media_id", "payload")
      .select(col("media_id"), col("payload"),
        struct(lit("image/png").as("kind"), length(col("payload")).as("declared_len")).as("meta"))
    val g = Multimodal.extractFeatures(png).collect().head
    assert(g.kind == "image/png" && g.byte_len == 8 * 8 * 3 && g.feat == ((8 << 16) | 8))
    val want = (0 until 192).foldLeft(0L)((h, j) => (h * 31 + (7L * 7 + j) % 256) % 1000000007L)
    assert(g.checksum == want)
  }

  test("multimodal frame sampling: stride/cap honored, code-point slicing") {
    import spark.implicits._
    // 300 cps → 5 frames of 64; stride 2 samples frames 0,2,4; cap 2 keeps 0,2
    val text = "ab" * 150
    val df = Multimodal.asPayload(Seq((7L, text)).toDF("id", "t"),
      col("id"), col("t"), lit("video"))
    val all = Multimodal.sampleFrames(df, frameCp = 64, stride = 2, maxFrames = 5)
      .collect().sortBy(_.frame_idx)
    assert(all.map(_.frame_idx).toSeq == Seq(0L, 2L, 4L))
    assert(all.forall(_.n_frames == 5L))
    val capped = Multimodal.sampleFrames(df, frameCp = 64, stride = 2, maxFrames = 2)
      .collect().sortBy(_.frame_idx)
    assert(capped.map(_.frame_idx).toSeq == Seq(0L, 2L))
    // frame 4 is the 300-cp tail (44 cps) — checksum over the short slice
    val tail = all.find(_.frame_idx == 4L).get
    val want = graft.expressions.PolyHash.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(text.substring(256)))
    assert(tail.checksum == want)
  }

  test("langId: marker-word heuristic with priority tie-break") {
    import spark.implicits._
    val got = Seq("the cat and the dog is here", "der hund ist ein tier und so",
      "xyzzy plugh").toDF("t")
      .select(TF.langId(col("t"))).as[String].collect().toSeq
    assert(got == Seq("en", "de", "und"))
  }

  // a15: compaction is a pure layout change — same answer as the
  // pre-compaction index (a12), fewer files, full row coverage.
  test("a15: compacted search ≡ a12; compaction shrank the file population") {
    val dir = "/root/testdata/sf0.001"
    val a15 = graft.queries.AnalyticsQueries.a15CompactedSearch(spark, dir).collect().toSeq
    val a12 = graft.queries.AnalyticsQueries.a12PqIndexUpdate(spark, dir).collect().toSeq
    assert(a15 == a12, "compaction changed the search answer")
    val stage = graft.queries.AnalyticsQueries.a15CompactedStage(spark, dir)
    val meta = spark.read.parquet(s"$stage/meta").head
    assert(meta.getAs[Long]("files_after") < meta.getAs[Long]("files_before"),
      s"compaction did not shrink files: ${meta}")
    assert(spark.read.parquet(s"$stage/codes").count() == meta.getAs[Long]("n"),
      "compacted table must cover corpus + increment exactly")
  }

  // a16: soft delete (tombstone anti-join) and hard delete (purged
  // table) return the SAME answer; no tombstoned id ever surfaces as a
  // neighbor; the purged table drops exactly the tombstoned code rows.
  test("a16: tombstone search ≡ purged search; deletes are invisible to results") {
    val dir = "/root/testdata/sf0.001"
    val soft = graft.queries.AnalyticsQueries.a16TombstoneSearch(spark, dir).collect().toSeq
    val hard = graft.queries.AnalyticsQueries.a16PurgedSearch(spark, dir).collect().toSeq
    assert(soft == hard, "purging compaction changed the search answer")
    assert(soft.nonEmpty)
    soft.foreach { r =>
      assert(r.getLong(2) % 7 != 3, s"tombstoned vector surfaced as neighbor: $r")
    }
    val stage = graft.queries.AnalyticsQueries.a16DeleteStage(spark, dir)
    val meta = spark.read.parquet(s"$stage/meta").head
    val purged = spark.read.parquet(s"$stage/purged").count()
    assert(meta.getAs[Long]("n_tomb") > 0, "fixture produced no tombstones")
    assert(purged == meta.getAs[Long]("n") - meta.getAs[Long]("n_tomb"),
      s"purged table must drop exactly the tombstoned rows: $meta vs $purged")
  }

  // p17's contract vs p16: α=1/2 sits BETWEEN natural sampling and
  // p16's uniform target — big domains keep a higher rate than under
  // uniform (they get more than an equal share), small domains keep a
  // higher rate than their natural share would give (boosted), and
  // rates still clamp at 100%.
  test("p17: temperature flattening sits between natural and uniform mixtures") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val t = graft.queries.AnalyticsQueries.p17TemperatureMixture(spark, dir)
      .select(col("lang"), col("rate_bp")).as[(String, Long)].collect().toMap
    val u = graft.queries.AnalyticsQueries.p16DomainMixture(spark, dir)
      .select(col("lang"), col("rate_bp")).as[(String, Long)].collect().toMap
    assert(t.keySet == u.keySet)
    assert(t.exists(_._2 < 10000), "no domain was downsampled under temperature flattening")
    // en is the over-represented domain in this corpus: uniform
    // downsamples it hardest; α=1/2 must sit strictly above that rate
    // and at or below the biggest boosted-small-domain rate
    val big = u.minBy(_._2)._1
    assert(t(big) > u(big),
      s"flattened rate for the big domain must exceed uniform's: $t vs $u")
  }

  // p18: the written layout really is shuffled shards — each shard dir
  // holds its rows in (h2, doc_id) order as written (read back without
  // sorting), shards are hash-balanced, and every doc lands in exactly
  // one shard.
  test("p18: shard files sorted by mixed hash as written; shards balanced and complete") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    graft.queries.AnalyticsQueries.p18ShuffledShards(spark, dir).collect()
    val root = graft.queries.AnalyticsQueries.p18ShardStage(spark, dir)
    val sizes = (0 until 8).map { s =>
      val rows = spark.read.parquet(s"$root/shard=$s")
        .select(col("h2"), col("doc_id")).as[(Long, Long)].collect().toSeq
      assert(rows == rows.sortBy(identity),
        s"shard $s not written in (h2, doc_id) order")
      rows.foreach { case (h2, _) => assert(h2 % 8 == s, s"row in wrong shard $s") }
      rows.size
    }
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(sizes.sum == total, "sharding lost or duplicated documents")
    assert(sizes.max < 2.5 * sizes.min,
      s"hash balance out of bounds: $sizes")
  }

  // p19: append + compact ≡ rebuild — the incremental layout's stats
  // and permutation checksum equal p18's from-scratch build; the delta
  // holds exactly the increment; the compacted layout is one sorted
  // file per shard.
  test("p19: incremental shard append + compaction ≡ from-scratch reshard") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val inc = graft.queries.AnalyticsQueries.p19IncrementalShards(spark, dir).collect().toSeq
    val scratch = graft.queries.AnalyticsQueries.p18ShuffledShards(spark, dir).collect().toSeq
    assert(inc == scratch, "append+compact diverged from the from-scratch reshard")
    val stage = graft.queries.AnalyticsQueries.p19ShardStage(spark, dir)
    val deltaIds = spark.read.parquet(s"$stage/delta")
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 4 === 3).select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(deltaIds == expected, "delta must hold exactly the increment")
    (0 until 8).foreach { s =>
      val rows = spark.read.parquet(s"$stage/compacted/shard=$s")
        .select(col("h2"), col("doc_id")).as[(Long, Long)].collect().toSeq
      assert(rows == rows.sortBy(identity),
        s"compacted shard $s not in (h2, doc_id) order")
    }
  }

  // p16's contract: rates clamp at 100% for domains under their budget
  // share, downsample the over-represented ones, and realized kept
  // token mass lands near rate_bp/10000 of the domain (hash slices are
  // uniform, so a wide tolerance suffices — exact membership is the
  // oracle hash's job, this pins the mixture SEMANTICS).
  test("p16: over-budget domains downsampled, under-budget kept whole, rates realized") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val mix = graft.queries.AnalyticsQueries.p16DomainMixture(spark, dir)
      .select(col("lang"), col("rate_bp"), col("kept_tokens")).collect()
    val totals = graft.queries.AnalyticsQueries.t01TokenStats(spark, dir)
      .select(col("lang"), col("total_tokens"))
      .as[(String, Long)].collect().toMap
    assert(mix.nonEmpty)
    assert(mix.exists(_.getLong(1) < 10000), "no domain was downsampled")
    mix.foreach { r =>
      val (lang, bp, kept) = (r.getString(0), r.getLong(1), r.getLong(2))
      val expected = totals(lang) * bp / 10000.0
      assert(math.abs(kept - expected) <= 0.25 * expected + 50,
        s"$lang: kept $kept vs expected ~$expected at rate $bp bp")
    }
    // global: the realized mixture lands within tolerance of the 40% budget
    val keptTotal = mix.map(_.getLong(2)).sum.toDouble
    val budget = totals.values.sum * 0.4
    assert(keptTotal <= totals.values.sum, "kept more than the corpus")
    assert(keptTotal < budget * 1.3, s"kept $keptTotal vs budget $budget")
  }

  // p20's commit contract: a torn export (data without manifest) must
  // be refused loudly, a committed one must reconcile clean, and the
  // export must not be rewritten on re-validation (stageOnce).
  test("p20: manifest-less export refused; committed export reconciles; " +
    "re-run does not rewrite") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.AnalyticsQueries.p20ExportManifest(spark, dir).collect()
    assert(rows.length == 8 && rows.forall(_.getBoolean(4)),
      "committed export must reconcile on every shard")
    val stage = graft.queries.AnalyticsQueries.p20ExportStage(spark, dir)
    // torn copy: data present, manifest absent → consumer refuses
    val torn = java.nio.file.Files.createTempDirectory("p20torn").toString
    val hconf = spark.sessionState.newHadoopConf()
    org.apache.hadoop.fs.FileUtil.copy(
      new org.apache.hadoop.fs.Path(s"$stage/data").getFileSystem(hconf),
      new org.apache.hadoop.fs.Path(s"$stage/data"),
      new org.apache.hadoop.fs.Path(s"$torn/data").getFileSystem(hconf),
      new org.apache.hadoop.fs.Path(s"$torn/data"), false, hconf)
    val e = intercept[IllegalArgumentException] {
      graft.queries.AnalyticsQueries.p20Validate(spark, torn)
    }
    assert(e.getMessage.contains("uncommitted"), s"wrong refusal: ${e.getMessage}")
    // resumability: a second run validates without rebuilding the files
    def mtimes(): Map[String, Long] = {
      val fs = new org.apache.hadoop.fs.Path(stage).getFileSystem(hconf)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(stage), true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val st = it.next(); b += st.getPath.toString -> st.getModificationTime }
      b.result()
    }
    val before = mtimes()
    val again = graft.queries.AnalyticsQueries.p20ExportManifest(spark, dir).collect()
    assert(again.toSeq == rows.toSeq, "re-validation changed the answer")
    assert(mtimes() == before, "re-run rewrote committed export files")
    // lost-shard window: manifest committed but a data shard vanished
    // afterwards — the reconciliation must FLAG it (manifest_ok false),
    // not silently drop the shard's row
    val lost = java.nio.file.Files.createTempDirectory("p20lost").toString
    Seq("data", "manifest").foreach { part =>
      org.apache.hadoop.fs.FileUtil.copy(
        new org.apache.hadoop.fs.Path(s"$stage/$part").getFileSystem(hconf),
        new org.apache.hadoop.fs.Path(s"$stage/$part"),
        new org.apache.hadoop.fs.Path(s"$lost/$part").getFileSystem(hconf),
        new org.apache.hadoop.fs.Path(s"$lost/$part"), false, hconf)
    }
    val lostFs = new org.apache.hadoop.fs.Path(lost).getFileSystem(hconf)
    assert(lostFs.delete(new org.apache.hadoop.fs.Path(s"$lost/data/shard=3"), true))
    val flagged = graft.queries.AnalyticsQueries.p20Validate(spark, lost).collect()
    assert(flagged.length == 8, "lost shard must still appear in the reconciliation")
    val bad = flagged.filter(!_.getBoolean(4)).map(_.getLong(0)).toSeq
    assert(bad == Seq(3L), s"expected exactly shard 3 flagged, got $bad")
  }

  // m07's kernel contract: the ImageIO-decoded aHash must equal the
  // arithmetic hash computed straight from the synthesis formula (the
  // same independence check the oracle runs in SQL — here as a scalar
  // recomputation so a kernel bug is pinpointed to the kernel, not
  // debugged through the whole banded pipeline), and the banded output
  // must respect its own invariants.
  test("m07: aHash kernel matches the synthesis formula; pair invariants hold") {
    import spark.implicits._
    def refHash(id: Long): (Long, Long) = {
      def gray(x: Int, y: Int): Long = {
        val base = id * 7 + (y * 16 + x) * 3
        (base % 256 + (base + 1) % 256 + (base + 2) % 256) / 3
      }
      val blocks = (0 until 64).map { pi =>
        val mx = pi % 8; val my = pi / 8
        (gray(2 * mx, 2 * my) + gray(2 * mx + 1, 2 * my) +
          gray(2 * mx, 2 * my + 1) + gray(2 * mx + 1, 2 * my + 1)) / 4
      }
      val mean = blocks.sum / 64
      val bits = blocks.map(b => if (b >= mean) 1L else 0L)
      (bits.take(32).foldLeft(0L)((a, b) => a * 2 + b),
        bits.drop(32).foldLeft(0L)((a, b) => a * 2 + b))
    }
    val ids = Seq(0L, 1L, 37L, 255L, 256L, 499L)
    val payloads = ids.map(id => (id, Multimodal.synthPng(id, 16, 16)))
      .toDF("media_id", "payload")
    val got = Multimodal.aHash8(payloads).collect()
      .map(h => h.media_id -> (h.hash_hi, h.hash_lo)).toMap
    ids.foreach { id =>
      assert(got(id) == refHash(id), s"aHash($id): ${got(id)} != ${refHash(id)}")
    }
    // ids 0 and 256 render identical pixels (id*7 mod 256 repeats) —
    // exact perceptual dup, must land in one cluster
    assert(got(0L) == got(256L), "identical images hashed differently")
    val pairs = graft.queries.AnalyticsQueries
      .m07ImageNearDup(spark, "/root/testdata/sf0.001").collect()
    assert(pairs.nonEmpty, "fixture has near-dup structure; none found")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not ordered keep_i < keep_j")
      val hm = r.getInt(4)
      assert(hm >= 1 && hm <= 6, s"hamming $hm outside (0, 6]")
    }
  }

  // t18's window arithmetic: every doc yields ⌈len/24⌉ chunks, the
  // first starts at token 1, and the ends are nondecreasing up to
  // exactly len — no token uncovered, no chunk past the end.
  test("t18: chunks tile each document — ⌈len/24⌉ windows, exact coverage") {
    val dir = "/root/testdata/sf0.001"
    val chunks = graft.queries.AnalyticsQueries.t18Chunking(spark, dir)
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), size(TF.words(col("text"))).cast("long").as("len"))
    val byDoc = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        min(col("start_tok")).as("first"),
        max(col("start_tok") + col("n_tok") - 1).as("covered"),
        min(col("n_tok")).as("min_tok"),
        max(col("n_tok")).as("max_tok"))
      .join(docs, Seq("doc_id"))
    assert(byDoc.count() == docs.count(), "some doc produced no chunks")
    assert(byDoc.filter(col("n_chunks") =!= floor((col("len") + 23) / 24)).count() == 0,
      "chunk count != ceil(len/24)")
    assert(byDoc.filter(col("first") =!= 1).count() == 0, "first chunk not at token 1")
    assert(byDoc.filter(col("covered") =!= col("len")).count() == 0,
      "chunk ends don't reach exactly len")
    assert(byDoc.filter(col("max_tok") > 32 || col("min_tok") < 1).count() == 0,
      "chunk size outside (0, 32]")
  }

  // q38's estimator quality: with k=64 minima the standard error is
  // ~1/√(k−2) ≈ 12.7%; 30% is a ≥2σ envelope — a hash-uniformity or
  // kth-minimum regression blows through it immediately (the unsalted
  // hash over-estimated by 5 orders of magnitude).
  test("q38: KMV estimate lands within 30% of exact distinct") {
    val rows = graft.queries.AdvancedQueries
      .q38KmvDistinct(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("err4") <= 3000,
        s"KMV err ${r.getAs[Long]("err4")}‱ for ${r.getAs[String]("event_type")}")
    }
  }

  // q41's kernel contract: Misra–Gries never drops a true heavy hitter
  // (freq > n/k), under adversarial interleaving AND under the PODS'12
  // summary merge; summaries never exceed k entries.
  test("q41: MG summary keeps every true heavy hitter; merge preserves the bound") {
    import graft.expressions.MGSummary
    // 3 heavy terms (200 each) drowned in 1000 singletons, k=8:
    // n = 1600, n/k = 200 — only terms with freq > 200 are guaranteed;
    // make the heavies 201 so they MUST survive. Interleave worst-case:
    // singletons arrive between every heavy occurrence.
    val s = new MGSummary(8)
    var u = 0
    for (i <- 0 until 201; t <- Seq("hh1", "hh2", "hh3")) {
      s.add(t); s.add(s"unique_$u"); u += 1
    }
    assert(s.counts.size <= 8)
    Seq("hh1", "hh2", "hh3").foreach(t =>
      assert(s.counts.containsKey(t), s"true heavy hitter $t evicted"))
    // merge path: split the same stream across two summaries
    val (a, b) = (new MGSummary(8), new MGSummary(8))
    u = 0
    for (i <- 0 until 201; t <- Seq("hh1", "hh2", "hh3")) {
      val tgt = if (i % 2 == 0) a else b
      tgt.add(t); tgt.add(s"unique_$u"); u += 1
    }
    a.mergeFrom(b)
    assert(a.counts.size <= 8)
    Seq("hh1", "hh2", "hh3").foreach(t =>
      assert(a.counts.containsKey(t), s"merge evicted true heavy hitter $t"))
    // q41 end-to-end equals the exact GROUP-BY-HAVING it replaces
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val bigrams = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(col("text")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("text")) - 1),
        i => col("text").substr(i, lit(2)))).as("bigram"))
    val n = bigrams.count()
    val want = bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") * 64 > n)
      .withColumn("n_total", lit(n))
      .orderBy(col("freq").desc, col("bigram"))
      .as[(String, Long, Long)].collect().toSeq
    val got = graft.queries.AdvancedQueries.q41HeavyHitters(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  // s23 lands one MG summary per micro-batch and re-merges them; q41
  // folds the same corpus through the shuffle path in one shot. The
  // exact-recounted heavy hitters must be row-identical — the
  // mergeable-summaries guarantee means batch boundaries leave no
  // trace in the final table.
  test("s23 streamed heavy hitters == one-shot q41, row for row") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long)].collect().toSeq
    val got = rows(graft.queries.StreamingQueries.s23StreamHeavyHitters(spark, dir))
    assert(got == rows(graft.queries.AdvancedQueries.q41HeavyHitters(spark, dir)))
    assert(got.nonEmpty)
  }

  // p22's whole point: zero clusters straddle the cluster-keyed split,
  // while the doc-keyed naive split WOULD have leaked near-dup families
  // across train/test — and the splits partition the corpus exactly.
  test("p22: cluster-keyed split leaks nothing; naive split would") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.AnalyticsQueries.p22LeakageSafeSplit(spark, dir).collect()
    assert(rows.map(_.getAs[String]("split")).toSet == Set("train", "val", "test"))
    rows.foreach(r => assert(r.getAs[Long]("leaky_clusters") == 0L,
      "a near-dup cluster straddles the split"))
    assert(rows.head.getAs[Long]("leaky_clusters_naive") > 0L,
      "fixture has no cross-split near-dup families; the audit is vacuous")
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.Tables.documents(spark, dir).count(), "splits don't partition the corpus")
  }

  // a22 must point into t18's chunk table: every returned passage is a
  // real (doc_id, chunk_idx) window, never the query's own document,
  // ranked exactly 1..5 per query with positive impact scores.
  test("a22: returned passages exist in t18's chunking; ranks dense; no self-hit") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.AnalyticsQueries.a22PassageSearch(spark, dir)
    val chunks = graft.queries.AnalyticsQueries.t18Chunking(spark, dir)
      .select(col("doc_id"), col("chunk_idx"))
    assert(got.join(chunks, Seq("doc_id", "chunk_idx"), "left_anti").count() == 0,
      "a passage hit is not a t18 chunk window")
    val rows = got.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") != r.getAs[Long]("query_id"), "self-hit leaked")
      assert(r.getAs[Long]("p_score") > 0L, "non-positive impact score")
    }
    val perQ = rows.groupBy(_.getAs[Long]("query_id")).values
    assert(perQ.forall(_.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 5)),
      "ranks not dense 1..5 per query")
  }

  // s19 re-streams from scratch (fresh counter landings) — the drift
  // table is a pure function of the documents table, so two runs must
  // be row-identical and the windows must partition the corpus.
  test("s19: drift monitor is deterministic across re-streams; windows partition") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Boolean)].collect().toSeq
    val a = rows(graft.queries.StreamingQueries.s19DriftMonitor(spark, dir))
    val b = rows(graft.queries.StreamingQueries.s19DriftMonitor(spark, dir))
    assert(a == b, "re-stream changed the drift numbers")
    assert(a.map(_._1).sorted == Seq(0L, 1L, 2L, 3L))
    assert(a.map(_._2).sum == graft.Tables.documents(spark, dir).count())
    assert(a.forall(_._3 >= 0L))
  }

  test("native MaxSim kernel matches the HOF formulation exactly") {
    import spark.implicits._
    // the a27 kernel replaced an aggregate∘array_max∘transform chain
    // (~10⁶ interpreted lambdas per pair); the replacement must be
    // ARITHMETICALLY INVISIBLE — same Σ max dot on every input,
    // including ragged token counts and hash-collision ties
    def embJ(h: org.apache.spark.sql.Column,
        j: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(h * j + j * j, lit(1001L)) - lit(500L)
    val dims = sequence(lit(1L), lit(16L))
    val hof = aggregate(col("qh"), lit(0L), (acc, qt) =>
      acc + array_max(transform(col("dh"), dt =>
        aggregate(dims, lit(0L), (a2, j) => a2 + embJ(qt, j) * embJ(dt, j)))))
    val rnd = new scala.util.Random(27)
    val rows = (0 until 200).map { _ =>
      def hs(n: Int) = (0 until n).map(_ => rnd.nextLong().abs % 1000000007L)
      (hs(1 + rnd.nextInt(8)), hs(1 + rnd.nextInt(8)))
    }
    val got = rows.toDF("qh", "dh")
      .select(graft.expressions.MaxSim(col("qh"), col("dh")).as("native"), hof.as("hof"))
      .as[(Long, Long)].collect()
    assert(got.forall(p => p._1 == p._2),
      s"native != HOF: ${got.find(p => p._1 != p._2)}")
  }

  test("m07/m09 banded self-join skew: a mega-duplicate never inflates a (band, key) bucket") {
    import spark.implicits._
    // the near-dup self-join hash-partitions on (band, key) — the one
    // place a pathological corpus could funnel into a single reducer.
    // The structural defense is the exact-cluster pre-aggregation:
    // multiplicity collapses BEFORE banding, so bucket sizes track
    // per-band DISTINCT-hash collisions only. Pin it on the real join
    // input with the worst case: one hash carried by 50k media ids
    // (the billion-copies-of-one-meme shape) amid 1k distinct hashes.
    val rnd = new scala.util.Random(31)
    val distinctRows = (0 until 1000).map { i =>
      (50000L + i, rnd.nextLong().abs % (1L << 32), rnd.nextLong().abs % (1L << 32))
    }
    val megaDup = (0 until 50000).map(i => (i.toLong, 123456789L, 987654321L))
    val hashes = (megaDup ++ distinctRows).toDF("media_id", "hash_hi", "hash_lo")
    val buckets = graft.queries.AnalyticsQueries.bandedClusters(hashes)
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("sz"))
      .agg(max(col("sz")).as("mx")).head.getLong(0)
    // 1001 distinct hashes over 4×65536 buckets: the hot bucket must
    // be collision-scale (birthday bound ~ a handful), never anywhere
    // near the 50k corpus multiplicity — 64 is two orders of slack
    assert(buckets <= 64L,
      s"hot (band, key) bucket carries $buckets cluster rows — " +
        "multiplicity leaked past the exact-cluster collapse")
    // and the mega-dup still surfaces correctly: one cluster row,
    // every copy counted
    val mega = graft.queries.AnalyticsQueries.bandedClusters(hashes)
      .filter(col("hash_hi") === 123456789L && col("band") === 0)
      .select(col("n_members")).head.getLong(0)
    assert(mega == 50000L, s"mega-dup cluster collapsed to n_members=$mega, want 50000")
  }

  test("MaxSim out-of-domain hashes reduce mod P — no overflow/negative-modulo divergence") {
    import spark.implicits._
    // graft_maxsim is a registered SQL function over arbitrary
    // array<bigint>, but the embedding arithmetic is defined on
    // polyHash outputs in [0, 1e9+7); the kernel must map any long
    // onto that domain (h mod P, non-negative) instead of silently
    // overflowing h·16 or taking Java's negative %
    val P = 1000000007L
    val rnd = new scala.util.Random(29)
    val raw = (0 until 100).map { _ =>
      val wild = (0 until 4).map(_ => rnd.nextLong()) // full Long range, signs included
      val q = (0 until 4).map(_ => rnd.nextLong().abs % P)
      (q, wild)
    }
    val got = raw.toDF("qh", "dh")
      .select(graft.expressions.MaxSim(col("qh"), col("dh")).as("wild"),
        graft.expressions.MaxSim(col("qh"),
          transform(col("dh"), h => pmod(h, lit(P)))).as("reduced"))
      .as[(Long, Long)].collect()
    assert(got.forall(p => p._1 == p._2),
      s"out-of-domain input diverged from its mod-P reduction: ${got.find(p => p._1 != p._2)}")
  }
}
