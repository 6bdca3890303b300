package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication family for the training-data pipeline (SURVEY §7.6):
  * exact, n-gram-Jaccard, MinHash+LSH, SimHash. All set-similarity math
  * uses the shared polynomial hash so results are engine-checkable.
  *
  * Scale shape:
  *   - exact dedup = one hash-aggregate shuffle on the normalized text;
  *   - Jaccard candidates = explode-join on shared shingles (skew
  *     handled by AQE; cost bounded by shingle-bucket occupancy²);
  *   - MinHash LSH = the 100 TB path: fixed-size signatures (k=32) and
  *     band buckets (b=16, r=2) collapse the candidate space from n² to
  *     bucket occupancy², then exact Jaccard verifies survivors;
  *   - SimHash = constant-size fingerprint, cluster by equality.
  */
object Dedup {

  /** Exact dedup groups on normalized text: canonical id = min id. */
  def exact(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(lower(trim(textCol)).as("_norm"))
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("n_copies"))
      .drop("_norm")

  /** Candidate pairs via a shared-shingle join, verified with exact
    * Jaccard ≥ `minJaccard` over the string shingle sets. Output:
    * (i, j, shared, ni, nj).
    *
    * Candidate generation is PREFIX-FILTERED (Bayardo, Ma & Srikant,
    * "Scaling Up All Pairs Similarity Search", WWW'07): with shingle
    * hashes in a canonical total order (ascending hash value), any pair
    * with Jaccard ≥ t must share its smallest common element inside
    * both docs' first `n − ⌈t·n⌉ + 1` sorted hashes, so only that
    * prefix is exploded into the candidate join — at t=0.5 the indexed
    * volume halves and candidate pairs shrink ~4×, with zero recall
    * loss. A length filter (`t·ni ≤ nj ∧ t·nj ≤ ni`, implied by
    * Jaccard ≥ t) prunes survivors before the distinct. Output is
    * IDENTICAL to the unfiltered join because the verify step below
    * intersects the exact string sets; a hash collision can only add a
    * candidate, never a result. The shuffle moves 8-byte hashes, never
    * shingle strings. */
  def jaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
      n: Int, minJaccard: Double): DataFrame = {
    // no cache: shingling/hashing is native scan-speed work, and a
    // session-lifetime cached DataFrame would pin storage memory across
    // every later query in the session
    val sets = df.select(idCol.as("id"),
        graft.expressions.WordShingleStrings(textCol, n).as("shingles"),
        graft.expressions.WordShingleHashes(textCol, n).as("hv"))
      .withColumn("n_shingles", size(col("shingles")))
    // prefix length ni − ⌈t·ni⌉ + 1 over ascending-sorted hashes; the
    // per-set required overlap is ⌈t·ni⌉ (o ≥ t·ni follows from
    // o/(ni+nj−o) ≥ t and o ≤ nj), and the smallest shared hash of a
    // qualifying pair provably lands in both prefixes
    val ex = sets.select(col("id"), col("n_shingles").as("n"),
      explode(slice(array_sort(col("hv")), lit(1),
        (col("n_shingles") - ceil(col("n_shingles") * lit(minJaccard)) + 1)
          .cast("int"))).as("h"))
    val cand = ex.toDF("i", "ni_c", "h").join(ex.toDF("j", "nj_c", "h"), Seq("h"))
      .filter(col("i") < col("j"))
      .filter(col("nj_c") >= col("ni_c") * lit(minJaccard) &&
        col("ni_c") >= col("nj_c") * lit(minJaccard))
      .select(col("i"), col("j")).distinct()
    cand
      .join(sets.select(col("id").as("i"), col("shingles").as("si"), col("n_shingles").as("ni")), Seq("i"))
      .join(sets.select(col("id").as("j"), col("shingles").as("sj"), col("n_shingles").as("nj")), Seq("j"))
      .withColumn("shared", size(array_intersect(col("si"), col("sj"))))
      .filter(col("shared").cast("double") / (col("ni") + col("nj") - col("shared")) >= minJaccard)
      .select(col("i"), col("j"), col("shared"), col("ni"), col("nj"))
  }

  /** LSH over minhash signatures: bands of `r` rows; a pair is a
    * candidate iff some band matches exactly; candidates are verified
    * with exact Jaccard ≥ `minJaccard` over the shingle-hash sets.
    *
    * Shingling, hashing and signatures run in the native
    * [[graft.expressions.WordShingleHashes]] /
    * [[graft.expressions.MinHashSig]] expressions — one pass over the
    * text bytes, no shingle strings, no interpreted lambdas (measured
    * ~10× on the signature stage at sf0.1). */
  def minhashLshPairs(df: DataFrame, idCol: Column, textCol: Column,
      n: Int, k: Int, bands: Int, minJaccard: Double): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val sets = df.select(idCol.as("id"),
        graft.expressions.WordShingleHashes(textCol, n).as("hv"))
      .withColumn("n_shingles", size(col("hv")))
      .withColumn("sig", graft.expressions.MinHashSig(col("hv"), k))
    // band rows carry ONLY (id, band, key): the bucket shuffle and the
    // candidate self-join move ids + short keys, never the shingle sets
    val banded = sets.select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band"), concat_ws(":",
            transform(slice(col("sig"), b * r + lit(1), lit(r)), v => v.cast("string"))).as("key")))).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.toDF("i", "band", "key")
      .join(banded.toDF("j", "band", "key"), Seq("band", "key"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    // shingle sets join back only for the (small) candidate set
    cand
      .join(sets.select(col("id").as("i"), col("hv").as("si"), col("n_shingles").as("ni")), Seq("i"))
      .join(sets.select(col("id").as("j"), col("hv").as("sj"), col("n_shingles").as("nj")), Seq("j"))
      .withColumn("shared", size(array_intersect(col("si"), col("sj"))))
      .filter(col("shared").cast("double") / (col("ni") + col("nj") - col("shared")) >= minJaccard)
      .select(col("i"), col("j"), col("shared"), col("ni"), col("nj"))
  }

  /** Edit-distance-verified near-dup: d03's banded MinHash candidate
    * generation with the verify swapped from set overlap to EXACT
    * character-level Levenshtein — a complementary verify metric:
    * Jaccard prices divergence in SHINGLES (a one-character in-word
    * typo destroys n shingles but is one edit; n scattered word swaps
    * keep overlap high while the texts drift far apart in characters),
    * Levenshtein prices it in CHARACTERS, which is what "same document
    * modulo touch-ups" actually means for boilerplate/template dedup.
    * Candidates share ≥ 1 of `bands` signature bands;
    * texts join back for the candidate sliver only and pairs survive
    * at distance ≤ maxDistPct% of the longer text. Both engines
    * compute classic unit-cost Levenshtein as an exact integer, so
    * the verdict AND the distance hash-gate. Scale: identical to
    * [[minhashLshPairs]] — bucket join over short keys, the O(len²)
    * distance kernel runs only on candidate pairs. */
  def editDistancePairs(df: DataFrame, idCol: Column, textCol: Column,
      n: Int, k: Int, bands: Int, maxDistPct: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val sets = df.select(idCol.as("id"), textCol.as("text"),
      graft.expressions.MinHashSig(
        graft.expressions.WordShingleHashes(textCol, n), k).as("sig"))
    val banded = sets.select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band"), concat_ws(":",
            transform(slice(col("sig"), b * r + lit(1), lit(r)), v => v.cast("string"))).as("key")))).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.toDF("i", "band", "key")
      .join(banded.toDF("j", "band", "key"), Seq("band", "key"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    // THRESHOLD-BOUNDED distance: `levenshtein(l, r, t)` computes the
    // banded DP — O(len·t) instead of O(len²) — and returns −1 past t.
    // dist ∈ [0, t] is exact and t = ⌊max_len·pct/100⌋ makes "dist ≥ 0"
    // exactly the acceptance predicate, so results are identical to
    // the unbounded form while a 2% bound prices each verify at ~len·t
    // character ops — the difference between feasible and not once
    // candidates number in the millions.
    cand
      .join(sets.select(col("id").as("i"), col("text").as("ti")), Seq("i"))
      .join(sets.select(col("id").as("j"), col("text").as("tj")), Seq("j"))
      .withColumn("max_len",
        greatest(length(col("ti")), length(col("tj"))).cast("long"))
      .withColumn("thr", expr(s"CAST((max_len * $maxDistPct) DIV 100 AS INT)"))
      .withColumn("dist", expr("levenshtein(ti, tj, thr)").cast("long"))
      .filter(col("dist") >= 0)
      .select(col("i"), col("j"), col("dist"), col("max_len"))
  }

  /** Incremental NEAR-dup (the daily-crawl operation p10's exact form
    * cannot cover): the INCREMENT's minhash band keys join the
    * CORPUS's band index, and only the candidates verify exact
    * Jaccard. Scale shape: the corpus contributes one (id, band, key)
    * row per band — the 8-byte-ish index a production pipeline
    * maintains as its own table — and shingle sets join back for
    * candidates only; corpus text is never rescanned, the increment
    * pays one scan. Emits verified (increment id, corpus id) pairs. */
  def incrementalNearDupPairs(df: DataFrame, idCol: Column, textCol: Column,
      isCorpus: Column, n: Int, k: Int, bands: Int, minJaccard: Double): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val sets = df.select(idCol.as("id"), isCorpus.as("is_corpus"),
        graft.expressions.WordShingleHashes(textCol, n).as("hv"))
      .withColumn("n_shingles", size(col("hv")))
      .withColumn("sig", graft.expressions.MinHashSig(col("hv"), k))
    val banded = sets.select(col("id"), col("is_corpus"),
        explode(transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band"), concat_ws(":",
            transform(slice(col("sig"), b * r + lit(1), lit(r)), v => v.cast("string"))).as("key")))).as("bk"))
      .select(col("id"), col("is_corpus"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.filter(!col("is_corpus")).select(col("id").as("i"), col("band"), col("key"))
      .join(banded.filter(col("is_corpus")).select(col("id").as("j"), col("band"), col("key")),
        Seq("band", "key"))
      .select(col("i"), col("j")).distinct()
    cand
      .join(sets.select(col("id").as("i"), col("hv").as("si"), col("n_shingles").as("ni")), Seq("i"))
      .join(sets.select(col("id").as("j"), col("hv").as("sj"), col("n_shingles").as("nj")), Seq("j"))
      .withColumn("shared", size(array_intersect(col("si"), col("sj"))))
      .filter(col("shared").cast("double") / (col("ni") + col("nj") - col("shared")) >= minJaccard)
      .select(col("i"), col("j"))
  }

  /** Large-star round: for every node u, hang each strictly-larger
    * neighbor off m = min(N(u) ∪ {u}). */
  private def largeStar(e: DataFrame): DataFrame = {
    val bi = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val m = bi.groupBy(col("u")).agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    bi.join(m, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star round: orient edges larger→smaller, then hang u and
    * its smaller neighbors off m = min(N(u)). */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val m = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
    dir.join(m, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .union(m.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Connected components over a near-dup pair set: every node's label
    * converges to the smallest doc id in its component (the canonical
    * id real dedup pipelines keep).
    *
    * Alternating large-star/small-star rounds (the MapReduce CC
    * algorithm of Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): converges in O(log n) rounds regardless of
    * graph DIAMETER — a 10^6-long near-dup chain needs ~20 rounds, not
    * 10^6 as naive min-label propagation would. Each round is two
    * group-by/join passes over the edge set; lineage is truncated per
    * round with localCheckpoint so plans stay constant-size. Refuses
    * loudly (IllegalStateException) if the round cap is ever hit
    * instead of returning wrong cluster ids.
    * Input: (i, j) pairs; output: (doc_id, cluster_id) for every doc
    * appearing in a pair. */
  def dupClusters(pairs: DataFrame): DataFrame = {
    // materialize the pair set once — its producer is typically an
    // expensive candidate pipeline (LSH join + verify) that must not
    // re-run for the node list, the initial edges, and every round
    val p0 = pairs.select(col("i"), col("j")).localCheckpoint()
    val nodes = p0.select(col("i").as("doc_id"))
      .union(p0.select(col("j").as("doc_id"))).distinct()
    var e = p0
      .filter(col("i") =!= col("j"))
      .select(greatest(col("i"), col("j")).as("u"), least(col("i"), col("j")).as("v"))
      .distinct()
      .localCheckpoint()
    // 64 rounds covers any n < 2^64 with the proven O(log n) bound —
    // reachable only by a bug, and a wrong answer must never be silent
    val maxRounds = 64
    var converged = e.isEmpty
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      converged = next.count() == e.count() && next.except(e).isEmpty
      e = next
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxRounds large/small-star rounds")
    // at the fixed point e is a star set (child → component-min root)
    val roots = e.groupBy(col("u")).agg(min(col("v")).as("root"))
    nodes.join(roots, nodes("doc_id") === roots("u"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("cluster_id"))
  }

  /** Embedding near-dup at scale: banded random-hyperplane LSH
    * blocking. The vector is hashed once with bands×planesPerBand
    * hyperplanes ([[graft.functions.Vectors.lshBucket]]); each band's
    * slice of sign bits is a bucket key, and a pair is a candidate iff
    * some band bucket matches (multi-band = recall, same shape as
    * MinHash banding). Candidates are verified with exact cosine.
    * No labels, no id windows — candidate cost is band-bucket
    * occupancy², the same 100 TB shape as d03. Output: (i, j, sim)
    * for every candidate pair. */
  def embeddingLshPairs(df: DataFrame, idCol: Column, vecCol: Column,
      bands: Int, planesPerBand: Int): DataFrame = {
    require(bands * planesPerBand <= 62, "sign bits must fit a long")
    import graft.functions.Vectors
    val e = df.select(idCol.as("id"), vecCol.as("vec"))
      .withColumn("nsq", Vectors.normSq(col("vec")))
    // band rows carry ONLY (id, band, key) — same discipline as the
    // MinHash path: the bucket shuffle and candidate self-join must
    // move ids + short keys, never the embedding arrays (at sf0.1 this
    // was measured 4×: vectors through the distinct dominated)
    val banded = e
      .withColumn("allbits", Vectors.lshBucket(col("vec"), bands * planesPerBand))
      .select(col("id"), explode(sequence(lit(0), lit(bands - 1))).as("b"), col("allbits"))
      .withColumn("bk", expr(
        s"allbits div cast(power(2, b * $planesPerBand) as bigint) % ${1L << planesPerBand}"))
      .select(col("id"), col("b"), col("bk"))
    val cand = banded.toDF("i", "b", "bk")
      .join(banded.toDF("j", "b", "bk"), Seq("b", "bk"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    // embeddings join back only for the (small) candidate set; column
    // pruning keeps the LSH hash out of these projections
    cand
      .join(e.select(col("id").as("i"), col("vec").as("ea"), col("nsq").as("na")), Seq("i"))
      .join(e.select(col("id").as("j"), col("vec").as("eb"), col("nsq").as("nb")), Seq("j"))
      .withColumn("sim", Vectors.cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .select(col("i"), col("j"), col("sim"))
  }

  /** `bits`-bit SimHash over word-frequency votes: bit b is set iff
    * Σ_words (±1 by bit b of the word hash) ≥ 0. Takes pre-computed
    * word hashes so each word is hashed once, not once per bit. */
  def simhashFromHashes(wordHashes: Column, bits: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(bits - 1)), b => {
        val vote = aggregate(wordHashes, lit(0L), (acc, h) =>
          acc + when(h.bitwiseAND(pow(lit(2), b).cast("long")) =!= 0, 1L)
            .otherwise(-1L))
        when(vote >= 0, pow(lit(2), b).cast("long")).otherwise(lit(0L))
      }),
      lit(0L), (acc, v) => acc + v)

  /** Word hashes of a text column (hash once, reuse across bits). */
  def wordHashes(textCol: Column): Column =
    transform(words(textCol), w => polyHash(w))

  /** SimHash near-dup pairs over shingle-hash fingerprints: `bits`-bit
    * simhash (native [[graft.expressions.SimHashBits]]) split into
    * `bands`; a pair is a candidate iff some band matches; survivors
    * need Hamming distance ≤ `maxHamming`. The banding is SOUND for
    * maxHamming < bands (≤ maxHamming differing bits can touch at most
    * maxHamming bands, so at least one band matches exactly).
    * Word-level simhash is useless on shared-vocabulary corpora — the
    * votes here are over n-word shingle hashes, which discriminate. */
  def simhashPairs(df: DataFrame, idCol: Column, textCol: Column,
      n: Int, bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    require(maxHamming < bands, "banding only guarantees recall for maxHamming < bands")
    require(bits % bands == 0, "bits must divide into bands")
    val w = bits / bands
    val mask = (1L << w) - 1
    // docs with no shingles must not participate: an empty vote array
    // yields the all-ones fingerprint, which would pair every short doc
    // with every other at hamming 0
    val sh = df.select(idCol.as("id"),
        graft.expressions.WordShingleHashes(textCol, n).as("hv"))
      .filter(size(col("hv")) > 0)
      .select(col("id"),
        graft.expressions.SimHashBits(col("hv"), bits).as("sh"))
    val banded = sh.select(col("id"), col("sh"),
        explode(sequence(lit(0), lit(bands - 1))).as("b"))
      .withColumn("bv", expr(s"shiftright(sh, b * $w) & $mask"))
    val a = banded.toDF("i", "si", "b", "bv")
    val c = banded.toDF("j", "sj", "b", "bv")
    a.join(c, Seq("b", "bv"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), col("si"), col("sj")).dropDuplicates("i", "j")
      .withColumn("hamming", bit_count(col("si").bitwiseXOR(col("sj"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("i"), col("j"), col("hamming"))
  }
}
