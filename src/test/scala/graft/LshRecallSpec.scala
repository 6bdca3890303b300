package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** End-to-end recall audits for the banded near-dup paths, against
  * EXACT ground truth on randomized near-dup corpora (the guarantees
  * are asserted in scaladocs and pinned on the fixed gate fixtures;
  * these tests exercise them on corpora the gate can't represent —
  * random text, controlled mutation depth, multiple seeds):
  *
  *  - d06's SimHash banding is SOUND for Hamming ≤ 3: the pair set
  *    from the real Spark banding + verify must EQUAL the brute-force
  *    all-pairs Hamming scan — zero dropped pairs, any seed.
  *  - d03's 16-band MinHash blocking is probabilistic: candidate
  *    recall vs exact Jaccard has failure probability (1−J^r)^b per
  *    pair (r=2, b=16) — ≤ 0.02% at J = 0.8. The test asserts NO
  *    dropped pair at J ≥ 0.8 across all seeds (expected misses over
  *    ~600 such pairs: 0.1) and ≥ 90% recall at J ≥ 0.6 (bound:
  *    ~97.5%), and that every emitted pair is truly ≥ the threshold
  *    (the exact-verify tail makes precision 1.0 by construction).
  */
class LshRecallSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(cores = 4)

  /** Deterministic random corpus: nBase 40-word docs over a 1000-word
    * vocabulary, each with one mutant copy at depth ∈ {0,1,2,3} word
    * substitutions (4-shingle Jaccard ≈ 1.0 / 0.80 / 0.66 / 0.56). */
  private def corpus(seed: Long, nBase: Int): Seq[(Long, String)] = {
    val rnd = new java.util.Random(seed)
    val base = (0 until nBase).map { i =>
      (i.toLong, Array.fill(40)(s"w${rnd.nextInt(1000)}").toSeq)
    }
    val mutants = base.map { case (id, words) =>
      val depth = rnd.nextInt(4)
      val w = words.toArray
      (0 until depth).foreach(_ => w(rnd.nextInt(w.length)) = s"m${rnd.nextInt(1000)}")
      (nBase + id, w.toSeq)
    }
    (base ++ mutants).map { case (id, ws) => (id, ws.mkString(" ")) }
  }

  private def shingleSet(text: String, n: Int): Set[Seq[String]] =
    text.split(" ").toSeq.sliding(n).map(_.toSeq).toSet

  private def jaccard(a: Set[Seq[String]], b: Set[Seq[String]]): Double =
    (a & b).size.toDouble / (a | b).size

  test("d06 simhash banding: pair set EQUALS brute-force Hamming <= 3, random corpora") {
    import spark.implicits._
    Seq(11L, 42L, 1337L).foreach { seed =>
      val docs = corpus(seed, 150).toDF("doc_id", "text")
      // ground truth: brute-force Hamming over the SAME fingerprints
      // the operator computes (SimHashBits through the SQL engine)
      val fps = docs
        .select(col("doc_id"), graft.expressions.WordShingleHashes(col("text"), 4).as("hv"))
        .filter(size(col("hv")) > 0)
        .select(col("doc_id"), graft.expressions.SimHashBits(col("hv"), 60).as("sh"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val truth = (for {
        (i, si) <- fps; (j, sj) <- fps if i < j
        if java.lang.Long.bitCount(si ^ sj) <= 3
      } yield (i, j)).toSet
      val got = Dedup.simhashPairs(docs, col("doc_id"), col("text"),
          n = 4, bits = 60, bands = 6, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(truth.nonEmpty, s"seed $seed: degenerate fixture — no close pairs")
      assert(got == truth,
        s"seed $seed: banding dropped ${(truth -- got).size} / picked up " +
          s"${(got -- truth).size} of ${truth.size} Hamming<=3 pairs")
    }
  }

  test("d03 minhash 16-band blocking: zero misses at J>=0.8, >=90% recall at J>=0.6") {
    var high = 0; var highHit = 0; var mid = 0; var midHit = 0
    Seq(7L, 99L, 2024L).foreach { seed =>
      val rows = corpus(seed, 200)
      val docs = {
        import spark.implicits._
        rows.toDF("doc_id", "text")
      }
      val sets = rows.map { case (id, t) => (id, shingleSet(t, 4)) }
      val truth = (for {
        (i, si) <- sets; (j, sj) <- sets if i < j
        jac = jaccard(si, sj) if jac >= 0.5
      } yield ((i, j), jac)).toMap
      val got = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
          n = 4, k = 32, bands = 16, minJaccard = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // precision 1.0 by construction: every emitted pair passed the
      // exact-Jaccard verify, so it must be in the exact truth set
      assert(got.subsetOf(truth.keySet),
        s"seed $seed: emitted pairs below the exact threshold: ${got -- truth.keySet}")
      truth.foreach { case (p, jac) =>
        if (jac >= 0.8) { high += 1; if (got(p)) highHit += 1 }
        else if (jac >= 0.6) { mid += 1; if (got(p)) midHit += 1 }
      }
    }
    assert(high > 100, s"degenerate fixture: only $high pairs at J>=0.8")
    assert(highHit == high,
      s"blocking dropped ${high - highHit}/$high pairs at J>=0.8 " +
        "(P[miss] <= 0.0002 each — a drop here is a real defect)")
    assert(mid == 0 || midHit * 10 >= mid * 9,
      s"recall at J in [0.6,0.8) was $midHit/$mid — below the 90% floor " +
        "(theory: ~97.5% at the J=0.6 edge)")
  }
}
