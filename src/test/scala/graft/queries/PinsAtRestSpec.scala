package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, SparkEntry}

/** The standing pins-at-rest sweep (r13 verdict ask 6): the a-family's
  * one-shot serves (a29/a31) release pinned serving frames at the NEXT
  * serve's `openGeneration` — a returned lazily-consumed frame cannot
  * go through the `withGeneration` loan, because a released
  * localCheckpoint cannot be recomputed. That discipline's invariant —
  * at rest, each tag holds AT MOST the latest serve's generation, so
  * pinned block count does not GROW with serves — previously lived
  * only in per-test assertions. This spec asserts it the way a leak
  * would actually manifest: run the full a-family surface (a Verify
  * pass's execution discipline — every frame collected to completion),
  * snapshot per-tag pin counts, run the full surface AGAIN, and
  * require the counts unchanged. One serve leaking its previous
  * generation shows up as +N on its tag after the second pass.
  *
  * Generation SIZES differ by tag (the composed stack pins three
  * frames per serve, a29 pins one), so the invariant is growth-free
  * counts, not `heldCount <= 1`. */
class PinsAtRestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(cores = 4)
  private val dir = "/root/testdata/sf0.001"

  test("pinned serving generations do not grow across full a-family passes") {
    val aKeys = SparkEntry.queries.keys.filter(_.startsWith("a")).toSeq.sorted
    assert(aKeys.size >= 39, s"a-family shrank to ${aKeys.size} keys?")
    def fullPass(): Unit =
      // Verify's discipline: each query executed to completion before
      // the next starts, so every serve's frame is consumed before the
      // next serve under the same tag opens its generation
      aKeys.foreach(k => SparkEntry.queries(k)(spark, dir).collect())
    fullPass()
    val atRest = ServingPins.liveTags.toSeq.sorted
      .map(t => t -> ServingPins.heldCount(t))
    fullPass()
    val atRest2 = ServingPins.liveTags.toSeq.sorted
      .map(t => t -> ServingPins.heldCount(t))
    info(s"pins at rest after a full pass: ${atRest.mkString(", ")}")
    assert(atRest2 == atRest,
      s"pinned generations grew across a full serving pass — " +
        s"pass 1: $atRest, pass 2: $atRest2 — a one-shot serve is " +
        "leaking its previous generation instead of releasing it at " +
        "the next openGeneration")
  }
}
