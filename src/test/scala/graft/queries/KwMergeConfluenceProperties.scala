package graft.queries

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.GraftSession

/** Property: the keyword channel's RE-STAT MERGE is CONFLUENT — for
  * ANY merge schedule over a set of segments (any grouping, any
  * order, any arity, any nesting depth), the final index is
  * row-identical to a fresh single-pass build over the union. This is
  * the property a production compactor's merge POLICY rides on:
  * tiered, size-based, or opportunistic scheduling must be a pure
  * cost decision, never a correctness one. The lifecycle cycles
  * (a37/s32) pin one fixed depth-2 chain; this pins the quantifier.
  *
  * Why it is not trivial for THIS channel: every merge re-derives
  * cross-document stats (df, dense term_ids, idf = ⌊10⁴·n/df⌋) over
  * its own intermediate population, so an intermediate merge's idf
  * values differ from both the leaves' and the final's. Confluence
  * holds because per-doc tf is recovered EXACTLY from stored impacts
  * (impact DIV idf — integers, idf ≥ 10⁴ > 0), making (doc_id, term,
  * tf) a merge invariant; everything else is a pure function of the
  * invariant and n. A lossy impact encoding, a rounding change, or a
  * stat carried over from an intermediate would all break this
  * property at some tree shape.
  *
  * A second property pins the delete-applying form: any merge tree
  * whose FINAL merge drops the tombstone set lands exactly the fresh
  * build over the survivors (a37's oracle-side ground truth). */
object KwMergeConfluenceProperties extends Properties("KwMergeConfluence") {

  // each case runs up to three full re-stat merges — cap the count so
  // the suite cost stays tens of seconds
  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(4).withWorkers(1)

  private lazy val spark = GraftSession.local(cores = 4)
  private val dir = "/root/testdata/sf0.001"

  /** Four leaf segments (doc_id ≡ r mod 4) — an exact disjoint cover
    * of the corpus, each staged through the one fresh-build writer. */
  private lazy val leaves: Vector[(String, Long)] =
    (0 until 4).map { r =>
      val st = AnalyticsQueries.stageKwIndexTable(spark, dir, s"kwconf$r",
        pmod(col("doc_id"), lit(4)) === r)
      (st, spark.read.parquet(s"$st/meta").head.getAs[Long]("n"))
    }.toVector

  private val caseId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One n-ary re-stat merge: tf recovered from every input's stored
    * bytes, union, re-stat over the summed population — exactly the
    * a35/a37 merge body. `drop` is the delete-applying variant. */
  private def merge(inputs: Seq[(String, Long)], out: String,
      drop: Option[org.apache.spark.sql.DataFrame] = None): (String, Long) = {
    val tf0 = inputs.map(i => AnalyticsQueries.kwRecoverTf(spark, i._1))
      .reduce(_ unionByName _)
    val (tf, n) = drop match {
      case Some(tomb) =>
        val t = tf0.join(broadcast(tomb), Seq("doc_id"), "left_anti")
        (t, t.select(col("doc_id")).distinct().count())
      case None => (tf0, inputs.map(_._2).sum)
    }
    AnalyticsQueries.writeKwLayout(spark, out, tf, n)
    (out, n)
  }

  private def sortedRows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  private def sameLayout(a: String, b: String): Boolean =
    sortedRows(s"$a/terms") == sortedRows(s"$b/terms") &&
      sortedRows(s"$a/postings") == sortedRows(s"$b/postings")

  /** A random merge SCHEDULE: repeatedly take a random group of ≥2
    * remaining nodes (leaves or intermediate merge outputs) and merge
    * them, until one remains. Covers binary chains, balanced trees,
    * and the single 4-ary merge. */
  private val scheduleGen: Gen[List[List[Int]]] = {
    def steps(remaining: Int): Gen[List[List[Int]]] =
      if (remaining <= 1) Gen.const(Nil)
      else for {
        take <- Gen.choose(2, remaining)
        idxs <- Gen.pick(take, 0 until remaining)
        rest <- steps(remaining - take + 1)
      } yield idxs.toList.sorted :: rest
    steps(4)
  }

  private def runSchedule(schedule: List[List[Int]],
      dropAtFinal: Option[org.apache.spark.sql.DataFrame]): String = {
    val root = s"/tmp/graft_kwconf_run/${caseId.incrementAndGet()}"
    var nodes = leaves
    var step = 0
    schedule.foreach { idxs =>
      val last = nodes.size - idxs.size + 1 == 1
      val picked = idxs.map(nodes)
      val kept = nodes.indices.filterNot(idxs.contains).map(nodes)
      step += 1
      val merged = merge(picked, s"$root/m$step",
        if (last) dropAtFinal else None)
      nodes = kept.toVector :+ merged
    }
    nodes.last._1
  }

  private lazy val fresh = AnalyticsQueries.keywordIndexStage(spark, dir)
  private lazy val freshSurvivors = AnalyticsQueries.a37FreshSurvivorKwStage(spark, dir)
  private lazy val tombstones = graft.Tables.documents(spark, dir)
    .filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id"))
    .localCheckpoint()

  property("ANY merge schedule lands the fresh full build (terms + postings)") =
    forAll(scheduleGen) { schedule =>
      sameLayout(runSchedule(schedule, None), fresh)
    }

  property("ANY schedule with a delete-applying final merge lands the fresh survivor build") =
    forAll(scheduleGen) { schedule =>
      sameLayout(runSchedule(schedule, Some(tombstones)), freshSurvivors)
    }

  // the two extreme shapes run every time: the left-deep binary chain
  // (a37's shape generalized to depth 3) and the single 4-ary merge
  property("extremes: left-deep chain and one 4-ary merge land the fresh build") =
    Prop.delay(Prop {
      sameLayout(runSchedule(List(List(0, 1), List(0, 2), List(0, 1)), None), fresh) &&
        sameLayout(runSchedule(List(List(0, 1, 2, 3)), None), fresh)
    })
}
