package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.{GraftSession, Tables}

/** Merge confluence for the LAYOUT-REWRITE channels (token hashes and
  * PQ codes) — the companion to [[KwMergeConfluenceProperties]], which
  * pins the hard (re-statting) case. Here rows are pure per-item
  * functions computed once at ingest (token hashes per doc; codes
  * encoded against FROZEN codebooks per vector), so a merge is a pure
  * union-and-rewrite. The property quantifies over merge SCHEDULES
  * anyway, because it is exactly what licenses a policy-fired
  * compactor (s36's shape) on these channels: it would break the
  * moment a merge recomputed anything population-dependent — a
  * codebook retrain inside a merge, a per-segment normalization, a
  * stat folded into the stored rows — all plausible "optimizations"
  * this test turns into unit failures. The delete-applying variant
  * pins that dropping tombstones at ANY final merge equals filtering
  * the fresh build: total deletion with no order sensitivity.
  *
  * Schedule generator mirrors KwMergeConfluenceProperties (kept local:
  * the two suites must stay independently runnable). */
object LayoutMergeConfluenceProperties extends Properties("LayoutMergeConfluence") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(3).withWorkers(1)

  private lazy val spark = GraftSession.local(cores = 4)
  private val dir = "/root/testdata/sf0.001"

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

  /** Run a schedule over in-memory frames: a merge is union (the
    * layout rewrite minus the physical write — row CONTENT is what
    * confluence is about; the sorted-write shape is pinned by the
    * cycle specs), the final merge optionally dropping tombstones. */
  private def runSchedule(leaves: Vector[DataFrame],
      schedule: List[List[Int]], key: String,
      dropAtFinal: Option[DataFrame]): DataFrame = {
    var nodes = leaves
    schedule.foreach { idxs =>
      val last = nodes.size - idxs.size + 1 == 1
      val merged0 = idxs.map(nodes).reduce(_ unionByName _)
      val merged = dropAtFinal match {
        case Some(tomb) if last =>
          merged0.join(broadcast(tomb), Seq(key), "left_anti")
        case _ => merged0
      }
      // land each intermediate (localCheckpoint = the materialization
      // a layout write performs) so later merges read MERGE OUTPUTS,
      // not a fused lineage back to the leaves
      nodes = nodes.indices.filterNot(idxs.contains).map(nodes).toVector :+
        merged.localCheckpoint()
    }
    nodes.last
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  // ---- token channel: per-doc hash rows, frozen at tokenize time ----

  private lazy val tokenLeaves: Vector[DataFrame] =
    (0 until 4).map { r =>
      val st = AnalyticsQueries.stageTokenTable(spark, dir, s"thconf$r",
        col("doc_id") % 4 === r, partitions = 2)
      spark.read.parquet(s"$st/tokens")
    }.toVector

  private lazy val tokenFresh: Seq[String] = rows(spark.read.parquet(
    s"${AnalyticsQueries.tokenHashStage(spark, dir)}/tokens"))

  private lazy val docTombs = Tables.documents(spark, dir)
    .filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id"))
    .localCheckpoint()

  private lazy val tokenFreshSurvivors: Seq[String] = rows(
    spark.read.parquet(
      s"${AnalyticsQueries.tokenHashStage(spark, dir)}/tokens")
      .filter(pmod(col("doc_id"), lit(7)) =!= 3))

  property("token: ANY merge schedule lands the fresh monolithic table") =
    forAll(scheduleGen) { schedule =>
      rows(runSchedule(tokenLeaves, schedule, "doc_id", None)) == tokenFresh
    }

  property("token: ANY schedule with a delete-applying final merge lands the survivor table") =
    forAll(scheduleGen) { schedule =>
      rows(runSchedule(tokenLeaves, schedule, "doc_id", Some(docTombs))) ==
        tokenFreshSurvivors
    }

  // ---- vector channel: PQ codes under FROZEN codebooks ----

  private lazy val codebooks = spark.read.parquet(
    s"${AnalyticsQueries.a12CorpusIndexStage(spark, dir)}/codebooks").localCheckpoint()

  private lazy val vecLeaves: Vector[DataFrame] =
    (0 until 4).map { r =>
      AnalyticsQueries.pqEncodeAgainst(
        AnalyticsQueries.pqSubcodes(
          Tables.embeddings(spark, dir).filter(col("vec_id") % 4 === r)),
        codebooks).localCheckpoint()
    }.toVector

  private lazy val vecFresh: Seq[String] = rows(
    AnalyticsQueries.pqEncodeAgainst(
      AnalyticsQueries.pqSubcodes(Tables.embeddings(spark, dir)), codebooks))

  private lazy val vecTombs = Tables.embeddings(spark, dir)
    .filter(pmod(col("vec_id"), lit(7)) === 3).select(col("vec_id"))
    .localCheckpoint()

  private lazy val vecFreshSurvivors: Seq[String] = rows(
    AnalyticsQueries.pqEncodeAgainst(
      AnalyticsQueries.pqSubcodes(
        Tables.embeddings(spark, dir).filter(pmod(col("vec_id"), lit(7)) =!= 3)),
      codebooks))

  property("vector: ANY merge schedule lands the fresh full-corpus codes") =
    forAll(scheduleGen) { schedule =>
      rows(runSchedule(vecLeaves, schedule, "vec_id", None)) == vecFresh
    }

  property("vector: ANY schedule with a delete-applying final merge lands the survivor codes") =
    forAll(scheduleGen) { schedule =>
      rows(runSchedule(vecLeaves, schedule, "vec_id", Some(vecTombs))) ==
        vecFreshSurvivors
    }

  // the two extreme shapes, deterministic: the left-deep binary chain
  // and the single 4-ary merge, on both channels
  property("extremes: left-deep chain and 4-ary merge, both channels") =
    Prop.delay(Prop {
      val chain = List(List(0, 1), List(0, 2), List(0, 1))
      val nary = List(List(0, 1, 2, 3))
      rows(runSchedule(tokenLeaves, chain, "doc_id", None)) == tokenFresh &&
      rows(runSchedule(tokenLeaves, nary, "doc_id", None)) == tokenFresh &&
      rows(runSchedule(vecLeaves, chain, "vec_id", None)) == vecFresh &&
      rows(runSchedule(vecLeaves, nary, "vec_id", None)) == vecFresh
    })
}
