package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.GraftSession

/** The lifecycle-cycle invariant (a37–a39, m13), pinned at CONTENT
  * level: after two append generations, interleaved deletes, and two
  * merge rounds (the second delete-applying), each channel's final
  * stored layout must hold EXACTLY what a fresh single-pass build over
  * the surviving corpus produces — and serve exactly what the
  * channel's one-shot delete query serves. The oracle gate checks the
  * served RESULTS; this spec additionally opens the stored artifacts,
  * so a merge that produced the right top-20 from wrong stored stats
  * (compensating errors) still fails here. */
class LifecycleCycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(cores = 4)
  private val dir = "/root/testdata/sf0.001"

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a37: twice-merged keyword index == fresh build over survivors (terms, postings, serve)") {
    val cycle = AnalyticsQueries.a37KwCycleStage(spark, dir)
    val fresh = AnalyticsQueries.a37FreshSurvivorKwStage(spark, dir)
    val meta = spark.read.parquet(s"$cycle/meta").head
    assert(meta.getAs[Long]("n_tomb") > 0, "fixture produced no tombstones")
    // the re-stat of a re-stat must land the exact fresh-build
    // dictionary: same survivor df/idf, same dense lexicographic
    // term_ids, same max_impact bounds
    assert(sortedRows(spark.read.parquet(s"$cycle/terms")) ==
      sortedRows(spark.read.parquet(s"$fresh/terms")),
      "cycle dictionary drifted from the fresh survivor build")
    assert(sortedRows(spark.read.parquet(s"$cycle/postings")) ==
      sortedRows(spark.read.parquet(s"$fresh/postings")),
      "cycle postings drifted from the fresh survivor build")
    // and the serve over the cycle layout == a19's probe over the
    // fresh survivor layout, row for row
    def serve(stage: String) = AnalyticsQueries.kwPrunedSearch(spark, dir,
      spark.read.parquet(s"$stage/terms")
        .select(col("term"), col("term_id"), col("df")),
      spark.read.parquet(s"$stage/postings")).collect().toSeq
    assert(serve(cycle) == serve(fresh))
  }

  test("s32: stream-driven cycle lands the exact batch-cycle layout (terms, postings, serve)") {
    // run the streamed cycle first (it rebuilds its merge root per
    // run), THEN open its stored artifacts — driver-staged (a37) or
    // stream-landed (s32), the two merge disciplines must land
    // byte-equal dictionaries and postings and serve identical rows
    val servedStream = StreamingQueries.s32StreamKeywordLifecycle(spark, dir)
      .collect().toSeq
    val streamRoot = PipelineQueries.staging("s32m", dir)
    val cycle = AnalyticsQueries.a37KwCycleStage(spark, dir)
    assert(sortedRows(spark.read.parquet(s"$streamRoot/terms")) ==
      sortedRows(spark.read.parquet(s"$cycle/terms")),
      "stream-driven cycle dictionary drifted from the batch cycle")
    assert(sortedRows(spark.read.parquet(s"$streamRoot/postings")) ==
      sortedRows(spark.read.parquet(s"$cycle/postings")),
      "stream-driven cycle postings drifted from the batch cycle")
    assert(servedStream ==
      AnalyticsQueries.a37KeywordLifecycle(spark, dir).collect().toSeq)
  }

  test("s33/s34/s35: stream-driven cycles land their batch cycles' exact layouts and serves") {
    // one test, three channels: run each streamed cycle (rebuilds its
    // merge root per run), then pin its final stored layout
    // row-identical to the driver-staged batch cycle and its served
    // rows identical to the batch cycle's serve
    val s33Serve = StreamingQueries.s33StreamTokenLifecycle(spark, dir).collect().toSeq
    assert(sortedRows(spark.read.parquet(
        s"${PipelineQueries.staging("s33m", dir)}/tokens")) ==
      sortedRows(spark.read.parquet(
        s"${AnalyticsQueries.a38TokenCycleStage(spark, dir)}/tokens")),
      "stream-driven token cycle drifted from the a38 batch cycle")
    assert(s33Serve == AnalyticsQueries.a38TokenLifecycle(spark, dir).collect().toSeq)

    val s34Serve = StreamingQueries.s34StreamVectorLifecycle(spark, dir).collect().toSeq
    assert(sortedRows(spark.read.parquet(
        s"${PipelineQueries.staging("s34m", dir)}/codes")) ==
      sortedRows(spark.read.parquet(
        s"${AnalyticsQueries.a39VecCycleStage(spark, dir)}/codes")),
      "stream-driven vector cycle drifted from the a39 batch cycle")
    assert(s34Serve == AnalyticsQueries.a39VectorLifecycle(spark, dir).collect().toSeq)

    val s35Serve = StreamingQueries.s35StreamImageLifecycle(spark, dir).collect().toSeq
    assert(sortedRows(spark.read.parquet(
        s"${PipelineQueries.staging("s35m", dir)}/hashes")) ==
      sortedRows(spark.read.parquet(
        s"${AnalyticsQueries.m13ImageCycleStage(spark, dir)}/hashes")),
      "stream-driven image cycle drifted from the m13 batch cycle")
    assert(s35Serve == AnalyticsQueries.m13ImageLifecycle(spark, dir).collect().toSeq)
  }

  test("s36: the merge policy fired mid-stream and landed the fresh monolith") {
    // the oracle gates the served rows; this opens the daemon's own
    // artifacts: the policy must have fired TWICE inside the stream
    // (two segment landings per trip, four landings — a post-drain
    // sweep alone would mean the in-stream policy never ran), and the
    // final generation must hold exactly the fresh monolithic build
    val serve = StreamingQueries.s36StreamPolicyCompaction(spark, dir).collect().toSeq
    val root = PipelineQueries.staging("s36m", dir)
    val meta = spark.read.parquet(s"$root/meta").head
    assert(meta.getAs[Int]("n_merges") == 2,
      s"expected the policy to fire twice mid-stream, got ${meta.getAs[Int]("n_merges")}")
    val fresh = AnalyticsQueries.keywordIndexStage(spark, dir)
    assert(sortedRows(spark.read.parquet(s"$root/gen2/terms")) ==
      sortedRows(spark.read.parquet(s"$fresh/terms")),
      "policy-compacted dictionary drifted from the fresh monolith")
    assert(sortedRows(spark.read.parquet(s"$root/gen2/postings")) ==
      sortedRows(spark.read.parquet(s"$fresh/postings")),
      "policy-compacted postings drifted from the fresh monolith")
    assert(serve == AnalyticsQueries.a19KeywordSearchPrebuilt(spark, dir).collect().toSeq)
  }

  test("s39: the token daemon's policy fired mid-stream and landed the full table") {
    // s36's pin on the token channel: the policy must have fired TWICE
    // inside the stream, and the final generation must hold exactly
    // the monolithic a28 token table — a merge here is a pure layout
    // rewrite, so the daemon's schedule can leave no trace at all
    val serve = StreamingQueries.s39StreamTokenPolicyCompaction(spark, dir)
      .collect().toSeq
    val root = PipelineQueries.staging("s39m", dir)
    val meta = spark.read.parquet(s"$root/meta").head
    assert(meta.getAs[Int]("n_merges") == 2,
      s"expected the policy to fire twice mid-stream, got ${meta.getAs[Int]("n_merges")}")
    val full = AnalyticsQueries.tokenHashStage(spark, dir)
    assert(sortedRows(spark.read.parquet(s"$root/gen2")) ==
      sortedRows(spark.read.parquet(s"$full/tokens")),
      "policy-compacted token table drifted from the monolithic build")
    assert(serve == AnalyticsQueries.a29MaxSimServed(spark, dir).collect().toSeq)
  }

  test("s41/s42: the OCC-committed daemons land the driver-state daemons' exact layouts") {
    // committing through the concurrency protocol must be invisible in
    // the artifacts: s41's head layout (resolved FROM the log) must be
    // row-identical to s36's ledger-committed final generation, and
    // s42's to the monolithic token table — one merge discipline,
    // three bookkeeping shapes (driver state, landing ledger, OCC
    // log), one answer. Also opens the log itself: exactly 4 segment
    // commits + 2 mid-stream layout commits (no sweep needed), every
    // commit carrying its writer's txn identity.
    val s41Serve = StreamingQueries.s41OccKeywordDaemon(spark, dir).collect().toSeq
    val occ = graft.operators.OccCommitLog
    def headLayout(tag: String): String = {
      val root = PipelineQueries.staging(tag, dir)
      val hfs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val log = occ.read(hfs, s"$root/log")
      assert(log.count(_.kind == "segment") == 4 &&
        log.count(_.kind == "layout") == 2,
        s"$tag: expected 4 landings + 2 mid-stream merges, got $log")
      assert(log.forall(c => c.txnApp.isDefined && c.txnVersion.isDefined),
        s"$tag: every daemon commit must carry its writer txn: $log")
      val meta = spark.read.parquet(s"$root/meta").head
      assert(meta.getAs[Int]("n_merges") == 2,
        s"$tag: the policy must fire twice mid-stream")
      log.filter(_.kind == "layout").maxBy(_.version).path
    }
    val kw = headLayout("s41m")
    StreamingQueries.s36StreamPolicyCompaction(spark, dir).collect()
    val s36gen2 = s"${PipelineQueries.staging("s36m", dir)}/gen2"
    assert(sortedRows(spark.read.parquet(s"$kw/terms")) ==
      sortedRows(spark.read.parquet(s"$s36gen2/terms")),
      "the OCC-committed dictionary drifted from the ledger-committed daemon's")
    assert(sortedRows(spark.read.parquet(s"$kw/postings")) ==
      sortedRows(spark.read.parquet(s"$s36gen2/postings")),
      "the OCC-committed postings drifted from the ledger-committed daemon's")
    assert(s41Serve ==
      AnalyticsQueries.a19KeywordSearchPrebuilt(spark, dir).collect().toSeq)

    val s42Serve = StreamingQueries.s42OccTokenDaemon(spark, dir).collect().toSeq
    val tok = headLayout("s42m")
    val full = AnalyticsQueries.tokenHashStage(spark, dir)
    assert(sortedRows(spark.read.parquet(tok)) ==
      sortedRows(spark.read.parquet(s"$full/tokens")),
      "the OCC-committed token table drifted from the monolithic build")
    assert(s42Serve == AnalyticsQueries.a29MaxSimServed(spark, dir).collect().toSeq)
  }

  test("s43: the OCC CDC daemon lands the a37 batch cycle's exact survivor layout") {
    // segments AND tombstones committed through the protocol, merges
    // delete-applying and resolved from the log: the head layout must
    // be row-identical to the driver-staged a37 cycle's final (the
    // fresh-survivor re-stat), and the log must show both landing
    // kinds, ≥1 mid-stream merge, a delete-applied head (resolveAsOf
    // hands it zero pending tombstones — asserted inside the query),
    // and every commit carrying its writer txn.
    val serve = StreamingQueries.s43OccCdcDaemon(spark, dir).collect().toSeq
    val occ = graft.operators.OccCommitLog
    val root = PipelineQueries.staging("s43m", dir)
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val log = occ.read(hfs, s"$root/log")
    assert(log.count(_.kind == "segment") == 4 &&
      log.count(_.kind == "tombstones") == 4 &&
      log.count(_.kind == "layout") == 2,
      s"expected 4+4 landings and 2 mid-stream merges, got $log")
    assert(log.forall(c => c.txnApp.isDefined && c.txnVersion.isDefined),
      s"every daemon commit must carry its writer txn: $log")
    val head = log.filter(_.kind == "layout").maxBy(_.version).path
    val cycle = AnalyticsQueries.a37KwCycleStage(spark, dir)
    assert(sortedRows(spark.read.parquet(s"$head/terms")) ==
      sortedRows(spark.read.parquet(s"$cycle/terms")),
      "the OCC CDC daemon's dictionary drifted from the a37 batch cycle")
    assert(sortedRows(spark.read.parquet(s"$head/postings")) ==
      sortedRows(spark.read.parquet(s"$cycle/postings")),
      "the OCC CDC daemon's postings drifted from the a37 batch cycle")
    assert(serve ==
      AnalyticsQueries.a37KeywordLifecycle(spark, dir).collect().toSeq)
  }

  test("a38: twice-merged token table == fresh survivor build; serve == one-shot a34") {
    import spark.implicits._
    val cycle = AnalyticsQueries.a38TokenCycleStage(spark, dir)
    val fresh = AnalyticsQueries.stageTokenTable(spark, dir, "a38fresh",
      pmod(col("doc_id"), lit(7)) =!= 3, partitions = 4)
    def rows(p: String) = spark.read.parquet(p)
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    assert(rows(s"$cycle/tokens") == rows(s"$fresh/tokens"),
      "cycle token table drifted from the fresh survivor build")
    def served(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq
    assert(served(AnalyticsQueries.a38TokenLifecycle(spark, dir)) ==
      served(AnalyticsQueries.a34TombstoneRerank(spark, dir)))
  }

  test("a39: twice-merged code table == a16's purged codes; serve == one-shot a16") {
    val cycle = AnalyticsQueries.a39VecCycleStage(spark, dir)
    val purged = s"${AnalyticsQueries.a16DeleteStage(spark, dir)}/purged"
    // codebooks frozen throughout, so the ground truth is the
    // delete-applying compaction's purged code table (a fresh build
    // would retrain — deliberately NOT this channel's loop semantics)
    assert(sortedRows(spark.read.parquet(s"$cycle/codes")) ==
      sortedRows(spark.read.parquet(purged)),
      "cycle code table drifted from the purged compaction ground truth")
    assert(AnalyticsQueries.a39VectorLifecycle(spark, dir).collect().toSeq ==
      AnalyticsQueries.a16TombstoneSearch(spark, dir).collect().toSeq)
  }

  test("a39: recall@5 of the twice-merged purged index vs brute force over SURVIVORS") {
    // a18 gates recall on the fresh index; this points the same
    // harness at the cycle's layout. Ground truth is brute-force
    // cosine top-5 over the SURVIVING corpus only (not the full-corpus
    // truth post-filtered — a survivor ranked 6th overall belongs in
    // this truth set). Queries stay the external vec_id<10 slice the
    // serve uses, so tombstoned vectors still ask. The row-identity
    // pin above makes a39 ≡ a16; this measures the VALUE that
    // identity implies: the lifecycle loop must not silently degrade
    // what the index is for.
    import graft.expressions.{DoubleSortKey, TopKByScore}
    import graft.functions.Vectors
    val idx = AnalyticsQueries.a39VectorLifecycle(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        Vectors.normSq(col("embedding")).as("nsq"))
    val q = e.filter(col("vec_id") < 20).toDF("query_id", "qe", "qn")
    val exact = e.filter(pmod(col("vec_id"), lit(7)) =!= 3)
      .toDF("neighbor_id", "ce", "cn")
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        Vectors.cosine(col("qe"), col("ce"), col("qn"), col("cn")))
      .groupBy(col("query_id"))
      .agg(TopKByScore(DoubleSortKey(col("sim")), col("neighbor_id"), 5).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t").getField("id").as("neighbor_id"))
    val nTruth = exact.count()
    val hits = exact.join(idx, Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hits.toDouble / nTruth
    info(f"a39 cycled recall@5 vs survivor ground truth = $recall%.3f ($hits/$nTruth)")
    // floor 0.6: measured 0.73 on the current sf0.001 fixture — the
    // gate catches collapse (a broken merge scores random codes at
    // ~L/n), not small fixture-regeneration drift
    assert(recall >= 0.6,
      f"recall@5 after the two-merge cycle collapsed to $recall%.3f — " +
        "the purged, twice-merged index no longer finds what brute force finds")
  }

  test("m13: twice-merged hash table == fresh survivor build; serve == one-shot m12") {
    val cycle = AnalyticsQueries.m13ImageCycleStage(spark, dir)
    val fresh = AnalyticsQueries.stageM10Generation(spark, dir, "m13fresh",
      pmod(col("media_id"), lit(7)) =!= 3)
    assert(sortedRows(spark.read.parquet(s"$cycle/hashes")) ==
      sortedRows(spark.read.parquet(s"$fresh/hashes")),
      "cycle hash table drifted from the fresh survivor build")
    assert(AnalyticsQueries.m13ImageLifecycle(spark, dir).collect().toSeq ==
      AnalyticsQueries.m12TombstoneNearDup(spark, dir).collect().toSeq)
  }
}
