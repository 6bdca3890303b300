package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import graft.GraftSession
import graft.operators.OccCommitLog

/** Pins on the index commit log (a40) and its vacuum (p28) that the
  * DuckDB oracles cannot see: the log stage owning zero index bytes,
  * per-epoch plan isolation (an as-of read plans ONLY its snapshot's
  * files), and vacuum's physical contract — history files gone, the
  * present untouched row for row, vacuumed epochs failing at read,
  * the log's metadata history surviving, idempotence. */
class TimeTravelSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(cores = 4)
  private val dir = "/root/testdata/sf0.001"

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** p28/p30's reclaim: the OCC vacuum over the stage's own log. */
  private def vacuum(stage: String, retainLayouts: Int = 1): Seq[String] =
    OccCommitLog.vacuum(fs(stage), s"$stage/log", stage, retainLayouts)

  private def logCommits(stage: String): Int =
    OccCommitLog.read(fs(stage), s"$stage/log").size

  test("a40: the commit log owns ZERO index bytes — metadata plus marker only") {
    val stage = AnalyticsQueries.a40CommitLogStage(spark, dir)
    val entries = fs(stage).listStatus(new Path(stage))
      .map(_.getPath.getName).toSet
    assert(entries == Set("log", "done"),
      s"a40's stage must only NAME the lifecycle's artifacts, never copy " +
        s"them — found: $entries")
  }

  test("a40: each epoch's plan reads only that snapshot's layout files") {
    def files(v: Int): Seq[String] =
      AnalyticsQueries.a40ServeAsOf(spark, dir, v).inputFiles.toSeq
    // v0: the frozen base build — nothing from the a37 cycle stage
    val f0 = files(0)
    assert(f0.exists(_.contains("graft_a20kw_")), s"v0 must plan the base: $f0")
    assert(!f0.exists(_.contains("graft_a37kw_")),
      s"v0 leaked cycle-stage files: ${f0.filter(_.contains("graft_a37kw_"))}")
    // v1: merge 1's output only — no base, no tombstones, no final
    val f1 = files(1)
    assert(f1.exists(f => f.contains("graft_a37kw_") && f.contains("/gen1/")),
      s"v1 must plan gen1: $f1")
    assert(!f1.exists(_.contains("graft_a20kw_")), s"v1 leaked the base: $f1")
    assert(f1.filter(_.contains("graft_a37kw_")).forall(_.contains("/gen1/")),
      s"v1 leaked non-gen1 cycle files: $f1")
    // v2: gen1 + the tombstone id list (merge-on-read) — still no final
    val f2 = files(2)
    assert(f2.exists(_.contains("/tombstones/")), s"v2 must plan tombstones: $f2")
    assert(f2.filter(_.contains("graft_a37kw_"))
      .forall(f => f.contains("/gen1/") || f.contains("/tombstones/")),
      s"v2 leaked the final layout: $f2")
    // v3: the twice-merged final only — deletes folded in, no tombstone read
    val f3 = files(3)
    assert(f3.exists(f => f.contains("graft_a37kw_") && !f.contains("/gen1/")),
      s"v3 must plan the final layout: $f3")
    assert(!f3.exists(f => f.contains("/gen1/") || f.contains("/tombstones/") ||
      f.contains("graft_a20kw_")),
      s"v3 leaked historical files: $f3")
  }

  test("p28: vacuum reclaims history, preserves the present, is idempotent") {
    val tag = "p28spec"
    // force a FRESH owned log in one copy pass: a prior suite run may
    // have left a vacuumed stage under this fingerprint in /tmp
    val stage = AnalyticsQueries.p28OwnedLogStageTagged(spark, dir, tag,
      force = true)

    def serve(v: Int) =
      AnalyticsQueries.kwServeAsOfLog(spark, dir, stage, v)
    val before = serve(3).collect().map(_.toString).toSeq
    assert(serve(0).count() > 0 && serve(1).count() > 0,
      "pre-vacuum: every epoch must be readable from the owned log")

    val reclaimed = vacuum(stage)
    assert(reclaimed.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet ==
      Set("v0", "v1", "tomb2"),
      s"vacuum must reclaim exactly the superseded epochs: $reclaimed")
    Seq("v0", "v1", "tomb2").foreach(d =>
      assert(!fs(stage).exists(new Path(s"$stage/$d")),
        s"$d must be physically gone"))
    assert(fs(stage).exists(new Path(s"$stage/v3/postings")),
      "the current layout must survive vacuum")

    // the present: row-identical serve off the surviving layout
    val after = serve(3).collect().map(_.toString).toSeq
    assert(after == before, "vacuum perturbed the CURRENT snapshot")
    // history: the log still ENUMERATES four commits (metadata
    // survives), but an as-of read into a vacuumed epoch fails at read
    assert(logCommits(stage) == 4,
      "vacuum must not rewrite the log's history rows")
    intercept[Exception] { serve(1).count() }
    // idempotence: a second vacuum finds nothing to reclaim
    assert(vacuum(stage).isEmpty,
      "second vacuum must be a no-op")
  }

  test("a41: each vector epoch's plan reads only that snapshot's code rows") {
    // the frozen codebooks + meta (a12pq, non-codes) legitimately
    // appear in EVERY epoch — they are serving state, not epoch state;
    // what must time-travel is the code-row layout alone
    def files(v: Int): Seq[String] =
      AnalyticsQueries.a41ServeAsOf(spark, dir, v).inputFiles.toSeq
    def a12Codes(f: String) = f.contains("graft_a12pq_") && f.contains("/codes/")
    val f0 = files(0)
    assert(f0.exists(a12Codes), s"v0 must plan the frozen base codes: $f0")
    assert(!f0.exists(_.contains("graft_a39pq_")), s"v0 leaked cycle layouts: $f0")
    val f1 = files(1)
    assert(f1.exists(f => f.contains("graft_a39pq_") && f.contains("/gen1/")),
      s"v1 must plan gen1: $f1")
    assert(!f1.exists(a12Codes) && !f1.exists(_.contains("/tombstones/")),
      s"v1 leaked another epoch: $f1")
    assert(f1.filter(_.contains("graft_a39pq_")).forall(_.contains("/gen1/")),
      s"v1 leaked non-gen1 cycle files: $f1")
    val f2 = files(2)
    assert(f2.exists(_.contains("/tombstones/")), s"v2 must plan tombstones: $f2")
    assert(f2.filter(_.contains("graft_a39pq_"))
      .forall(f => f.contains("/gen1/") || f.contains("/tombstones/")),
      s"v2 leaked the final layout: $f2")
    val f3 = files(3)
    assert(f3.exists(f => f.contains("graft_a39pq_") && f.contains("/codes/")),
      s"v3 must plan the purged final codes: $f3")
    assert(!f3.exists(f => f.contains("/gen1/") || f.contains("/tombstones/") ||
      a12Codes(f)), s"v3 leaked historical files: $f3")
  }

  test("the newest epoch IS the lifecycle serve: a40(3) ≡ a37, a41(3) ≡ a39") {
    // time travel must collapse to the present when asked for it: the
    // log's newest epoch serves row-identically to the lifecycle
    // queries that produced the layout (same artifacts, same probe)
    assert(AnalyticsQueries.a40ServeAsOf(spark, dir, 3)
      .collect().map(_.toString).toSeq ==
      AnalyticsQueries.a37KeywordLifecycle(spark, dir)
        .collect().map(_.toString).toSeq,
      "a40's newest epoch drifted from a37's lifecycle serve")
    assert(AnalyticsQueries.a41ServeAsOf(spark, dir, 3)
      .collect().map(_.toString).toSeq ==
      AnalyticsQueries.a39VectorLifecycle(spark, dir)
        .collect().map(_.toString).toSeq,
      "a41's newest epoch drifted from a39's lifecycle serve")
  }

  test("p28: retention-windowed vacuum reclaims only beyond the horizon") {
    val tag = "p28ret"
    val stage = AnalyticsQueries.p28OwnedLogStageTagged(spark, dir, tag,
      force = true)
    def serve(v: Int) = AnalyticsQueries.kwServeAsOfLog(spark, dir, stage, v)
    val at1 = serve(1).collect().map(_.toString).toSeq
    val at2 = serve(2).collect().map(_.toString).toSeq
    // keep the newest TWO layouts (v1 and v3): only v0 is reclaimable
    val first = vacuum(stage, retainLayouts = 2)
    assert(first.map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq("v0"),
      s"retain=2 must reclaim exactly v0: $first")
    // epochs at/after the horizon still serve — including the
    // merge-on-read epoch 2, whose tombstone list is newer than v1
    assert(serve(1).collect().map(_.toString).toSeq == at1,
      "epoch 1 must survive a retain=2 vacuum")
    assert(serve(2).collect().map(_.toString).toSeq == at2,
      "epoch 2 (merge-on-read) must survive a retain=2 vacuum")
    intercept[Exception] { serve(0).count() }
    // tightening the window to 1 reclaims the rest (v1 + tombstones)
    val second = vacuum(stage)
    assert(second.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet ==
      Set("v1", "tomb2"), s"retain=1 must reclaim v1 + tomb2: $second")
    assert(serve(3).count() > 0, "the present must survive every vacuum")
    // a retention wider than history is a no-op
    assert(vacuum(stage, retainLayouts = 10).isEmpty,
      "retention wider than history must reclaim nothing")
  }

  test("p30: the VECTOR vacuum reclaims history, preserves the present, is idempotent") {
    // p28's vacuum reused verbatim on the vector channel's owned log —
    // the reclaim operator must neither know nor care that the layouts
    // under it are code tables instead of postings
    val stage = AnalyticsQueries.p30OwnedVecLogStageTagged(spark, dir,
      "p30spec", force = true)
    def serve(v: Int) = AnalyticsQueries.p30ServeAsOf(spark, dir, stage, v)
    val before = serve(3).collect().map(_.toString).toSeq
    assert(serve(0).count() > 0 && serve(2).count() > 0,
      "pre-vacuum: every vector epoch must be readable from the owned log")
    val reclaimed = vacuum(stage)
    assert(reclaimed.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet ==
      Set("v0", "v1", "tomb2"),
      s"vacuum must reclaim exactly the superseded vector epochs: $reclaimed")
    Seq("v0", "v1", "tomb2").foreach(d =>
      assert(!fs(stage).exists(new Path(s"$stage/$d")),
        s"$d must be physically gone"))
    assert(serve(3).collect().map(_.toString).toSeq == before,
      "vacuum perturbed the CURRENT vector snapshot")
    assert(logCommits(stage) == 4,
      "vacuum must not rewrite the vector log's history rows")
    intercept[Exception] { serve(1).count() }
    assert(vacuum(stage).isEmpty,
      "second vector vacuum must be a no-op")
    // the codebooks are serving state OUTSIDE the log: the a12 stage
    // must be untouched by however much vector history was reclaimed
    val a12 = AnalyticsQueries.a12CorpusIndexStage(spark, dir)
    assert(fs(a12).exists(new Path(s"$a12/codebooks")),
      "vacuum must never reach the shared frozen codebooks")
  }

  test("a40 feed: changes (from, to] name only the in-range commits' artifacts") {
    import org.apache.spark.sql.functions._
    val rows = AnalyticsQueries.a40IndexChangesBetween(spark, dir, 0, 3)
      .orderBy(col("version")).collect()
    assert(rows.map(r => (r.getAs[Int]("version"), r.getAs[String]("kind"))).toSeq ==
      Seq((1, "replace"), (2, "delete"), (3, "replace")),
      s"the (0,3] feed must carry exactly the three later epochs: ${rows.toSeq}")
    // the v0 base layout is OUT of range — the feed must not name it
    assert(!rows.exists(_.getAs[String]("path").contains("graft_a20kw_")),
      "a (0,3] feed leaked the v0 base layout")
    // an empty range is the everyday "changes since head" ask
    assert(AnalyticsQueries.a40IndexChangesBetween(spark, dir, 3, 3).count() == 0)
  }

  test("s38: the replica owns exactly the artifacts the feed named, and serves ≡ the source head") {
    val df = StreamingQueries.queries("s38_stream_index_replica")(spark, dir)
    val replica = df.collect().map(_.toString).toSeq
    val source = AnalyticsQueries.a40ServeAsOf(spark, dir, 3)
      .collect().map(_.toString).toSeq
    assert(replica == source,
      "the streamed replica drifted from the source log's head serve")
    val state = java.nio.file.Paths.get(
      PipelineQueries.staging("s38", dir)).resolve("state").toString
    val entries = fs(state).listStatus(new Path(state))
      .map(_.getPath.getName).toSet
    assert(entries == Set("layout_v0", "layout_v1", "tomb_v2", "layout_v3"),
      s"replica storage must hold exactly the shipped artifacts: $entries")
    // serve isolation: the replica serves from ITS OWN storage — no
    // plan file may reach back into the source lifecycle stages (that
    // would make "replica" a label, not a fact)
    val indexFiles = df.inputFiles.toSeq
      .filterNot(_.contains("documents.parquet")) // external query text
    assert(indexFiles.nonEmpty &&
      indexFiles.forall(_.contains("graft_s38_")),
      s"the replica serve planned source-side files: " +
        s"${indexFiles.filterNot(_.contains("graft_s38_"))}")
  }

  test("s40: the vector replica owns exactly the shipped artifacts, serves ≡ the source head") {
    val df = StreamingQueries.queries("s40_stream_vector_replica")(spark, dir)
    val replica = df.collect().map(_.toString).toSeq
    val source = AnalyticsQueries.a41ServeAsOf(spark, dir, 3)
      .collect().map(_.toString).toSeq
    assert(replica == source,
      "the streamed vector replica drifted from the a41 head serve")
    // serve isolation: code rows come from replica storage only; the
    // a12 stage legitimately appears for the frozen codebooks + meta
    // (serving state the feed never ships) and the external queries
    val codeFiles = df.inputFiles.toSeq.filterNot(f =>
      f.contains("embeddings.parquet") ||
        (f.contains("graft_a12pq_") && !f.contains("/codes/")))
    assert(codeFiles.nonEmpty && codeFiles.forall(_.contains("graft_s40_")),
      s"the vector replica serve planned source-side code files: " +
        s"${codeFiles.filterNot(_.contains("graft_s40_"))}")
    val state = java.nio.file.Paths.get(
      PipelineQueries.staging("s40", dir)).resolve("state").toString
    val entries = fs(state).listStatus(new Path(state))
      .map(_.getPath.getName).toSet
    assert(entries == Set("layout_v0", "layout_v1", "tomb_v2", "layout_v3"),
      s"vector replica storage must hold exactly the shipped artifacts: $entries")
    // the in-range rule is the same shared function on this channel:
    // a (0,3] feed must not name the v0 base codes
    val rows = AnalyticsQueries.a41IndexChangesBetween(spark, dir, 0, 3).collect()
    assert(rows.length == 3 &&
      !rows.exists(_.getAs[String]("path").contains("graft_a12pq_")),
      s"the (0,3] vector feed leaked the v0 base: ${rows.toSeq}")
  }

  test("p28: vacuum REFUSES a log whose artifacts it does not own") {
    // the a40 shared log names live lifecycle stages other queries
    // serve from — deleting those would be cross-query corruption
    val shared = AnalyticsQueries.a40CommitLogStage(spark, dir)
    intercept[IllegalArgumentException] {
      vacuum(shared)
    }
  }

  test("a commit log written over the STREAMED cycle's artifacts serves every epoch ≡ a40") {
    import org.apache.spark.sql.functions._
    // drive the s32 stream-driven cycle once: its run root retains the
    // same epoch artifacts the batch cycle stages (gen1, the landed
    // tombstones, the twice-merged final)
    StreamingQueries.queries("s32_stream_keyword_lifecycle")(spark, dir).collect()
    val base = AnalyticsQueries.a20CorpusKwIndexStage(spark, dir)
    val s32m = java.nio.file.Paths.get(
      PipelineQueries.staging("s32m", dir)).toString
    val tomb = java.nio.file.Paths.get(
      PipelineQueries.staging("s32b", dir)).resolve("cdc/tomb").toString
    // the daemon's commit log: one commit per retained artifact
    val logStage = s"${sys.props("java.io.tmpdir")}/graft_ttspec_streamlog"
    fs(logStage).delete(new Path(logStage), true)
    Seq(("layout", base), ("layout", s"$s32m/gen1"),
        ("tombstones", tomb), ("layout", s32m)).foreach { case (kind, path) =>
      OccCommitLog.commit(fs(logStage), s"$logStage/log", kind, path)
    }
    // every epoch's as-of serve off the stream-written log must be
    // row-identical to a40's serve off the batch cycle's log: the
    // stream's retained state IS time-travelable history
    (0 to 3).foreach { v =>
      val streamed = AnalyticsQueries.kwServeAsOfLog(spark, dir, logStage, v)
        .collect().map(_.toString).toSeq
      val batch = AnalyticsQueries.a40ServeAsOf(spark, dir, v)
        .collect().map(_.toString).toSeq
      assert(streamed == batch, s"epoch $v drifted between the stream-" +
        "written log and the batch log")
    }
  }

  test("a feed pulled from behind the retention horizon fails LOUDLY at the artifact copy") {
    // the contract production hits monthly: a consumer that fell
    // behind vacuum's horizon must get a hard, named error at PULL
    // time — not whatever the filesystem happens to throw, and never a
    // silent skip that desynchronizes the replica forever
    val stage = AnalyticsQueries.p28OwnedLogStageTagged(spark, dir,
      "p28horiz", force = true)
    vacuum(stage) // horizon = newest layout
    // the feed READ itself stays metadata-scale and succeeds — events
    // are (version, kind, path) rows, no artifact bytes planned — even
    // though the artifacts behind the horizon are physically gone
    val events = AnalyticsQueries.indexChangesFromLog(spark, stage, -1, 3)
      .orderBy(org.apache.spark.sql.functions.col("version")).collect()
    assert(events.length == 4,
      s"the feed read must still enumerate full history: ${events.toSeq}")
    // the PULL of a reclaimed artifact (v0's layout) throws the named
    // horizon error
    val pullRoot = s"${sys.props("java.io.tmpdir")}/graft_ttspec_horizpull"
    fs(pullRoot).delete(new Path(pullRoot), true)
    val ex = intercept[IllegalStateException] {
      events.foreach { r =>
        PipelineQueries.copyDir(spark, r.getAs[String]("path"),
          s"$pullRoot/v${r.getAs[Int]("version")}")
      }
    }
    assert(ex.getMessage.contains("retention horizon"),
      s"the reclaimed-artifact pull must name the horizon contract: $ex")
    // pulls at or after the horizon still work: the head layout copies
    PipelineQueries.copyDir(spark,
      events.last.getAs[String]("path"), s"$pullRoot/head")
    assert(fs(pullRoot).exists(new Path(s"$pullRoot/head/postings")),
      "an in-retention artifact must still be pullable")
  }

  test("a replica restarted from behind the horizon surfaces the gap, not a silent skip") {
    // the streaming half of the same contract: an s38-shaped replica
    // whose checkpoint is older than the source's retention horizon
    // re-pulls a reclaimed epoch — the drain must FAIL with the named
    // horizon error (surfacing "re-seed from a current snapshot"),
    // never skip the epoch and serve a hole
    val stage = AnalyticsQueries.p28OwnedLogStageTagged(spark, dir,
      "p28horizrep", force = true)
    vacuum(stage)
    val ex = intercept[Exception] {
      StreamingQueries.streamedIndexReplica(spark, dir, "s38horiz") { staged =>
        (0 to 3).foreach { v =>
          AnalyticsQueries.indexChangesFromLog(spark, stage, v - 1, v)
            .coalesce(1).write.mode("overwrite").parquet(s"$staged/v$v")
        }
      } { (layout, tombs) =>
        AnalyticsQueries.kwServeSnapshot(spark, dir, layout, tombs)
      }
    }
    def horizonNamed(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("retention horizon")) ||
        horizonNamed(t.getCause))
    assert(horizonNamed(ex),
      s"the behind-horizon replica must fail with the named contract error: $ex")
  }

  test("p33: checkpoint folds the prefix, vacuum reclaims it, head and in-retention feed untouched") {
    import org.apache.spark.sql.functions.col
    val root = PipelineQueries.p33OwnedTableLogTagged(spark, dir, "p33spec",
      force = true)
    def asOf(v: Int) = PipelineQueries.tableAsOfLog(spark, root, v)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq.sorted
    val at3 = rows(asOf(3))
    assert(asOf(1).count() > 0,
      "pre-checkpoint: every epoch must be readable from the owned log")
    val feedPre = PipelineQueries.p29ChangesFromLog(spark, root, 0, 3)
      .collect().map(_.toString).toSeq
    // CHECKPOINT at v2: one snapshot commit that reads at v2, and
    // idempotent — the log row is the marker
    val snap = PipelineQueries.p33CheckpointRun(spark, root, 2)
    assert(PipelineQueries.p33CheckpointRun(spark, root, 2) == snap,
      "a second checkpoint at the same version must be a no-op")
    assert(logCommits(root) == 5,
      "the checkpoint must add exactly one log row")
    // the feed SKIPS the checkpoint commit (derived data, not a
    // change): the checkpointed log feeds identically to the raw one
    assert(PipelineQueries.p29ChangesFromLog(spark, root, 0, 3)
      .collect().map(_.toString).toSeq == feedPre,
      "a checkpoint commit must be invisible in the change feed")
    // as-of resolves THROUGH the checkpoint: same rows, and the head
    // plan now reads the snapshot + tombstones — no delta file
    assert(rows(asOf(3)) == at3, "the checkpoint moved the head by a row")
    val f3 = asOf(3).inputFiles.toSeq
    assert(f3.exists(_.contains("snapshot_v2")) &&
      !f3.exists(_.contains("delta_v")),
      s"the checkpointed head must plan the snapshot, not the deltas: $f3")
    // VACUUM: exactly the three folded deltas reclaimed; the v3
    // tombstone list is newer than the checkpoint and survives
    val reclaimed = PipelineQueries.p33VacuumRun(spark, root)
    assert(reclaimed.map(p => p.substring(p.lastIndexOf('/') + 1)) ==
      Seq("delta_v0", "delta_v1", "delta_v2"),
      s"vacuum must reclaim exactly the folded deltas: $reclaimed")
    assert(fs(root).exists(new Path(s"$root/tombstones_v3")),
      "an above-horizon tombstone list must survive the table vacuum")
    assert(rows(asOf(3)) == at3, "vacuum perturbed the head snapshot")
    assert(logCommits(root) == 5,
      "vacuum must not rewrite the log's history rows")
    // behind the horizon: as-of fails at planning, the feed pull fails
    // with the NAMED contract error; above it, the feed still serves
    intercept[Exception] { asOf(1).count() }
    val ex = intercept[IllegalStateException] {
      PipelineQueries.p29ChangesFromLog(spark, root, 0, 3).collect()
    }
    assert(ex.getMessage.contains("retention horizon"),
      s"the behind-horizon feed must name the contract: $ex")
    val tail = PipelineQueries.p29ChangesFromLog(spark, root, 2, 3)
      .select(col("kind")).distinct().collect().map(_.getString(0)).toSeq
    assert(tail == Seq("delete"),
      s"the in-retention feed must still serve the v3 delete: $tail")
    // idempotence
    assert(PipelineQueries.p33VacuumRun(spark, root).isEmpty,
      "second table vacuum must be a no-op")
  }

  test("p23: a commit without a logged schema, or with a conflicting one, fails naming its version") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.OccCommitLog
    val root = java.nio.file.Files.createTempDirectory("p23schema").toString
    try {
      val docs = spark.range(4).select(col("id").as("doc_id"),
        lit("en").as("lang"), lit(1L).as("n_chars"))
      (0 to 2).foreach(v => docs.write.parquet(s"$root/delta_v$v"))
      val logDir = s"$root/log"
      OccCommitLog.commitMeta(fs(root), logDir, "insert", s"$root/delta_v0",
        Map("schema" -> docs.schema.toDDL))
      OccCommitLog.commitMeta(fs(root), logDir, "insert", s"$root/delta_v1",
        Map("schema" -> "doc_id INT"))
      OccCommitLog.commit(fs(root), logDir, "insert", s"$root/delta_v2")
      assert(PipelineQueries.p23SnapshotFromRoot(spark, root, 0).count() == 4)
      val conflict = intercept[IllegalStateException] {
        PipelineQueries.p23SnapshotFromRoot(spark, root, 1)
      }
      assert(conflict.getMessage.contains("version 1"),
        s"a conflicting schema must name its version: $conflict")
      val missing = intercept[IllegalStateException] {
        PipelineQueries.p23SnapshotFromRoot(spark, root, 2)
      }
      assert(missing.getMessage.contains("version 2") &&
        missing.getMessage.contains("no schema"),
        s"a missing schema must name its version: $missing")
    } finally fs(root).delete(new Path(root), true)
  }

  test("p29: a change-feed read plans only the in-range commits' files") {
    val files = PipelineQueries.p29ChangesBetween(spark, dir, 0, 3)
      .inputFiles.toSeq
    assert(!files.exists(_.contains("delta_v0")),
      s"changes after v0 must never touch the v0 delta: $files")
    assert(files.exists(_.contains("delta_v1")) &&
      files.exists(_.contains("delta_v2")) &&
      files.exists(_.contains("tombstones_v3")),
      s"changes (0,3] must plan v1+v2 deltas and the v3 tombstones: $files")
  }

  test("p29 ∘ p23: as_of(0) + changes(0,3] ≡ as_of(3), row for row") {
    import org.apache.spark.sql.functions.col
    val ch = PipelineQueries.p29ChangesBetween(spark, dir, 0, 3)
    val ins = ch.filter(col("kind") === "insert")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val del = ch.filter(col("kind") === "delete").select(col("doc_id"))
    val applied = PipelineQueries.p23SnapshotAsOf(spark, dir, 0)
      .unionByName(ins)
      .join(del, Seq("doc_id"), "left_anti")
      .collect().map(_.toString).toSeq.sorted
    val target = PipelineQueries.p23SnapshotAsOf(spark, dir, 3)
      .collect().map(_.toString).toSeq.sorted
    assert(applied == target,
      "replaying the change feed onto the old snapshot must land the new one")
  }
}
