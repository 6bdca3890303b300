package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Optimistic-concurrency family (p31–p32) — the
  * [[graft.operators.OccCommitLog]] protocol driven through the oracle
  * gate: multi-writer arbitration (p31) and the maintained log's
  * production triangle (p32), both serving through a37's
  * fresh-build-over-survivors oracle so concurrency machinery must
  * leave NO trace in what the index serves. Split out of
  * [[LifecycleFamily]] (r15 growth watch) along the same family-trait
  * boundary as every prior split; mixed back into the
  * [[AnalyticsQueries]] facade, behavior unchanged. The streamed
  * composition — a daemon whose ONLY state is the log — lives in
  * [[StreamingOccFamily]] (s41/s42); OccProtocolSpec owns the
  * adversarial schedules an oracle hash cannot see. */
private[queries] trait OccFamily { this: AnalyticsQueries.type =>

  /** p31 — CONCURRENT COMMITS: the optimistic-concurrency commit
    * protocol ([[graft.operators.OccCommitLog]] — put-if-absent
    * version files, retry-on-conflict; Delta's core trick) exercised
    * as a gated query. Three writers race on ONE fresh log with no
    * coordination beyond the protocol: one commits the pre-staged base
    * index, one commits both segment layouts, one commits the
    * tombstone list — four commits, three threads, a barrier releasing
    * them together so the version race is real. The log that emerges
    * has arbitrary version ASSIGNMENT but a deterministic commit SET
    * (OccCommitLog.read asserts density — no commit lost, the
    * protocol's whole point), and the resolution here is set-valued —
    * union of committed segments minus committed tombstones — so the
    * delete-applying re-stat merge over what the log names is
    * interleaving-invariant: gated by a37's fresh-build-over-survivors
    * ORACLE, whatever order the race produced. The settled log is then
    * CHECKPOINTED and its folded commit files expired (Delta's
    * N.checkpoint + log retention), and the readback resolves through
    * the compacted form — one gate covering arbitration AND lossless
    * log compaction. The thread bodies are pure metadata operations
    * (the segments were ingested and priced elsewhere; a commit is one
    * small file), which is exactly the production claim: arbitration
    * costs log writes, not index bytes. OccProtocolSpec drives the
    * harder schedules (two-writer firehose, vacuum racing an ingest
    * daemon racing an as-of reader, checkpoint racing writers). */
  def p31ConcurrentCommits(spark: SparkSession, dir: String): DataFrame = {
    // per-run root: the race is the subject, so nothing here is cached
    val root = PipelineQueries.staging("p31occ", dir)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(rootPath, true)
    val logDir = s"$root/log"
    // pre-staged inputs (fingerprint-keyed shared stages — ingest cost
    // priced by a20/a37's rows) plus this run's tombstone list
    val base = a20CorpusKwIndexStage(spark, dir)
    val seg1 = stageKwIndexTable(spark, dir, "a37s1",
      col("doc_id") % 4 === 1)
    val seg2 = stageKwIndexTable(spark, dir, "a37s2",
      col("doc_id") % 4 === 3)
    Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/tombstones")
    // three writers, one log, released together
    val barrier = new java.util.concurrent.CyclicBarrier(3)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = Seq(
      Seq(("segment", base)),
      Seq(("segment", seg1), ("segment", seg2)),
      Seq(("tombstones", s"$root/tombstones")),
    ).map { commits =>
      new Thread(() =>
        try {
          barrier.await()
          commits.foreach { case (kind, path) =>
            graft.operators.OccCommitLog.commit(fs, logDir, kind, path)
          }
        } catch { case t: Throwable => failures.add(t) })
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()
    // checkpoint the settled log and expire the folded commit files
    // (Delta's N.checkpoint + log retention): the readback below goes
    // THROUGH the compacted form, so the gate also pins that
    // checkpointing is lossless — at one commit per ingest batch the
    // directory listing, not the data, is what this keeps metadata-
    // scale at 100 TB
    graft.operators.OccCommitLog.checkpoint(fs, logDir)
    graft.operators.OccCommitLog.cleanLog(fs, logDir)
    // read back: density asserted inside read(); the commit SET must
    // be exactly what the three writers published
    val log = graft.operators.OccCommitLog.readTriples(fs, logDir)
    require(log.size == 4 && log.map(_._1) == Seq(0, 1, 2, 3),
      s"commit set damaged by the race: $log")
    val segs = log.filter(_._2 == "segment").map(_._3)
    val tombPaths = log.filter(_._2 == "tombstones").map(_._3)
    require(segs.size == 3 && tombPaths.size == 1,
      s"commit kinds damaged by the race: $log")
    // delete-applying re-stat over everything the log names — the same
    // merge discipline as a37's second merge, inputs from the log
    val tf = segs.map(kwRecoverTf(spark, _)).reduce(_ unionByName _)
      .join(broadcast(spark.read.parquet(tombPaths.head)),
        Seq("doc_id"), "left_anti")
      .localCheckpoint() // recover+anti once: count + both layout passes
    val nLive = tf.select(col("doc_id")).distinct().count()
    writeKwLayout(spark, s"$root/merged", tf, nLive)
    kwPrunedSearch(spark, dir,
      spark.read.parquet(s"$root/merged/terms")
        .select(col("term"), col("term_id"), col("df")),
      spark.read.parquet(s"$root/merged/postings"))
  }

  /** p32 — the MAINTAINED OCC index log: the production triangle
    * (ingest writer, retention vacuum, checkpoint compaction) run
    * concurrently over REAL index artifacts, then served through what
    * survives. The four keyword epochs are first COPIED into log-owned
    * storage (p28's ownership model — arbitration and reclaim may only
    * ever touch owned bytes), then one thread commits them in order
    * through [[graft.operators.OccCommitLog]] while a maintenance
    * thread RACES retention vacuum (keep the newest layout),
    * checkpoint, and log cleanup against the arriving history — the
    * schedule every deployment actually runs, arbitrated by nothing
    * but the put-if-absent protocol. After the race settles: history
    * is still enumerable (from the checkpoint — the commit files may
    * be expired), superseded epochs are physically gone, and the as-of
    * head serve over the one surviving layout must be EXACTLY the
    * twice-merged survivor index — a37's oracle, maintenance leaving
    * no trace in the present. p31 gates arbitration alone;
    * OccProtocolSpec drives the adversarial schedules; this key is the
    * composition on real postings. */
  def p32OccMaintainedIndex(spark: SparkSession, dir: String): DataFrame = {
    val root = PipelineQueries.staging("p32occ", dir)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(rootPath, true) // per-run: the race is the subject
    val logDir = s"$root/log"
    // own the epochs BEFORE any commit names them (a commit names a
    // fully landed artifact — the staging discipline)
    val cyc = stageA37KwCycle(spark, dir)
    val base = a20CorpusKwIndexStage(spark, dir)
    def ownLayout(srcRoot: String, name: String): String = {
      PipelineQueries.copyDir(spark, s"$srcRoot/terms", s"$root/$name/terms")
      PipelineQueries.copyDir(spark, s"$srcRoot/postings", s"$root/$name/postings")
      s"$root/$name"
    }
    val commits = Seq(
      ("layout", ownLayout(base, "v0")),
      ("layout", ownLayout(s"$cyc/gen1", "v1")),
      ("tombstones",
        PipelineQueries.copyDir(spark, s"$cyc/tombstones", s"$root/tomb2")),
      ("layout", ownLayout(cyc, "v3")))
    @volatile var writerDone = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val occ = graft.operators.OccCommitLog
    val threads = Seq(
      // the ingest writer: one epoch after another
      new Thread(() => try {
        commits.foreach { case (kind, path) =>
          occ.commit(fs, logDir, kind, path); Thread.sleep(20)
        }
        writerDone = true
      } catch { case t: Throwable => failures.add(t); writerDone = true }),
      // the maintenance daemon: vacuum + checkpoint + log cleanup,
      // racing the writer on the same log
      new Thread(() => try {
        while (!writerDone) {
          occ.vacuum(fs, logDir, root, retainLayouts = 1)
          occ.checkpoint(fs, logDir)
          occ.cleanLog(fs, logDir)
          Thread.sleep(12)
        }
      } catch { case t: Throwable => failures.add(t) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()
    // the post-drain maintenance pass (what a daemon does at shutdown)
    occ.vacuum(fs, logDir, root, retainLayouts = 1)
    occ.checkpoint(fs, logDir)
    occ.cleanLog(fs, logDir)
    // history: all four commits enumerable (the checkpoint carries any
    // expired files); storage: only the head layout survives
    val log = occ.readTriples(fs, logDir)
    require(log.map(_._1) == Seq(0, 1, 2, 3),
      s"maintenance lost history: $log")
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v0")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$root/v1")),
      "retention vacuum must have reclaimed the superseded epochs")
    val (layout, tombs) = PipelineQueries.resolveAsOf(log, 3, logDir)
    require(tombs.isEmpty,
      "the head layout is delete-applying — no tombstones may be pending")
    kwServeSnapshot(spark, dir, layout, tombs)
  }
}
