package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Tables

/** Streaming LIFECYCLE family (s32–s37) — one slice of
  * [[StreamingQueries]]: the stream-DRIVEN index lifecycles (segments
  * and tombstones arriving as interleaved streams, merges firing
  * between drains or on a policy trigger inside them) and the CDC
  * replica consumer. Split out of [[StreamingIngestFamily]] along the
  * single-step-twin vs whole-cycle boundary (r14 growth watch); mixed
  * back into the single `StreamingQueries` facade, behavior unchanged.
  * CONVENTION: task closures (flatMapGroups/mapPartitions/...)
  * must NOT reference trait-level vals/defs — that captures the
  * whole facade (Task-not-serializable); hoist to a local first.
  * `tools/closurelint.py` fails CI on the next violation; it also
  * bans trait-level `object`s: JVM-shared state goes at file top
  * level. foreachBatch BODIES run on the driver and may call trait
  * helpers — but nothing they build that serializes into tasks may
  * touch trait members. */
private[queries] trait StreamingLifecycleFamily { this: StreamingQueries.type =>

  /** s32 — the keyword lifecycle cycle DRIVEN BY STREAMS: a37's
    * two-merge steady-state loop with every input arriving over the
    * batch-id-keyed landing protocol instead of driver-staged parquet
    * writes (the r13 residual: the streamed twins covered each
    * lifecycle step singly — s17 appends, s31 deletes — while the
    * cycles ran on pre-staged inputs; this composes them). The
    * production shape: landings arrive AS streams, merges fire
    * BETWEEN drains.
    *
    *   drain 1 — segment-1 docs (ids ≡ 1 mod 4) arrive over four
    *     micro-batches; each batch is tokenized ONCE (the only moment
    *     text is touched) and lands its term-vector rows (doc_id,
    *     term, tf) batch-id-keyed — the per-segment in-writer state,
    *     index-scale, idempotent under checkpoint replay.
    *   merge 1 fires — a35's re-stat over base ∪ accumulated
    *     landings: base tf recovered from index bytes (impact DIV
    *     idf), landed tf read back as landed — no re-tokenization.
    *   drain 2 — the CDC feed: tombstone ids (ids ≡ 3 mod 7) and
    *     segment-2 docs (ids ≡ 3 mod 4) INTERLEAVED in the same
    *     stream (repartitioned together, so every micro-batch carries
    *     a mix of appends and deletes, arrival order arbitrary); each
    *     batch lands both kinds under its own batch id. A tombstone
    *     may precede ITS OWN doc's arrival in a later batch — the
    *     accumulated delete set applies at merge time, so order
    *     within the drain cannot matter.
    *   merge 2 fires — delete-applying re-stat: tf recovered from
    *     merge 1's OUTPUT (a re-stat of a re-stat) ∪ landed segment-2
    *     rows, the accumulated tombstone set broadcast-anti-joined
    *     BEFORE the stat pass, df/idf re-derived over the COUNTED
    *     survivor set.
    *
    * Hash-gated with a37's fresh-build-over-survivors ORACLE, and
    * spec-pinned layout-identical to the batch cycle
    * (LifecycleCycleSpec): driver-staged or stream-landed, one merge
    * discipline, one answer. Per-batch work is tokenize + an
    * index-scale landing append — merge cost is paid ONLY at the two
    * merge points, not per batch (the economics a37's stress row
    * prices). */
  /** The interleaved CDC input every stream-driven cycle's second
    * drain shares: segment-2 rows tagged kind='doc' unioned with
    * tombstone ids tagged kind='del' (the segment's payload columns
    * null on delete rows), repartitioned TOGETHER so every micro-batch
    * carries a mix of appends and deletes — the arrival shape a real
    * change feed has, order arbitrary because the accumulated delete
    * set applies at merge time. */
  private[queries] def cdcInterleave(seg: DataFrame, tomb: DataFrame): DataFrame =
    seg.withColumn("kind", lit("doc"))
      .unionByName(tomb.withColumn("kind", lit("del")),
        allowMissingColumns = true)
      .repartition(4)

  /** A per-run merge root for the stream-driven cycles (mutable state
    * rebuilt from this run's landings — never through stageOnce):
    * deleted at entry so every run re-lands its merges. */
  private[queries] def freshRunRoot(spark: SparkSession, dir: String,
      tag: String): String = {
    val root = java.nio.file.Paths.get(PipelineQueries.staging(tag, dir)).toString
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    hfs.delete(new org.apache.hadoop.fs.Path(root), true) // fresh run
    root
  }

  def s32StreamKeywordLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val base = AnalyticsQueries.a20CorpusKwIndexStage(spark, dir)
    // drain 1: segment-1 generation arrives as a stream
    val tf1Landed = streamedLandings(spark, dir, "s32a", "tf")(
      Tables.documents(spark, dir).filter(col("doc_id") % 4 === 1)
        .select(col("doc_id"), col("text"))
        .repartition(4)) { (batch, id, landed) =>
      batch.select(col("doc_id"),
          explode(graft.functions.TextFunctions.words(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(s"$landed/batch=$id")
    }
    // merge 1 fires between the drains: re-stat over base ∪ landings
    val root = freshRunRoot(spark, dir, "s32m")
    val tf1 = spark.read.parquet(tf1Landed)
      .select(col("doc_id"), col("term"), col("tf"))
    val n1 = spark.read.parquet(s"$base/meta").head.getAs[Long]("n") +
      tf1.select(col("doc_id")).distinct().count()
    AnalyticsQueries.writeKwLayout(spark, s"$root/gen1",
      AnalyticsQueries.kwRecoverTf(spark, base).unionByName(tf1), n1)
    // drain 2: deletes and segment-2 appends interleaved in one stream
    val cdcLanded = streamedLandings(spark, dir, "s32b", "cdc")(
      Tables.documents(spark, dir).filter(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("text"), lit("doc").as("kind"))
        .unionByName(Tables.documents(spark, dir)
          .filter(pmod(col("doc_id"), lit(7)) === 3)
          .select(col("doc_id"), lit(null).cast("string").as("text"),
            lit("del").as("kind")))
        .repartition(4)) { (batch, id, landed) =>
      batch.filter(col("kind") === "doc")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.words(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(s"$landed/tf/batch=$id")
      batch.filter(col("kind") === "del").select(col("doc_id"))
        .write.mode("overwrite").parquet(s"$landed/tomb/batch=$id")
    }
    // merge 2, delete-applying: merge 1's OUTPUT ∪ landed segment-2
    // rows, accumulated tombstones anti-joined before the stat pass
    val tf2seg = spark.read.parquet(s"$cdcLanded/tf")
      .select(col("doc_id"), col("term"), col("tf"))
    val tomb = spark.read.parquet(s"$cdcLanded/tomb").select(col("doc_id"))
    val tf2 = AnalyticsQueries.kwRecoverTf(spark, s"$root/gen1")
      .unionByName(tf2seg)
      .join(broadcast(tomb), Seq("doc_id"), "left_anti")
      .localCheckpoint() // recover+anti once: count + both layout passes
    // n_live counted from the survivor rows, asserted against the
    // cover arithmetic — same drift guard as the batch cycle
    val nLive = tf2.select(col("doc_id")).distinct().count()
    val arith = n1 + tf2seg.select(col("doc_id")).distinct().count() - tomb.count()
    require(nLive == arith,
      s"s32 survivor count drifted: counted=$nLive, arithmetic=$arith")
    AnalyticsQueries.writeKwLayout(spark, root, tf2, nLive)
    spark.range(1).select(lit(nLive).as("n_live"))
      .write.mode("overwrite").parquet(s"$root/meta")
    AnalyticsQueries.kwPrunedSearch(spark, dir,
      spark.read.parquet(s"$root/terms")
        .select(col("term"), col("term_id"), col("df")),
      spark.read.parquet(s"$root/postings"))
  }

  /** s33 — the TOKEN lifecycle cycle driven by streams: s32's
    * composition on the late-interaction channel. Segment-1 docs land
    * over one drain (tokenize+polyHash ONCE per batch — s25's landing,
    * ~72 B/doc index rows); merge 1 fires (a33's pure layout rewrite:
    * base ∪ landings into one doc_id-sorted table — token hashes are
    * per-doc functions, no recompute exists); then the CDC drain lands
    * tombstone ids and segment-2 rows interleaved, and the
    * delete-applying merge 2 rewrites merge 1's output ∪ landings
    * minus the accumulated delete set. Hash-gated with a34's ORACLE
    * (deletion total — neither candidate nor query) and spec-pinned
    * row-identical to the a38 batch cycle: driver-staged or
    * stream-landed, one merge discipline, one answer. */
  def s33StreamTokenLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val base = AnalyticsQueries.a30TokenBaseStage(spark, dir)
    val thLanded = streamedLandings(spark, dir, "s33a", "th")(
      Tables.documents(spark, dir).filter(col("doc_id") % 4 === 1)
        .select(col("doc_id"), col("text"))
        .repartition(4)) { (batch, id, landed) =>
      batch.select(col("doc_id"),
          AnalyticsQueries.tokHashes(col("text")).as("th"))
        .write.mode("overwrite").parquet(s"$landed/batch=$id")
    }
    val root = freshRunRoot(spark, dir, "s33m")
    spark.read.parquet(s"$base/tokens")
      .unionByName(spark.read.parquet(thLanded).select(col("doc_id"), col("th")))
      .repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(s"$root/gen1")
    val cdc = streamedLandings(spark, dir, "s33b", "cdc")(
      cdcInterleave(
        Tables.documents(spark, dir).filter(col("doc_id") % 4 === 3)
          .select(col("doc_id"), col("text")),
        Tables.documents(spark, dir).filter(pmod(col("doc_id"), lit(7)) === 3)
          .select(col("doc_id")))) { (batch, id, landed) =>
      batch.filter(col("kind") === "doc")
        .select(col("doc_id"),
          AnalyticsQueries.tokHashes(col("text")).as("th"))
        .write.mode("overwrite").parquet(s"$landed/th/batch=$id")
      batch.filter(col("kind") === "del").select(col("doc_id"))
        .write.mode("overwrite").parquet(s"$landed/tomb/batch=$id")
    }
    spark.read.parquet(s"$root/gen1")
      .unionByName(spark.read.parquet(s"$cdc/th").select(col("doc_id"), col("th")))
      .join(broadcast(spark.read.parquet(s"$cdc/tomb").select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
      .repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(s"$root/tokens")
    AnalyticsQueries.maxSimRerankServed(spark, dir,
      spark.read.parquet(s"$root/tokens"))
  }

  /** s34 — the VECTOR lifecycle cycle driven by streams: segment-1
    * embeddings arrive over one drain and each batch pays its OWN
    * encode against the frozen a12 codebooks (s14's landing — FAISS
    * `add` per micro-batch, the only per-batch cost; codebooks are
    * never retrained inside the loop, a12's protocol); merge 1 fires
    * (layout rewrite of 4 B/vector code rows); the CDC drain lands
    * tombstone ids and segment-2 embeddings interleaved (delete rows
    * are ids-only — no embedding ever rides the retraction feed), and
    * the delete-applying merge 2 purges the accumulated set while
    * rewriting. Hash-gated with a16's ORACLE and spec-pinned
    * row-identical to the a39 batch cycle's purged code table. */
  def s34StreamVectorLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val a12 = AnalyticsQueries.a12CorpusIndexStage(spark, dir)
    // frozen codebooks collected ONCE before the drains — each batch's
    // encode broadcasts them job-free (r17 §1.2)
    val cbAll = AnalyticsQueries.localFrozen(spark,
      spark.read.parquet(s"$a12/codebooks"))
    val codesLanded = streamedLandings(spark, dir, "s34a", "codes")(
      Tables.embeddings(spark, dir).filter(col("vec_id") % 4 === 1)
        .select(col("vec_id"), col("embedding"))
        .repartition(4)) { (batch, id, landed) =>
      AnalyticsQueries.pqEncodeAgainst(
        AnalyticsQueries.pqSubcodes(batch), cbAll)
        .write.mode("overwrite").parquet(s"$landed/batch=$id")
    }
    val root = freshRunRoot(spark, dir, "s34m")
    val corpusCodes = spark.read.parquet(s"$a12/codes")
    val codeCols = corpusCodes.columns.map(col).toIndexedSeq
    corpusCodes
      .unionByName(spark.read.parquet(codesLanded).select(codeCols: _*))
      .repartitionByRange(2, col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode("overwrite").parquet(s"$root/gen1")
    val cdc = streamedLandings(spark, dir, "s34b", "cdc")(
      cdcInterleave(
        Tables.embeddings(spark, dir).filter(col("vec_id") % 4 === 3)
          .select(col("vec_id"), col("embedding")),
        Tables.embeddings(spark, dir).filter(pmod(col("vec_id"), lit(7)) === 3)
          .select(col("vec_id")))) { (batch, id, landed) =>
      AnalyticsQueries.pqEncodeAgainst(
        AnalyticsQueries.pqSubcodes(batch.filter(col("kind") === "doc")), cbAll)
        .write.mode("overwrite").parquet(s"$landed/codes/batch=$id")
      batch.filter(col("kind") === "del").select(col("vec_id"))
        .write.mode("overwrite").parquet(s"$landed/tomb/batch=$id")
    }
    spark.read.parquet(s"$root/gen1")
      .unionByName(spark.read.parquet(s"$cdc/codes").select(codeCols: _*))
      .join(broadcast(spark.read.parquet(s"$cdc/tomb").select(col("vec_id"))),
        Seq("vec_id"), "left_anti")
      .repartitionByRange(2, col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode("overwrite").parquet(s"$root/codes")
    val n = spark.read.parquet(s"$a12/meta").head.getAs[Long]("n")
    val qside = AnalyticsQueries.pqSubcodes(
      Tables.embeddings(spark, dir).filter(col("vec_id") < 20))
      .withColumnRenamed("vec_id", "query_id")
    AnalyticsQueries.pqAdcTail(spark, dir, spark.read.parquet(s"$root/codes"),
      AnalyticsQueries.pqLutsFrom(qside, cbAll),
      math.max(AnalyticsQueries.PqL.toLong, n / 20).toInt)
  }

  /** s35 — the IMAGE lifecycle cycle driven by streams: segment-1
    * media payloads arrive over one drain and each batch pays its OWN
    * ImageIO decode + perceptual hash (s24's landing — the only moment
    * pixels are touched, m09's decode-at-ingest economics); merge 1
    * fires (layout rewrite of 24-byte hash rows, ZERO decode); the CDC
    * drain lands tombstoned media ids and segment-2 payloads
    * interleaved, and the delete-applying merge 2 purges while
    * rewriting — so surviving clusters re-elect representatives and
    * recount exactly as the one-shot m12. Hash-gated with m12's ORACLE
    * and spec-pinned row-identical to the m13 batch cycle. */
  def s35StreamImageLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val basePath = s"${AnalyticsQueries.stageM10Generation(spark, dir, "m10ihbase",
      col("media_id") % 2 === 0)}/hashes"
    def payloads(pred: org.apache.spark.sql.Column): DataFrame =
      Tables.documents(spark, dir).filter(pred)
        .select(col("doc_id")).as[Long]
        .repartition(4) // decode distributes over the 4 batch files
        .mapPartitions(_.map(id =>
          (id, graft.operators.Multimodal.synthPng(id, 16, 16))))
        .toDF("media_id", "payload")
    val hashLanded = streamedLandings(spark, dir, "s35a", "hashes")(
      payloads(col("doc_id") % 4 === 1)) { (batch, id, landed) =>
      graft.operators.Multimodal.aHash8(batch).toDF()
        .select(col("media_id"), col("hash_hi"), col("hash_lo"))
        .write.mode("overwrite").parquet(s"$landed/batch=$id")
    }
    val root = freshRunRoot(spark, dir, "s35m")
    spark.read.parquet(basePath)
      .unionByName(spark.read.parquet(hashLanded)
        .select(col("media_id"), col("hash_hi"), col("hash_lo")))
      .repartitionByRange(2, col("media_id"))
      .sortWithinPartitions(col("media_id"))
      .write.mode("overwrite").parquet(s"$root/gen1")
    val cdc = streamedLandings(spark, dir, "s35b", "cdc")(
      cdcInterleave(
        payloads(col("doc_id") % 4 === 3),
        Tables.documents(spark, dir).filter(pmod(col("doc_id"), lit(7)) === 3)
          .select(col("doc_id").as("media_id")))) { (batch, id, landed) =>
      graft.operators.Multimodal.aHash8(
        batch.filter(col("kind") === "doc").select(col("media_id"), col("payload"))).toDF()
        .select(col("media_id"), col("hash_hi"), col("hash_lo"))
        .write.mode("overwrite").parquet(s"$landed/hashes/batch=$id")
      batch.filter(col("kind") === "del").select(col("media_id"))
        .write.mode("overwrite").parquet(s"$landed/tomb/batch=$id")
    }
    spark.read.parquet(s"$root/gen1")
      .unionByName(spark.read.parquet(s"$cdc/hashes")
        .select(col("media_id"), col("hash_hi"), col("hash_lo")))
      .join(broadcast(spark.read.parquet(s"$cdc/tomb").select(col("media_id"))),
        Seq("media_id"), "left_anti")
      .repartitionByRange(2, col("media_id"))
      .sortWithinPartitions(col("media_id"))
      .write.mode("overwrite").parquet(s"$root/hashes")
    AnalyticsQueries.nearDupFromHashes(spark.read.parquet(s"$root/hashes"))
  }

  /** s36 — POLICY-TRIGGERED compaction inside the ingest stream: the
    * compaction DAEMON shape. s32–s35 fire their merges at fixed
    * points between two drains; a production index runs one continuous
    * ingest whose merges fire whenever a MERGE POLICY trips (Lucene's
    * TieredMergePolicy shape — segment count, not calendar position).
    * Here the corpus arrives as one stream of four micro-batches; each
    * batch is tokenized once and lands as its own SEGMENT layout with
    * segment-local stats (per-batch df/idf — Lucene's per-segment
    * semantics, n = the batch's docs); after every landing the policy
    * runs INSIDE the stream (foreachBatch bodies execute on the
    * driver, so the landing job and the compaction daemon are the same
    * job): when ≥ 2 unmerged segments have accumulated, ALL current
    * nodes — the standing compacted generation plus the new
    * segments — re-stat-merge into the next generation (index bytes
    * only, tf recovered exactly). With four batches the policy fires
    * TWICE mid-stream and leaves exactly one node; a defensive
    * post-drain sweep merges any remainder (what a real daemon does at
    * shutdown). Serve is a19's pruned probe over the final generation,
    * hash-gated with a19's ORACLE: a fresh monolithic build, a fixed
    * two-merge cycle, or policy-scheduled merges inside the stream —
    * one answer. KwMergeConfluenceProperties is the algebra that makes
    * the policy a pure COST decision; this key proves the daemon
    * machinery end-to-end. */
  def s36StreamPolicyCompaction(spark: SparkSession, dir: String): DataFrame = {
    val root = freshRunRoot(spark, dir, "s36m")
    // driver-side daemon state: the current node set (path, n). The
    // foreachBatch body mutates it; merge outputs are generation-
    // numbered so a replayed batch rewrites the same paths.
    val nodes = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var unmergedSegs = 0
    var gen = 0
    def fireMerge(sp: SparkSession): Unit = {
      gen += 1
      val out = s"$root/gen$gen"
      val tf = nodes.map(n => AnalyticsQueries.kwRecoverTf(sp, n._1))
        .reduce(_ unionByName _)
      val n = nodes.map(_._2).sum
      AnalyticsQueries.writeKwLayout(sp, out, tf, n)
      nodes.clear()
      nodes += ((out, n))
      unmergedSegs = 0
    }
    streamedLandings(spark, dir, "s36", "segs")(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .repartition(4)) { (batch, id, landed) =>
      val sp = batch.sparkSession
      val tf = batch.select(col("doc_id"),
          explode(graft.functions.TextFunctions.words(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint() // tokenize once: n-count + layout write
      val nSeg = tf.select(col("doc_id")).distinct().count()
      AnalyticsQueries.writeKwLayout(sp, s"$landed/batch=$id", tf, nSeg)
      nodes += ((s"$landed/batch=$id", nSeg))
      unmergedSegs += 1
      // the merge policy, evaluated after every landing
      if (unmergedSegs >= 2) fireMerge(sp)
    }
    if (nodes.size > 1) fireMerge(spark) // post-drain sweep
    val finalGen = nodes.head._1
    spark.range(1).select(lit(gen).as("n_merges"), lit(nodes.head._2).as("n"))
      .write.mode("overwrite").parquet(s"$root/meta")
    AnalyticsQueries.kwPrunedSearch(spark, dir,
      spark.read.parquet(s"$finalGen/terms")
        .select(col("term"), col("term_id"), col("df")),
      spark.read.parquet(s"$finalGen/postings"))
  }

  /** s37 — the CHANGE FEED consumed as a stream: a downstream replica
    * of the versioned table (p23's commit log) kept in sync by
    * applying p29's CDC events batch by batch — the consumer half of
    * the change-feed contract, and the op that makes a 100-TB training
    * corpus MIRROR cost O(changes) per sync instead of O(table). The
    * feed is staged one file per commit (v1/v2 inserts with payload,
    * v3's ids-only delete), admitted one commit per micro-batch; each
    * batch MERGES into a versioned replica state snapshot
    * ([[graft.streaming.UpsertSink]]'s crash discipline: derive
    * `v<B+1>` from the newest COMPLETE snapshot ≤ B, so a replayed
    * batch rewrites its own snapshot idempotently) with CDC
    * resolution: per doc_id keep the event with the HIGHEST COMMIT
    * VERSION — `max(struct(version, …))`, one hash-agg — which makes
    * file-admission ORDER irrelevant (a file source does not promise
    * commit order; a real feed consumer resolves by sequence number,
    * not arrival). The replica seeds from the as-of-0 snapshot
    * (version-0 insert events) and must land EXACTLY as_of(3):
    * inserts applied, deletes absent — the oracle recomputes that
    * membership from the definitions, and TimeTravelSpec pins the
    * same algebra on the batch path (as_of(0) + changes ≡ as_of(3)). */
  def s37StreamCdcReplica(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Paths.get(PipelineQueries.staging("s37", dir))
    val staged = root.resolve("in")
    PipelineQueries.stageOnce("s37in", dir, Seq(staged.toString)) {
      (1 to 3).foreach { v =>
        PipelineQueries.p29ChangesBetween(spark, dir, v - 1, v)
          .coalesce(1).write.mode("overwrite").parquet(s"$staged/v$v")
      }
    }
    val stateDir = root.resolve("state").toString
    val hfs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    hfs.delete(new org.apache.hadoop.fs.Path(stateDir), true) // fresh run
    // seed: the consumer's starting snapshot, as version-0 events
    PipelineQueries.p23SnapshotAsOf(spark, dir, 0)
      .select(lit(0).as("version"), lit("insert").as("kind"),
        col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$stateDir/v0")
    // newest COMPLETE snapshot at or below `upTo` (UpsertSink's
    // resolution rule): listed from the state dir, so the post-drain
    // readback follows however many commits the feed actually carried
    // instead of hardcoding the current log length
    def latestState(upTo: Long): String = {
      val versions = hfs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
        .toSeq.map(_.getPath.getName)
        .filter(_.startsWith("v")).flatMap(_.drop(1).toLongOption)
        .filter(b => b <= upTo &&
          hfs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/v$b/_SUCCESS")))
      require(versions.nonEmpty, s"no complete replica snapshot ≤ v$upTo")
      s"$stateDir/v${versions.max}"
    }
    val inSchema = spark.read.parquet(s"$staged/v1").schema
    val stream = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/v*")
    val q = withStreamShuffle(spark, 4) {
      stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val sp = batch.sparkSession
          // resolution: highest commit version wins; WITHIN a version,
          // a delete beats an insert (the `del` rank precedes `kind` in
          // the struct ordering) so a feed that ever carried both
          // events for one doc_id in the same commit retracts instead
          // of silently resurrecting the row. Today's feed emits one
          // event per (doc, version), so the rank is a safety net, not
          // a semantics change.
          sp.read.parquet(latestState(id)).unionByName(batch)
            .groupBy(col("doc_id"))
            .agg(max(struct(col("version"),
              (col("kind") === "delete").cast("int").as("del"),
              col("kind"), col("lang"), col("n_chars"))).as("e"))
            .select(col("doc_id"), col("e.version").as("version"),
              col("e.kind").as("kind"), col("e.lang").as("lang"),
              col("e.n_chars").as("n_chars"))
            .write.mode("overwrite").parquet(s"$stateDir/v${id + 1}")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.read.parquet(latestState(Long.MaxValue))
      .filter(col("kind") === "insert")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** s38 — the INDEX change feed consumed as a stream: a downstream
    * REPLICA of the keyword index kept in sync by applying the a40
    * log's epoch events ([[AnalyticsQueries.a40IndexChangesBetween]])
    * batch by batch — s37's consumer contract lifted from the doc
    * table to the index, and the op that makes replicating a 100-TB
    * index cost O(changed bytes) per sync instead of O(index). The
    * feed is METADATA (replace events naming complete layouts, delete
    * events naming ids-only tombstone lists — segment shipping, the
    * Lucene/Solr replication model); the consumer pulls exactly the
    * named artifacts into replica-owned storage, version-keyed so a
    * checkpoint-replayed batch re-copies the same paths idempotently.
    * File-admission order is arbitrary (a file source promises no
    * commit order) and leaves no trace: the post-drain serve RESOLVES
    * the replica with the same as-of rule as the source log
    * ([[PipelineQueries.resolveAsOf]] — newest replicated layout ≤
    * head, later tombstones merge-on-read), so replica ≡ as-of head by
    * construction, hash-gated with a40's epoch-3 oracle (a37's
    * fresh-build-over-survivors body). TimeTravelSpec pins the cost
    * claim: the replica's storage holds only artifacts the feed's
    * range named — consuming changes after v0 never copies v0's
    * layout. */
  /** The segment-shipping replica consumer s38/s40 share: stage the
    * feed one file per commit, stream it with arbitrary admission
    * order, copy each event's named artifact into version-keyed
    * replica storage (a checkpoint-replayed batch re-copies the same
    * paths idempotently), then RESOLVE the replica with the source
    * log's own as-of rule and hand (layoutPath, tombstonePaths) to the
    * channel's snapshot serve. `stageFeed(staged)` writes the feed
    * files (runs under stageOnce); `serve` is the channel half. */
  private[queries] def streamedIndexReplica(spark: SparkSession, dir: String,
      tag: String)(stageFeed: String => Unit)(
      serve: (String, Seq[String]) => DataFrame): DataFrame = {
    val root = java.nio.file.Paths.get(PipelineQueries.staging(tag, dir))
    val staged = root.resolve("in")
    PipelineQueries.stageOnce(s"${tag}in", dir, Seq(staged.toString)) {
      stageFeed(staged.toString)
    }
    val state = root.resolve("state").toString
    val hfs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    hfs.delete(new org.apache.hadoop.fs.Path(state), true) // fresh run
    val inSchema = spark.read.parquet(s"$staged/v0").schema
    val stream = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/v*")
    val q = withStreamShuffle(spark, 4) {
      stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val sp = batch.sparkSession
          // ≤1 event per micro-batch (one file per commit): metadata
          batch.collect().foreach { r =>
            val (v, kind, src) = (r.getAs[Int]("version"),
              r.getAs[String]("kind"), r.getAs[String]("path"))
            val dstName = kind match {
              case "replace" => s"layout_v$v"
              case "delete"  => s"tomb_v$v"
              case other => throw new IllegalArgumentException(
                s"$tag replica: unknown feed event kind '$other' at v$v")
            }
            val dst = new org.apache.hadoop.fs.Path(s"$state/$dstName")
            hfs.delete(dst, true) // replay rewrites its own copy
            PipelineQueries.copyDir(sp, src, dst.toString)
          }
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    // resolve the REPLICA with the source log's own as-of rule: the
    // replicated artifacts, listed from replica storage, ARE the log
    val triples = hfs.listStatus(new org.apache.hadoop.fs.Path(state))
      .toSeq.map(_.getPath.getName).collect {
        case n if n.startsWith("layout_v") =>
          (n.stripPrefix("layout_v").toInt, "layout", s"$state/$n")
        case n if n.startsWith("tomb_v") =>
          (n.stripPrefix("tomb_v").toInt, "tombstones", s"$state/$n")
      }
    val head = triples.map(_._1).max
    val (layout, tombs) = PipelineQueries.resolveAsOf(triples, head, state)
    serve(layout, tombs)
  }

  def s38StreamIndexReplica(spark: SparkSession, dir: String): DataFrame = {
    // dependency revalidation OUTSIDE the marker check (a40's rule):
    // the staged feed ships PATHS into the a40 stage, so a surviving
    // s38in marker must not outlive the artifacts those paths name
    // (both build-if-missing — warm cost is marker stats)
    AnalyticsQueries.a40CommitLogStage(spark, dir)
    streamedIndexReplica(spark, dir, "s38") { staged =>
      (0 to 3).foreach { v =>
        AnalyticsQueries.a40IndexChangesBetween(spark, dir, v - 1, v)
          .coalesce(1).write.mode("overwrite").parquet(s"$staged/v$v")
      }
    } { (layout, tombs) =>
      AnalyticsQueries.kwServeSnapshot(spark, dir, layout, tombs)
    }
  }

  /** s40 — s38's replica consumer on the VECTOR channel, proving
    * segment shipping is channel-agnostic the way a41 proved as-of
    * serving and p30 proved reclaim: the SAME feed mapping
    * ([[AnalyticsQueries.a41IndexChangesBetween]] — one shared
    * function of the log triples), the SAME consumer machinery
    * ([[streamedIndexReplica]] — one shared body), only the snapshot
    * serve differs (the ADC + exact-re-rank tail through the frozen
    * a12 codebooks, which are serving state the feed never ships).
    * Resolved at head ≡ the a39 purged table, gated by a16's ORACLE —
    * the replica's admission order, like every other arrival shape on
    * this channel, leaves no trace in what it serves. */
  def s40StreamVectorReplica(spark: SparkSession, dir: String): DataFrame = {
    // dependency revalidation outside the marker check (a40's rule)
    AnalyticsQueries.stageA41VecCommitLog(spark, dir)
    streamedIndexReplica(spark, dir, "s40") { staged =>
      (0 to 3).foreach { v =>
        AnalyticsQueries.a41IndexChangesBetween(spark, dir, v - 1, v)
          .coalesce(1).write.mode("overwrite").parquet(s"$staged/v$v")
      }
    } { (layout, tombs) =>
      AnalyticsQueries.pqServeSnapshot(spark, dir, layout, tombs)
    }
  }

  /** s39 — the POLICY-TRIGGERED compaction daemon on the TOKEN
    * channel: s36's machinery (per-batch segment layouts, a
    * TieredMergePolicy-style trigger evaluated inside foreachBatch,
    * generation-numbered merge outputs so checkpoint replay rewrites
    * the same paths, a post-drain sweep) run where merges are pure
    * LAYOUT rewrites — token-hash rows are per-doc functions, so a
    * merge is a sorted re-write of ~72 B/doc index bytes with no
    * recompute and NO segment-local stats to re-derive (the structural
    * difference from the keyword daemon, which re-stats df/idf at
    * every merge; LayoutMergeConfluence already pins this channel's
    * merge algebra as confluent, this key proves the daemon machinery
    * drives it end-to-end). The corpus arrives as one stream of four
    * micro-batches; the policy fires twice mid-stream; the serve is
    * a29's shortlist re-rank over the final generation, hash-gated
    * with a29's ORACLE — the same hash that pins the monolithic table
    * (a29), the generational layout (a32) and the one-shot compaction
    * (a33); the daemon adds the policy-scheduled arrival shape, and
    * WHEN it merged must be invisible in what it serves. */
  def s39StreamTokenPolicyCompaction(spark: SparkSession, dir: String): DataFrame = {
    val root = freshRunRoot(spark, dir, "s39m")
    // driver-side daemon state: current node set (paths only — token
    // layouts carry no stats), mutated by the foreachBatch body
    val nodes = scala.collection.mutable.ArrayBuffer.empty[String]
    var unmergedSegs = 0
    var gen = 0
    def fireMerge(sp: SparkSession): Unit = {
      gen += 1
      val out = s"$root/gen$gen"
      nodes.map(p => sp.read.parquet(p)).reduce(_ unionByName _)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(out)
      nodes.clear()
      nodes += out
      unmergedSegs = 0
    }
    streamedLandings(spark, dir, "s39", "segs")(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .repartition(4)) { (batch, id, landed) =>
      val sp = batch.sparkSession
      batch.select(col("doc_id"),
          AnalyticsQueries.tokHashes(col("text")).as("th"))
        .write.mode("overwrite").parquet(s"$landed/batch=$id")
      nodes += s"$landed/batch=$id"
      unmergedSegs += 1
      // the merge policy, evaluated after every landing
      if (unmergedSegs >= 2) fireMerge(sp)
    }
    if (nodes.size > 1) fireMerge(spark) // post-drain sweep
    spark.range(1).select(lit(gen).as("n_merges"))
      .write.mode("overwrite").parquet(s"$root/meta")
    AnalyticsQueries.maxSimRerankServed(spark, dir,
      spark.read.parquet(nodes.head))
  }
}
