package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger
import graft.Tables
import graft.streaming.{InMemoryRecordProducer, KinesisSink, Replay, UpsertSink}

/** Streaming INGEST-twin family (s14–s17, s19, s21–s25, s29–s31) —
  * one slice of [[StreamingQueries]]: every query here streams writes
  * INTO a stored artifact (index codes, tombstones, export shards,
  * landed hashes/tokens, monitor counters, MG summaries) through the
  * batch-id-keyed idempotent landing protocol, then gates the
  * post-drain readback against the one-shot batch twin's oracle. The
  * stream-DRIVEN whole-lifecycle keys (s32–s37 and later) live in
  * [[StreamingLifecycleFamily]] (r14 growth split). Mixed back into
  * the single `StreamingQueries` facade; behavior unchanged.
  * CONVENTION: task closures (flatMapGroups/mapPartitions/...)
  * must NOT reference trait-level vals/defs — that captures the
  * whole facade (Task-not-serializable); hoist to a local first.
  * `tools/closurelint.py` fails CI on the next violation; it also
  * bans trait-level `object`s (every reference captures the facade
  * when it serializes, even thunks built inside driver-side
  * foreachBatch bodies — the r12 s05 incident): JVM-shared state
  * goes at file top level. foreachBatch BODIES run on the driver
  * and may call trait helpers — but nothing they build that
  * serializes into tasks may touch trait members. */
private[queries] trait StreamingIngestFamily { this: StreamingQueries.type =>

  /** s14 — STREAMING ANN-index ingest: a12's append-only update run as
    * a micro-batched stream, the shape of a vector store's continuous
    * write path (new embeddings arrive → encode → append to the
    * serving index; FAISS `add` per batch). The increment (odd
    * vec_ids, d13's "today" convention) streams in four micro-batches
    * (maxFilesPerTrigger=1); each batch encodes ITS OWN rows against
    * the frozen corpus-trained codebooks ([[AnalyticsQueries
    * .pqEncodeAgainst]] — M argmin assignments per row, the only
    * per-batch cost) and writes the one-byte codes to a
    * batch-id-keyed directory with overwrite semantics, so a
    * checkpoint replay of a batch after a crash rewrites the same
    * files instead of duplicating codes — idempotence by path, the
    * same exactly-once argument as s12's ledger but cheaper (no read
    * side). The persisted corpus index is never touched. The final
    * search — stored corpus codes ∪ streamed increment codes through
    * the a09 ADC + exact re-rank — is algebraically a12's, so the
    * oracle hash pins that micro-batched ingest ≡ one-shot update:
    * batch boundaries must not leak into the index contents. At
    * 100 TB each batch's work is O(batch)×M with everything joined
    * broadcast; the index grows by appended parquet files, no
    * rewrite, no shuffle of existing codes. */
  def s14StreamAnnIngest(spark: SparkSession, dir: String): DataFrame = {
    val stage = AnalyticsQueries.a12CorpusIndexStage(spark, dir)
    val root = java.nio.file.Paths.get(PipelineQueries.staging("s14", dir))
    val staged = root.resolve("in")
    PipelineQueries.stageOnce("s14in", dir, Seq(staged.toString)) {
      Tables.embeddings(spark, dir).filter(col("vec_id") % 2 === 1)
        .repartition(4) // 4 files → 4 micro-batches under maxFilesPerTrigger=1
        .write.mode("overwrite").parquet(staged.toString)
    }
    // per-run ingest target: mutable across batches, so outside stageOnce
    val ingestDir = root.resolve("codes").toString
    val hfs = new org.apache.hadoop.fs.Path(ingestDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    hfs.delete(new org.apache.hadoop.fs.Path(ingestDir), true) // fresh run
    // frozen codebooks (M×K rows) collected ONCE before the stream —
    // each batch's encode broadcasts them job-free (r17 §1.2)
    val cbAll = AnalyticsQueries.localFrozen(spark,
      spark.read.parquet(s"$stage/codebooks"))
    val inSchema = spark.read.parquet(staged.toString).schema
    val stream = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", "1").parquet(staged.toString)
    val q = withStreamShuffle(spark, 4) {
      stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          AnalyticsQueries.pqEncodeAgainst(AnalyticsQueries.pqSubcodes(batch), cbAll)
            .write.mode("overwrite").parquet(s"$ingestDir/batch=$id")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    val corpusCodes = spark.read.parquet(s"$stage/codes")
    val incCodes = spark.read.parquet(ingestDir)
      .select(corpusCodes.columns.map(col).toIndexedSeq: _*) // drop the batch partition col
    val n = spark.read.parquet(s"$stage/meta").head.getAs[Long]("n")
    val emb = Tables.embeddings(spark, dir)
    val qside = AnalyticsQueries.pqSubcodes(emb.filter(col("vec_id") < 20))
      .withColumnRenamed("vec_id", "query_id")
    AnalyticsQueries.pqAdcTail(spark, dir, corpusCodes.unionByName(incCodes),
      AnalyticsQueries.pqLutsFrom(qside, cbAll),
      math.max(AnalyticsQueries.PqL.toLong, n / 20).toInt)
  }

  /** s15 — streaming DELETES against the stored ANN index (the
    * retraction feed: a GDPR/takedown id stream, the delete half of
    * s14's ingest): tombstone ids arrive over four micro-batches, each
    * appended to the persisted tombstone set as a batch-id-keyed file
    * (idempotent overwrite per batch — checkpoint replay rewrites the
    * same file, so at-least-once delivery yields an exactly-once
    * delete set), and the post-stream search bars the accumulated set
    * from the a15 compacted index via a16's broadcast anti-join. The
    * oracle hash is a16's: however the deletes arrived — one shot or
    * streamed, whatever the batch boundaries — the search must be
    * EXACTLY the same, and no code row is rewritten at delete time.
    * At 100 TB the delete stream is ids-only (8 B/row); each batch's
    * work is one tiny file append, and the standing cost is the
    * broadcast anti-join probe a16 already prices. */
  def s15StreamDeletes(spark: SparkSession, dir: String): DataFrame = {
    val a15 = AnalyticsQueries.a15CompactedStage(spark, dir)
    val root = java.nio.file.Paths.get(PipelineQueries.staging("s15", dir))
    val staged = root.resolve("in")
    PipelineQueries.stageOnce("s15in", dir, Seq(staged.toString)) {
      Tables.embeddings(spark, dir).filter(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id"))
        .repartition(4) // 4 files → 4 micro-batches under maxFilesPerTrigger=1
        .write.mode("overwrite").parquet(staged.toString)
    }
    // per-run tombstone target: mutable across batches, so outside stageOnce
    val tombDir = root.resolve("tombstones").toString
    val hfs = new org.apache.hadoop.fs.Path(tombDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    hfs.delete(new org.apache.hadoop.fs.Path(tombDir), true) // fresh run
    val inSchema = spark.read.parquet(staged.toString).schema
    val stream = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", "1").parquet(staged.toString)
    val q = withStreamShuffle(spark, 4) {
      stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(s"$tombDir/batch=$id")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    val codes = spark.read.parquet(s"$a15/codes")
      .join(broadcast(spark.read.parquet(tombDir).select(col("vec_id"))),
        Seq("vec_id"), "left_anti")
    val cbAll = spark.read.parquet(s"$a15/codebooks")
    val n = spark.read.parquet(s"$a15/meta").head.getAs[Long]("n")
    val qside = AnalyticsQueries.pqSubcodes(
      Tables.embeddings(spark, dir).filter(col("vec_id") < 20))
      .withColumnRenamed("vec_id", "query_id")
    AnalyticsQueries.pqAdcTail(spark, dir, codes,
      AnalyticsQueries.pqLutsFrom(qside, cbAll),
      math.max(AnalyticsQueries.PqL.toLong, n / 20).toInt)
  }

  /** s16 — STREAMING export with an atomic final commit: p20's
    * manifest-last protocol driven by a stream (the export twin of
    * s14's streamed index ingest — together they close the
    * ingest/export symmetry: p15/s14 in, p20/s16 out). Documents
    * arrive in four micro-batches; each batch is sharded with exactly
    * the batch export's salted hash ([[AnalyticsQueries.shardFrameOf]])
    * and lands as a batch-id-keyed file set (idempotent overwrite per
    * batch — checkpoint replay of a batch re-lands the same bytes
    * instead of duplicating them). The manifest is derived from ALL
    * landed batches and written strictly last, AFTER the stream
    * drains: a crash at any earlier point — mid-batch, between
    * batches, before the manifest — leaves no commit record, and the
    * consumer path refuses the torn export. The registered result is
    * the consumer's reconciliation, hash-gated with p20's own oracle:
    * batch boundaries leave no trace in what the consumer accepts. */
  def s16StreamExport(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Paths.get(PipelineQueries.staging("s16", dir))
    val staged = root.resolve("in")
    PipelineQueries.stageOnce("s16in", dir, Seq(staged.toString)) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .repartition(4) // 4 files → 4 micro-batches under maxFilesPerTrigger=1
        .write.mode("overwrite").parquet(staged.toString)
    }
    // per-run export target: mutable across batches, so outside stageOnce
    val export = root.resolve("export").toString
    val hfs = new org.apache.hadoop.fs.Path(export)
      .getFileSystem(spark.sessionState.newHadoopConf())
    hfs.delete(new org.apache.hadoop.fs.Path(export), true) // fresh run
    val inSchema = spark.read.parquet(staged.toString).schema
    val stream = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", "1").parquet(staged.toString)
    val q = withStreamShuffle(spark, 4) {
      stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          AnalyticsQueries.shardFrameOf(batch)
            .write.mode("overwrite").partitionBy("shard")
            .parquet(s"$export/data/batch=$id")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    // the commit record: derived from every landed batch, written last
    AnalyticsQueries.shardStats(spark.read.parquet(s"$export/data"))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("checksum"))
      .coalesce(1).write.mode("overwrite").parquet(s"$export/manifest")
    AnalyticsQueries.p20Validate(spark, export)
  }

  /** s17 — STREAMING keyword-index ingest: s14's protocol on the text
    * index (together with a19/a20 the keyword channel now has the full
    * lifecycle the ANN family got in rounds 6–7: build → pruned search
    * → append-only update → streamed ingest). The increment (odd
    * doc_ids) arrives over four micro-batches; each batch is tokenized
    * ONCE and lands two batch-id-keyed artifacts (idempotent overwrite
    * per batch — checkpoint replay re-lands the same bytes): postings
    * for frozen-dictionary terms encoded at ingest (term_id, doc_id,
    * impact — the amortized path), and raw term-vector rows for
    * out-of-vocabulary terms (doc_id, term, tf — per-segment stats
    * can only be finalized once the segment is complete, so OOV
    * encoding happens at search over the accumulated landings, exactly
    * a20's segment-local math). The post-stream search reads stored
    * corpus postings ∪ landed known postings ∪ OOV-encoded landings
    * and is hash-gated with a20's ORACLE: however the increment
    * arrived — one shot or streamed, whatever the batch boundaries —
    * the merged search is exactly the same. */
  def s17StreamKeywordIngest(spark: SparkSession, dir: String): DataFrame = {
    val stage = AnalyticsQueries.a20CorpusKwIndexStage(spark, dir)
    val terms = spark.read.parquet(s"$stage/terms")
    val meta = spark.read.parquet(s"$stage/meta").head
    val (nCorpus, maxTermId) = (meta.getAs[Long]("n"), meta.getAs[Long]("max_term_id"))
    val dictB = broadcast(terms.select(col("term"), col("term_id"), col("idf")))
    val termsOnly = broadcast(terms.select(col("term")))
    val ingest = streamedLandings(spark, dir, "s17", "landed")(
      Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .repartition(4)) { (batch, id, landed) =>
      val tfB = batch
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.words(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint() // one tokenize per batch, two landings
      tfB.join(dictB, Seq("term"))
        .select(col("term_id"), col("doc_id"),
          (col("tf") * col("idf")).as("impact"))
        .write.mode("overwrite").parquet(s"$landed/known/batch=$id")
      tfB.join(termsOnly, Seq("term"), "left_anti")
        .write.mode("overwrite").parquet(s"$landed/oov/batch=$id")
    }
    val landedKnown = spark.read.parquet(s"$ingest/known")
      .select(col("term_id"), col("doc_id"), col("impact"))
    val landedOov = spark.read.parquet(s"$ingest/oov")
      .select(col("doc_id"), col("term"), col("tf"))
    val oovLocal = AnalyticsQueries.kwOovDict(spark, landedOov, nCorpus, maxTermId)
    val oovPost = landedOov
      .join(broadcast(oovLocal.select(col("term"), col("term_id"), col("idf"))),
        Seq("term"))
      .select(col("term_id"), col("doc_id"), (col("tf") * col("idf")).as("impact"))
    AnalyticsQueries.kwPrunedSearch(spark, dir,
      terms.select(col("term"), col("term_id"), col("df"))
        .unionByName(oovLocal.select(col("term"), col("term_id"), col("df"))),
      spark.read.parquet(s"$stage/postings").unionByName(landedKnown)
        .unionByName(oovPost))
  }

  /** s19 — streamed distribution-drift monitor (the data-quality watch
    * a production ingest runs continuously: "has the language mix of
    * what we're ingesting moved away from the corpus we trained on?").
    * The corpus lang distribution is the FROZEN baseline; the stream
    * carries the same documents tagged into 4 monitoring windows
    * (w = doc_id % 4 — deterministic, so the oracle can reproduce
    * window membership). Each micro-batch lands its per-(window, lang)
    * counts keyed by batch id (idempotent — a replayed batch
    * overwrites its own landing, s12's exactly-once discipline); after
    * the drain, counts SUM across batch landings, so micro-batch
    * boundaries leave no trace in the drift numbers. Per window:
    * per-mille lang distribution (integer DIV — engine-exact), L1
    * distance to baseline, and the alarm bit at 150‰ (≈2× the
    * sampling noise of a 125-doc window over 4 langs, so the alarm
    * discriminates instead of firing on every window). Scale shape:
    * state is (windows × langs) counters — metadata-sized regardless
    * of stream volume; the baseline is computed once and broadcast;
    * nothing per-document survives the micro-batch beyond its counter
    * increments. */
  def s19DriftMonitor(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Paths.get(PipelineQueries.staging("s19", dir))
    val staged = root.resolve("in")
    PipelineQueries.stageOnce("s19in", dir, Seq(staged.toString)) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), pmod(col("doc_id"), lit(4)).as("w"))
        .repartition(4) // 4 files → 4 micro-batches under maxFilesPerTrigger=1
        .write.mode("overwrite").parquet(staged.toString)
    }
    val countsDir = root.resolve("counts").toString
    val hfs = new org.apache.hadoop.fs.Path(countsDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    hfs.delete(new org.apache.hadoop.fs.Path(countsDir), true) // fresh run
    val inSchema = spark.read.parquet(staged.toString).schema
    val stream = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", "1").parquet(staged.toString)
    val q = withStreamShuffle(spark, 4) {
      stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.groupBy(col("w"), col("lang")).agg(count(lit(1)).as("cnt"))
            .write.mode("overwrite").parquet(s"$countsDir/batch=$id")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    val docs = Tables.documents(spark, dir)
    val tot = docs.count()
    val base = docs.groupBy(col("lang")).agg(count(lit(1)).as("cb"))
    val wc = spark.read.parquet(countsDir)
      .groupBy(col("w"), col("lang")).agg(sum(col("cnt")).as("c"))
    val wn = wc.groupBy(col("w")).agg(sum(col("c")).as("nw"))
    wn.crossJoin(base)
      .join(wc, Seq("w", "lang"), "left")
      .withColumn("pmw", expr("(1000 * coalesce(c, CAST(0 AS BIGINT))) DIV nw"))
      .withColumn("pmb", expr(s"(1000 * cb) DIV CAST($tot AS BIGINT)"))
      .groupBy(col("w"))
      .agg(max(col("nw")).as("n_docs"),
        sum(abs(col("pmw") - col("pmb"))).as("l1_drift3"))
      .select(col("w").cast("long").as("w"), col("n_docs"),
        col("l1_drift3"), (col("l1_drift3") > 150).as("drifted"))
      .orderBy(col("w"))
  }

  /** s21 — streamed multimodal feature extraction: the m-family's
    * streaming twin (every other major family already has one — s14
    * ANN, s17 keyword, s18 classifier, s20 serving). Binary media
    * payloads (the m03/m04 deterministic 16×16 PNG fixture) arrive in
    * four micro-batches; each batch runs the REAL ImageIO
    * decode + nearest-neighbor resize kernel inside the stream (a
    * stateless 1:1 mapPartitions — T5's shape with a real codec
    * inside) and lands its thumbnails batch-id-keyed, so a
    * crash-replayed batch overwrites its own landing idempotently. The
    * readback is hash-gated with m03's ORACLE (which recomputes the
    * sampled pixels arithmetically from the synthesis formula):
    * whether the media arrives as one scan or four micro-batches, the
    * decoded pixels are exactly the same — batch boundaries leave no
    * trace in decoded output, and the decoder holds no cross-batch
    * state. Scale shape: per-batch cost is decode-only (narrow, no
    * shuffle inside the batch); this is the backfill-vs-streaming
    * equivalence a multimodal ingest needs before it can trust
    * incremental processing. */
  def s21StreamMultimodal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val thumbs = streamedLandings(spark, dir, "s21", "thumbs")(
      Tables.documents(spark, dir).select(col("doc_id")).as[Long]
        .repartition(4) // decode distributes over the 4 batch files
        .mapPartitions(_.map(id =>
          (id, graft.operators.Multimodal.synthPng(id, 16, 16))))
        .toDF("media_id", "payload")) { (batch, id, landed) =>
      graft.operators.Multimodal.decodeResizeNearest(batch, stride = 4).toDF()
        .write.mode("overwrite").parquet(s"$landed/batch=$id")
    }
    spark.read.parquet(thumbs)
      .select(col("media_id"), col("width"), col("height"),
        col("out_w"), col("out_h"), col("checksum"))
      .orderBy(col("media_id"))
  }

  /** s24 — streamed image-hash INGEST + near-dup serving: m09's
    * build/serve split with the build arriving as a STREAM (the
    * s14/s17 landing protocol on the media channel — ANN, keyword,
    * and now perceptual-hash indexes all ingest the same way). The
    * m03/m04 16×16 PNG fixture arrives in four micro-batches; each
    * batch pays its ImageIO decode ONCE inside the stream (the only
    * time pixels are touched — exactly m09's decode-at-ingest moment)
    * and lands its 24-byte (media_id, hash_hi, hash_lo) rows
    * batch-id-keyed, so a crash-replayed batch overwrites its own
    * landing idempotently. After the drain the landed table IS the
    * m09 hash index: the readback runs the same exact-cluster →
    * banded-Hamming tail ([[AnalyticsQueries.nearDupFromHashes]]) and
    * is hash-gated with m07's ORACLE — one-shot decode, prebuilt
    * index, or four streamed batches must leave no trace in the
    * near-dup output. Per-batch cost is decode-only (narrow, no
    * shuffle inside the batch); the landing is index-scale, not
    * pixel-scale. */
  def s24StreamImageHashIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = streamedLandings(spark, dir, "s24", "hashes")(
      Tables.documents(spark, dir).select(col("doc_id")).as[Long]
        .repartition(4) // decode distributes over the 4 batch files
        .mapPartitions(_.map(id =>
          (id, graft.operators.Multimodal.synthPng(id, 16, 16))))
        .toDF("media_id", "payload")) { (batch, id, landed) =>
      graft.operators.Multimodal.aHash8(batch).toDF()
        .select(col("media_id"), col("hash_hi"), col("hash_lo"))
        .write.mode("overwrite").parquet(s"$landed/batch=$id")
    }
    AnalyticsQueries.nearDupFromHashes(
      spark.read.parquet(hashes)
        .select(col("media_id"), col("hash_hi"), col("hash_lo")))
  }

  /** s25 — streamed token-hash INGEST for the late-interaction index:
    * the s14/s17/s24 landing protocol on the token channel, closing
    * the last index-lifecycle asymmetry (ANN, keyword, image-hash,
    * and now token-hash indexes all build → serve → append → stream).
    * The increment (odd doc_ids) arrives over four micro-batches;
    * each batch is tokenized + polyHashed ONCE — the only moment text
    * is touched, a28's decode-at-ingest economics — and lands its
    * (doc_id, th) rows batch-id-keyed, so a crash-replayed batch
    * overwrites its own landing idempotently (at-least-once replay
    * re-lands the same bytes). Because a token-hash row is a pure
    * per-doc function there are no cross-document statistics to
    * finalize (no OOV segment, no frozen idf): base ∪ landings is
    * EXACTLY the full inline index, so the post-stream MaxSim
    * readback hash-gates against a27's ORACLE — one-shot append (a30)
    * or four streamed batches, the merged search is identical and
    * batch boundaries leave no trace. Per-batch cost is
    * tokenize-only (narrow, no shuffle inside the batch); the landing
    * is index-scale (~72 bytes/doc), not text-scale. */
  def s25StreamTokenHashIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = AnalyticsQueries.a30TokenBaseStage(spark, dir)
    val ingest = streamedLandings(spark, dir, "s25", "landed")(
      Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .repartition(4)) { (batch, id, landed) =>
      batch.select(col("doc_id"),
          AnalyticsQueries.tokHashes(col("text")).as("th"))
        .write.mode("overwrite").parquet(s"$landed/batch=$id")
    }
    val t = spark.read.parquet(s"$base/tokens")
      .unionByName(spark.read.parquet(ingest).select(col("doc_id"), col("th")))
    AnalyticsQueries.maxSimTail(
      t.select(col("doc_id"), col("th").as("dh")),
      t.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("th").as("qh")))
  }

  /** s22 — streamed ingest decontamination guard (d14's streaming
    * twin, pointed the PRODUCTION direction): d09/d14 audit a frozen
    * corpus for eval overlap after the fact; the guard a training
    * ingest actually runs sits ON the stream and flags contaminated
    * TRAIN docs before they reach the corpus. The eval benchmark
    * (doc_id ≡ 0 mod 10) is frozen batch-side into two artifacts — a
    * 2²⁰-bit Bloom over its shingles (the constant-size sketch that
    * rides into every micro-batch as a codegen'd scan predicate) and
    * the exact eval vocabulary (benchmark-sized, so broadcastable at
    * any corpus scale) for the verify join. Train docs arrive over
    * four micro-batches; per batch, per-doc eval-overlap counts run
    * Bloom-first — only the surviving sliver reaches the exact
    * broadcast join, d14's economics paid per micro-batch — and land
    * batch-id-keyed (idempotent overwrite: at-least-once replay
    * re-lands the same verdicts instead of duplicating them). A doc
    * with ≥10% eval-shingle overlap is `quarantined` — what a real
    * pipeline diverts to review instead of training on. The oracle
    * recomputes per-train-doc overlap from the base table in ONE
    * shot: Bloom false positives die in the exact join, and batch
    * boundaries leave no trace in the landed verdicts. */
  def s22StreamDecontamGuard(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{BloomAgg, BloomContains, WordShingleHashes}
    val sets0 = Tables.documents(spark, dir).select(col("doc_id"),
      WordShingleHashes(col("text"), 4).as("hv"))
    val isEval = pmod(col("doc_id"), lit(10)) === 0
    // frozen eval artifacts: constant-size sketch + exact vocabulary
    val filterBytes = sets0.filter(isEval)
      .select(explode(col("hv")).as("h"))
      .agg(BloomAgg(col("h"), numBits = 1 << 20, numHashes = 5).as("f"))
      .head.getAs[Array[Byte]]("f")
    val evalVocab = sets0.filter(isEval)
      .select(explode(col("hv")).as("h")).distinct()
      .localCheckpoint() // frozen once; every micro-batch probes it
    val root = java.nio.file.Paths.get(PipelineQueries.staging("s22", dir))
    val staged = root.resolve("in")
    PipelineQueries.stageOnce("s22in", dir, Seq(staged.toString)) {
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id"), col("text"))
        .repartition(4) // 4 files → 4 micro-batches under maxFilesPerTrigger=1
        .write.mode("overwrite").parquet(staged.toString)
    }
    val landed = root.resolve("verdicts").toString
    val hfs = new org.apache.hadoop.fs.Path(landed)
      .getFileSystem(spark.sessionState.newHadoopConf())
    hfs.delete(new org.apache.hadoop.fs.Path(landed), true) // fresh run
    val inSchema = spark.read.parquet(staged.toString).schema
    val stream = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", "1").parquet(staged.toString)
    val q = withStreamShuffle(spark, 4) {
      stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val sets = batch.select(col("doc_id"),
            WordShingleHashes(col("text"), 4).as("hv"))
            .filter(size(col("hv")) > 0)
          val hits = sets.select(col("doc_id"), explode(col("hv")).as("h"))
            .filter(BloomContains(lit(filterBytes), col("h")))
            .join(broadcast(evalVocab), Seq("h"))
            .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
          sets.select(col("doc_id"), size(col("hv")).cast("long").as("n_shingles"))
            .join(hits, Seq("doc_id"), "left")
            .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
            .write.mode("overwrite").parquet(s"$landed/batch=$id")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.read.parquet(landed)
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_overlap") * 10 >= col("n_shingles")).as("quarantined"))
      .orderBy(col("doc_id"))
  }

  /** s23 — streamed heavy hitters: q41's mergeable-summaries property
    * exercised ACROSS micro-batch boundaries (the property Agarwal et
    * al.'s merge exists for — per-shard/per-day summaries that combine
    * later). Documents arrive over four micro-batches; each batch
    * folds its bigrams into its OWN ≤64-entry Misra–Gries summary and
    * lands it batch-id-keyed (term, residual cnt, batch item count —
    * idempotent overwrite, so checkpoint replay re-lands the same
    * summary). After the stream drains, the landed summaries are
    * re-merged IN BATCH-ID ORDER through the same PODS'12 merge the
    * shuffle path uses, and the merged candidates are exactly
    * recounted over the full corpus — q41's tail. MG's merged
    * guarantee (no true heavy hitter lost, however the stream was
    * batched) makes the final table independent of batch boundaries:
    * it is hash-gated with q41's ORACLE, exact counts included. Per
    * batch the landing is ≤ 64 rows — the constant-size artifact a
    * real per-shard frequency monitor ships.
    *
    * Like q41, the post-drain re-merge is a deliberate bounded driver
    * hop: the `collect()` below reads the LANDED SUMMARIES (≤ 64 rows
    * × batches — metadata, not corpus data) so the batch-ordered
    * PODS'12 merge can run locally and feed job 2 an IN-list; the
    * exact recount then scans the corpus distributed, same as q41. */
  def s23StreamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.MGSummary
    val root = java.nio.file.Paths.get(PipelineQueries.staging("s23", dir))
    val staged = root.resolve("in")
    PipelineQueries.stageOnce("s23in", dir, Seq(staged.toString)) {
      Tables.documents(spark, dir).filter(length(col("text")) >= 2)
        .select(col("doc_id"), col("text"))
        .repartition(4) // 4 files → 4 micro-batches under maxFilesPerTrigger=1
        .write.mode("overwrite").parquet(staged.toString)
    }
    val landed = root.resolve("summaries").toString
    val counts = root.resolve("counts").toString
    val hfs = new org.apache.hadoop.fs.Path(landed)
      .getFileSystem(spark.sessionState.newHadoopConf())
    hfs.delete(new org.apache.hadoop.fs.Path(landed), true) // fresh run
    hfs.delete(new org.apache.hadoop.fs.Path(counts), true)
    val inSchema = spark.read.parquet(staged.toString).schema
    val stream = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", "1").parquet(staged.toString)
    val q = withStreamShuffle(spark, 4) {
      stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          import batch.sparkSession.implicits._
          // the batch's MG pass fused into one update per doc (r17 §4,
          // q41's scan-1 form); n = Σ (numChars − 1) ≡ the old
          // count(1) over the exploded bigrams
          val row = batch
            .agg(graft.expressions.MisraGriesBigrams(col("text"), 64).as("cand"),
              coalesce(sum(length(col("text")).cast("long") - 1), lit(0L)).as("n"))
            .head
          row.getSeq[org.apache.spark.sql.Row](0)
            .map(e => (e.getString(0), e.getLong(1), row.getLong(1)))
            .toDF("term", "cnt", "n_batch")
            .coalesce(1).write.mode("overwrite").parquet(s"$landed/batch=$id")
          // the batch item count lands as its OWN single-row artifact:
          // a batch whose MG summary drains to empty still contributes
          // its n to the heavy-hitter threshold (an empty summaries
          // landing would silently drop it)
          Seq(row.getLong(1)).toDF("n_batch")
            .coalesce(1).write.mode("overwrite").parquet(s"$counts/batch=$id")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    // re-merge the landed summaries in batch-id order through the same
    // PODS'12 merge the shuffle path uses; total n = Σ per-batch counts
    val lan = spark.read.parquet(landed)
      .select(col("batch").cast("long").as("batch"), col("term"),
        col("cnt"), col("n_batch"))
      .collect()
    val merged = new MGSummary(64)
    lan.map(_.getLong(0)).distinct.sorted.foreach { b =>
      val s = new MGSummary(64)
      lan.filter(_.getLong(0) == b).foreach(r =>
        s.counts.put(r.getString(1), r.getLong(2)))
      merged.mergeFrom(s)
    }
    // total n from the per-batch count artifacts, NOT the summary
    // rows — independent of summary occupancy
    val n = spark.read.parquet(counts)
      .agg(sum(col("n_batch"))).head.getLong(0)
    val cands = merged.sortedEntries.map(_._1).toSeq
    // q41's exact-recount tail over the full corpus, fused into one
    // aggregate pass (r17 §4 — see q41HeavyHitters' scan 2)
    Tables.documents(spark, dir).filter(length(col("text")) >= 2)
      .agg(graft.expressions.BigramCandidateCounts(col("text"), cands)
        .as("counts"))
      .select(explode(col("counts")).as("e"))
      .select(col("e.term").as("bigram"), col("e.cnt").as("freq"))
      .filter(col("freq") * 64 > n)
      .withColumn("n_total", lit(n))
      .orderBy(col("freq").desc, col("bigram"))
  }

  /** s29 — streamed DELETES against the generational token index:
    * s15's retraction feed (GDPR/takedown id stream) replayed on the
    * late-interaction channel, completing streamed-delete symmetry for
    * the channels that delete per doc (vector s15, token s29, image
    * s30; the keyword channel's a36 anti-join would compose the same
    * way — the landing protocol is identical). Tombstone ids arrive
    * over four micro-batches, each landed batch-id-keyed (idempotent
    * overwrite — checkpoint replay re-lands the same file, so
    * at-least-once delivery yields an exactly-once delete set), and
    * the post-stream serve bars the ACCUMULATED set from base ∪
    * segment via a34's broadcast anti-join — deletion total, neither
    * candidate nor query. Hash-gated with a34's ORACLE: one-shot or
    * streamed, whatever the batch boundaries, the served re-rank is
    * EXACTLY the same; no stored token row is rewritten at delete
    * time. Per-batch work is one ids-only file append; the standing
    * serve cost is a34's broadcast anti probe. */
  def s29StreamTokenDeletes(spark: SparkSession, dir: String): DataFrame = {
    val base = AnalyticsQueries.a30TokenBaseStage(spark, dir)
    val seg = AnalyticsQueries.stageA32IncrementSegment(spark, dir)
    val landed = streamedLandings(spark, dir, "s29", "tombstones")(
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(7)) === 3)
        .select(col("doc_id"))
        .repartition(4)) { (batch, id, landedRoot) =>
      batch.write.mode("overwrite").parquet(s"$landedRoot/batch=$id")
    }
    val t = spark.read.parquet(s"$base/tokens")
      .unionByName(spark.read.parquet(s"$seg/tokens"))
      .join(broadcast(spark.read.parquet(landed).select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
    AnalyticsQueries.maxSimRerankServed(spark, dir, t)
  }

  /** s30 — streamed DELETES against the generational image-hash
    * index: the same retraction feed pointed at the media channel.
    * Tombstoned media ids land over four micro-batches; the
    * post-stream near-dup serve anti-joins the accumulated set onto
    * base ∪ segment BEFORE the cluster aggregate, so surviving
    * clusters re-elect representatives and recount members exactly as
    * m12's one-shot deletes do — m12's ORACLE gates it (batch
    * boundaries leave no trace), and no stored hash row is rewritten.
    * Zero decode anywhere: the stream carries 8-byte ids, the serve
    * reads 24-byte hash rows. */
  def s30StreamImageDeletes(spark: SparkSession, dir: String): DataFrame = {
    val basePath = s"${AnalyticsQueries.stageM10Generation(spark, dir, "m10ihbase",
      col("media_id") % 2 === 0)}/hashes"
    val segPath = s"${AnalyticsQueries.stageM10Generation(spark, dir, "m10ihseg",
      col("media_id") % 2 === 1)}/hashes"
    val landed = streamedLandings(spark, dir, "s30", "tombstones")(
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(7)) === 3)
        .select(col("doc_id").as("media_id"))
        .repartition(4)) { (batch, id, landedRoot) =>
      batch.write.mode("overwrite").parquet(s"$landedRoot/batch=$id")
    }
    AnalyticsQueries.nearDupFromHashes(
      spark.read.parquet(basePath).unionByName(spark.read.parquet(segPath))
        .join(broadcast(spark.read.parquet(landed).select(col("media_id"))),
          Seq("media_id"), "left_anti"))
  }

  /** s31 — streamed DELETES against the compacted KEYWORD index: the
    * retraction feed pointed at the last channel whose deletes had no
    * streamed twin (vector s15, token s29, image s30 — keyword closes
    * the matrix; s29's scaladoc argued the landing protocol "would
    * compose the same way", and this query makes that claim a gated
    * fact instead of prose). Tombstone ids arrive over four
    * micro-batches, each landed batch-id-keyed (idempotent overwrite ⇒
    * an exactly-once delete set under at-least-once delivery); the
    * post-stream serve consults the ACCUMULATED set as a36 does — a
    * broadcast anti-join on the stored postings scan with the
    * kept-term IN-list still pushed beneath it, stats FROZEN (df/idf
    * keep counting tombstoned docs until the next re-statting merge —
    * Lucene live-docs semantics), queries external text so a
    * tombstoned doc can still ask. Hash-gated with a36's ORACLE: one
    * shot or streamed, whatever the batch boundaries, the served
    * search is EXACTLY the same; no stored posting is rewritten at
    * delete time. */
  def s31StreamKeywordDeletes(spark: SparkSession, dir: String): DataFrame = {
    val a35 = AnalyticsQueries.a35CompactedKwStage(spark, dir)
    val landed = streamedLandings(spark, dir, "s31", "tombstones")(
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(7)) === 3)
        .select(col("doc_id"))
        .repartition(4)) { (batch, id, landedRoot) =>
      batch.write.mode("overwrite").parquet(s"$landedRoot/batch=$id")
    }
    val postings = spark.read.parquet(s"$a35/postings")
      .join(broadcast(spark.read.parquet(landed).select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
    AnalyticsQueries.kwPrunedSearch(spark, dir,
      spark.read.parquet(s"$a35/terms")
        .select(col("term"), col("term_id"), col("df")),
      postings)
  }

}
