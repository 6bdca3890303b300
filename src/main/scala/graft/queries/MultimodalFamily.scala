package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{TextFunctions => TF, Vectors}
import graft.operators.{Dedup, Multimodal}

/** Extended analytics surface (SURVEY §7.6 / driver mandate): dedup,
  * similarity search, text analysis, multimodal plumbing — each with an
  * exact DuckDB twin built from the [[Sql]] snippet builders below so
  * the driver's hash gate checks real semantics, not just row counts. */

/** Multimodal family (m01-m10 + image-hash index) — one slice of [[AnalyticsQueries]], split along
  * COVERAGE.md's family boundaries (r10 verdict ask). Mixed back
  * into the single `AnalyticsQueries` facade; behavior unchanged.
  * Members that cross family lines are `private[queries]`.
  * CONVENTION: task closures (flatMapGroups/mapPartitions/...)
  * must NOT reference trait-level vals/defs — that captures the
  * whole facade (Task-not-serializable); hoist to a local first.
  * `tools/closurelint.py` fails CI on the next violation; it also
  * bans trait-level `object`s (every reference captures the facade
  * when it serializes, even thunks built inside driver-side
  * foreachBatch bodies — the r12 s05 incident): JVM-shared state
  * goes at file top level. */
private[queries] trait MultimodalFamily { this: AnalyticsQueries.type =>

  import Sql._

  /** m01 — binary payload plumbing + batched feature extraction over a
    * MIXED-KIND corpus: every document contributes a text payload AND a
    * PNG payload (deterministic 8×8 synthesis, the m03/m04 trick), and
    * one batched mapPartitions stage dispatches on `meta.kind` — the
    * `image/png` rows run the REAL ImageIO decoder (width/height +
    * pixel checksum the oracle recomputes arithmetically from the
    * synthesis formula), the text rows the code-point path, which is
    * also the documented boundary for containers the JDK cannot decode
    * (`Multimodal.FeatureExtractor`). Narrow 1:1 stage, no shuffle. */
  /** Stage a deterministic synthetic media fixture `(media_id,
    * payload)` once per (tag, dir, format version) and read it back.
    * The payloads are pure functions of the doc ids — INPUT fixtures,
    * exactly like the streaming sources' staged parquet — so the timed
    * query body is the DECODE kernel, not re-synthesizing (and
    * re-encoding) its own input on every call. */
  private[queries] def stagedMediaFixture(spark: SparkSession, dir: String, tag: String)(
      synth: Long => Array[Byte]): DataFrame = {
    import spark.implicits._
    val stage = PipelineQueries.staging(tag, dir)
    PipelineQueries.stageOnce(tag, dir, Seq(stage)) {
      Tables.documents(spark, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, synth(id))))
        .toDF("media_id", "payload")
        .write.mode("overwrite").parquet(stage)
    }
    spark.read.parquet(stage)
  }

  def m01Multimodal(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val textSide = Multimodal.asPayload(docs, col("doc_id"), col("text"), lit("text"))
    val pngSide = stagedMediaFixture(spark, dir, "m01png")(
        id => Multimodal.synthPng(id, 8, 8))
      .select(col("media_id"), col("payload"),
        struct(lit("image/png").as("kind"),
          length(col("payload")).as("declared_len")).as("meta"))
    Multimodal.extractFeatures(textSide.unionByName(pngSide)).toDF()
      .select(col("media_id"), col("kind"), col("byte_len"), col("feat"), col("checksum"))
      .orderBy(col("media_id"), col("kind"))
  }

  /** m02 — frame sampling: 1 payload → ≤5 stride-2 sampled frames of
    * 64 code points each, per-frame checksum. Output is linear in
    * media count, not media length. */
  def m02FrameSample(spark: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.asPayload(Tables.documents(spark, dir),
      col("doc_id"), col("text"), lit("video"))
    Multimodal.sampleFrames(payloads, frameCp = 64, stride = 2, maxFrames = 5).toDF()
      .select(col("media_id").as("doc_id"), col("n_frames"),
        col("frame_idx"), col("checksum"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** m03 — REAL image resize on the m04 ImageIO kernel (the last
    * labeled image stub retired): each document id becomes a
    * deterministic 16×16 RGB PNG, decoded with the real codec and
    * nearest-neighbor sampled at stride 4 (keep pixel (4x, 4y)) into a
    * 4×4 thumbnail, checksummed per pixel channel. The DuckDB oracle
    * recomputes the sampled pixels arithmetically from the synthesis
    * formula — a match proves decode + integer pixel addressing, with
    * a different kernel than m04's box mean. Narrow 1:1 mapPartitions,
    * no shuffle, linear in media count. */
  def m03Resize(spark: SparkSession, dir: String): DataFrame = {
    // m03 and m04 decode the SAME 16x16 PNG fixture — one shared stage
    val payloads = stagedMediaFixture(spark, dir, "mpng16")(
      id => Multimodal.synthPng(id, 16, 16))
    Multimodal.decodeResizeNearest(payloads, stride = 4).toDF()
      .select(col("media_id"), col("width"), col("height"),
        col("out_w"), col("out_h"), col("checksum"))
      .orderBy(col("media_id"))
  }

  /** m04 — REAL image decode via the JDK's `ImageIO` codec (the
    * round-3 labeled stub made first-class, no new dependency): each
    * document id becomes a deterministic 16×16 RGB PNG (encoded
    * executor-side with the real PNG writer), which is then decoded
    * back with `ImageIO.read` and 2:1 box-filter downsampled — an
    * integer mean over each 2×2 pixel block per channel — and the 8×8
    * output pixels are checksummed. PNG is lossless for 8-bit RGB, so
    * the DuckDB oracle (which has no image codec) recomputes the
    * expected downsampled pixels arithmetically: a matching checksum
    * proves the full encode→decode→resample pixel path bit-exactly.
    * Both stages are narrow 1:1 mapPartitions — decode cost only, no
    * shuffle, linear in media count. */
  def m04ImageDecode(spark: SparkSession, dir: String): DataFrame = {
    val payloads = stagedMediaFixture(spark, dir, "mpng16")(
      id => Multimodal.synthPng(id, 16, 16))
    Multimodal.decodeDownsample2x(payloads).toDF()
      .select(col("media_id"), col("width"), col("height"),
        col("out_w"), col("out_h"), col("checksum"))
      .orderBy(col("media_id"))
  }

  /** m05 — audio frame energy + silence detection over REAL PCM bytes:
    * each document id becomes a deterministic 800-sample raw PCM clip
    * (little-endian int16 — the post-codec wire format, synthesized
    * executor-side), which is then parsed back with genuine
    * two's-complement byte math, windowed into five 160-sample frames,
    * and scored with the exact integer energy `Σ v²` per frame — the
    * VAD front end of an audio pipeline, with every third frame muted
    * so silence detection has real positives. The DuckDB oracle (no
    * audio stack) recomputes the energies arithmetically from the
    * synthesis formula: a match proves the byte-level decode path
    * end to end, m04's codec-proof trick applied to audio. Narrow
    * 1→5 flatMap, no shuffle, linear in clip count. */
  def m05AudioEnergy(spark: SparkSession, dir: String): DataFrame = {
    val payloads = stagedMediaFixture(spark, dir, "mpcm")(
      id => Multimodal.synthPcm(id, 800, 160))
    Multimodal.frameEnergy(payloads, frame = 160).toDF()
      .select(col("media_id"), col("frame_idx"), col("energy"), col("is_silence"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** m08 — audio resampling: 2:1 stride decimation of the m05 PCM
    * fixture through [[Multimodal.decimatePcm]] — the audio twin of
    * m03's nearest-neighbor image resize, completing the decode/
    * resample symmetry across modalities. The DuckDB oracle (which has
    * no audio path at all) recomputes the kept samples arithmetically
    * from the synthesis law (v_i = ((id·31+i·7) mod 4096) − 2048,
    * every third 160-sample window muted), so a matching
    * energy + position-weighted checksum proves the byte-level int16
    * parse, the stride selection AND the sample order end to end.
    * Narrow 1:1 mapPartitions over the staged fixture; no shuffle. */
  def m08AudioResample(spark: SparkSession, dir: String): DataFrame = {
    val payloads = stagedMediaFixture(spark, dir, "mpcm")(
      id => Multimodal.synthPcm(id, 800, 160))
    Multimodal.decimatePcm(payloads, factor = 2).toDF()
      .select(col("media_id"), col("n_in"), col("n_out"),
        col("energy"), col("checksum"))
      .orderBy(col("media_id"))
  }

  /** m06 — video keyframe detection over REAL raw frames: each
    * document id becomes a deterministic 8-frame × 64-byte clip
    * (synthesized executor-side; every 4th frame starts a new scene),
    * then genuine byte-level frame differencing scores each frame by
    * the exact integer sum of absolute differences vs its predecessor
    * and flags scene cuts — m05's codec-proof trick applied to video.
    * The DuckDB oracle recomputes every diff arithmetically from the
    * synthesis formulas. Narrow 1→7 flatMap, no shuffle. */
  def m06KeyFrames(spark: SparkSession, dir: String): DataFrame = {
    val payloads = stagedMediaFixture(spark, dir, "mvid")(
      id => Multimodal.synthVideo(id, 8, 64))
    Multimodal.frameDiff(payloads, frameBytes = 64, threshold = 3000L).toDF()
      .select(col("media_id"), col("frame_idx"), col("diff"), col("is_keyframe"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** m07 — perceptual-hash image NEAR-dedup: the image-side twin of
    * d04/d06's SimHash text dedup, run over REAL decoded pixels. Each
    * payload is ImageIO-decoded and aHashed ([[Multimodal.aHash8]]:
    * gray → 8×8 box means → mean-threshold bits, carried as two
    * unsigned 32-bit halves). Stage 1 is EXACT perceptual dedup: group
    * by the full hash, keep the lowest media_id per cluster — byte-
    * different re-encodes of the same picture collapse here without
    * any pair comparison. Stage 2 is banded NEAR-dup over the DISTINCT
    * hashes only: 4×16-bit bands (div/mod — no shift-semantics
    * ambiguity), candidates share ≥1 exact band, verified at Hamming
    * ≤ 6 via xor+popcount. Banding the representatives, not the
    * corpus, is what scales: bucket sizes track distinct content, so
    * a billion copies of one meme cost one cluster row, and the
    * pair-verify term is quadratic only in per-band DISTINCT-hash
    * collisions. Output: near-dup cluster pairs (representative ids,
    * member counts, distance). The oracle recomputes hash, clusters,
    * banding, and popcount arithmetically from the synthesis formula —
    * the whole pipeline hash-gates, decode included. */
  def m07ImageNearDup(spark: SparkSession, dir: String): DataFrame = {
    val payloads = stagedMediaFixture(spark, dir, "mpng16")(
      id => Multimodal.synthPng(id, 16, 16))
    nearDupFromHashes(Multimodal.aHash8(payloads).toDF()
      .select(col("media_id"), col("hash_hi"), col("hash_lo")))
  }

  /** The banded-cluster frame the near-dup self-join runs over: exact
    * clusters (one row per DISTINCT hash, lowest member id kept, all
    * copies counted) exploded into 4×16-bit bands with the band's key
    * value. Split out so the skew audit (AnalyticsSpec) can measure
    * per-(band, key) bucket sizes on the REAL join input: the
    * self-join hash-partitions on
    * (band, key), and the cluster pre-aggregation is what bounds a
    * hot bucket — a billion exact copies of one meme are ONE row per
    * band here, so bucket sizes track per-band DISTINCT-hash
    * collisions, never corpus multiplicity. */
  private[graft] def bandedClusters(hashes: DataFrame): DataFrame =
    hashes
      .groupBy(col("hash_hi"), col("hash_lo"))
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_members"))
      .select(col("hash_hi"), col("hash_lo"), col("keep_id"), col("n_members"),
        explode(expr("array(0, 1, 2, 3)")).as("band"))
      .withColumn("key", expr(
        """CASE WHEN band = 0 THEN hash_hi DIV 65536
          |     WHEN band = 1 THEN hash_hi % 65536
          |     WHEN band = 2 THEN hash_lo DIV 65536
          |     ELSE hash_lo % 65536 END""".stripMargin))

  /** The exact-cluster → banded-Hamming near-dup tail over a bare
    * (media_id, hash_hi, hash_lo) hash table — m07 feeds it from an
    * inline decode, m09 from the PERSISTED hash index, s24 from
    * streamed hash landings. Identical arithmetic in all three, so
    * one oracle pins them all. */
  private[graft] def nearDupFromHashes(hashes: DataFrame): DataFrame = {
    val banded = bandedClusters(hashes)
    val a = banded.toDF("hi_a", "lo_a", "keep_i", "n_i", "band", "key")
    val b = banded.toDF("hi_b", "lo_b", "keep_j", "n_j", "band", "key")
    a.join(b, Seq("band", "key"))
      .filter(col("keep_i") < col("keep_j"))
      .select(col("keep_i"), col("keep_j"), col("hi_a"), col("lo_a"),
        col("hi_b"), col("lo_b"), col("n_i"), col("n_j"))
      .distinct() // a pair may collide in several bands
      .withColumn("hamming", expr(
        "CAST(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) AS INT)"))
      .filter(col("hamming") <= 6)
      .select(col("keep_i"), col("keep_j"), col("n_i"), col("n_j"), col("hamming"))
      .orderBy(col("keep_i"), col("keep_j"))
  }

  /** The m09 image-hash index BUILD stage — the multimodal channel's
    * build/search split (a19's economics replayed on pixels): m07
    * re-decodes the whole corpus on every near-dup call — and decode
    * IS the cost (×100 corpus, PERF.md: ~36 s of 45 s is ImageIO,
    * against a flat sub-second distinct-hash join) — while m09 decodes
    * ONCE at ingest (the S5 whole-object download moment, when the
    * bytes are in hand anyway) and persists the perceptual hashes:
    *
    *  - `hashes` (media_id, hash_hi, hash_lo): 24 bytes/image — at
    *    100 TB of media this index is ~0.0001× corpus bytes, so every
    *    subsequent near-dup pass reads gigabytes instead of the
    *    petabyte of pixels;
    *  - `meta` (n): written last as the completeness marker
    *    (crash-path contract failure-injection-tested in
    *    StagingProtocolSpec).
    *
    * Keyed by a content fingerprint of documents.parquet (the media
    * fixture is a pure function of the doc ids), so an in-place-
    * regenerated corpus invalidates the stage. */
  def imageHashStage(spark: SparkSession, dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
    val stage = PipelineQueries.staging("m09ih", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val payloads = stagedMediaFixture(spark, dir, "mpng16")(
        id => Multimodal.synthPng(id, 16, 16))
      Multimodal.aHash8(payloads).toDF()
        .select(col("media_id"), col("hash_hi"), col("hash_lo"))
        .write.mode("overwrite").parquet(s"$stage/hashes")
      payloads.agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** m09 — image NEAR-dedup served from the PERSISTED perceptual-hash
    * index: m07's semantics with ZERO decode in the search plan
    * (PlanAuditSpec pins no mapPartitions/object boundary — the plan
    * is a bare parquet scan of the stored 24-byte hash rows into the
    * shared [[nearDupFromHashes]] tail). Hash-gated with m07's ORACLE:
    * serving from the index must be indistinguishable from re-decoding
    * the corpus. Scale: search cost tracks DISTINCT content (the
    * cluster aggregate) over index bytes — corpus pixels are never
    * touched after ingest, which is the whole economics of a
    * dedup-at-ingest media pipeline. */
  def m09ImageNearDupPrebuilt(spark: SparkSession, dir: String): DataFrame = {
    val stage = imageHashStage(spark, dir)
    nearDupFromHashes(spark.read.parquet(s"$stage/hashes"))
  }

  /** One GENERATION of the m10 image-hash layout: decode + hash only
    * the media ids matching `memberPred` (each generation pays its own
    * ingest decode exactly once — m09's decode-at-ingest economics per
    * segment), persisted under its own parquet root. Keyed by the
    * corpus content fingerprint like every other stage. */
  private[queries] def stageM10Generation(spark: SparkSession, dir: String,
      tag: String, memberPred: Column, force: Boolean = false): String =
    synchronized {
      val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
      val stage = PipelineQueries.staging(tag, s"$dir#$fp")
      val fs = new org.apache.hadoop.fs.Path(stage)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // `meta` is written LAST as the completeness marker (the sibling
      // stages' protocol): a crash mid-write leaves a partial hashes
      // dir but no meta, so the next call rebuilds instead of serving
      // a truncated generation. Both halves of this contract (rebuild
      // on missing meta; short-circuit on present meta) are failure-
      // injection-tested in StagingProtocolSpec, which drives THIS
      // stage as the family representative.
      if (force || !fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
        val payloads = stagedMediaFixture(spark, dir, "mpng16")(
          id => Multimodal.synthPng(id, 16, 16))
        val gen = payloads.filter(memberPred)
        Multimodal.aHash8(gen).toDF()
          .select(col("media_id"), col("hash_hi"), col("hash_lo"))
          .write.mode("overwrite").parquet(s"$stage/hashes")
        gen.agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$stage/meta")
      }
      stage
    }

  /** m10 — image near-dedup served from the GENERATIONAL hash layout:
    * a32's treatment on m09's index. The base generation (even media
    * ids) is frozen; the increment segment (odd ids) lands beside it
    * as its own parquet root — an append never rewrites the base
    * (separate roots, PlanAuditSpec pins both scans and no decode in
    * the serve plan) — and near-dup serves from base ∪ segment. A perceptual hash is a pure
    * per-media function (no cross-media statistics), so the
    * generational layout is EXACTLY the monolithic index: hash-gated
    * with m07's ORACLE — one-shot decode (m07), prebuilt monolith
    * (m09), streamed landings (s24), or generational layout (m10),
    * one answer. Unlike a32 there is no query IN-list to push here:
    * near-dup is an INDEX-level self-join (every hash row
    * participates), so the scale discipline is the cluster
    * pre-aggregation bounding the banded join — not a pushed probe —
    * and it applies to each generation's scan alike. */
  def m10ImageNearDupAppended(spark: SparkSession, dir: String): DataFrame = {
    val base = stageM10Generation(spark, dir, "m10ihbase", col("media_id") % 2 === 0)
    val seg = stageM10Generation(spark, dir, "m10ihseg", col("media_id") % 2 === 1)
    nearDupFromHashes(
      spark.read.parquet(s"$base/hashes")
        .unionByName(spark.read.parquet(s"$seg/hashes")))
  }

  /** The m11 compaction stage for the GENERATIONAL image-hash layout:
    * a15's segment-merge economics on the image channel. m10's frozen
    * even-id base and odd-id landed segment are re-merged into ONE
    * media_id-range-partitioned, sorted hash table — content-identical
    * to the m09 monolith (AnalyticsSpec pins it row for row:
    * compaction of a generational index ≡ a fresh full build). ZERO
    * decode: compaction reads only stored 24-byte hash rows (a
    * perceptual hash is a pure per-media function — nothing to
    * recompute), costs one linear rewrite of index bytes (~10⁻⁴× the
    * corpus at 100 TB), and buys every subsequent near-dup serve
    * fewer files and one scan instead of a union. File counts
    * before/after in meta (written LAST — StagingProtocolSpec). */
  def m11CompactedStage(spark: SparkSession, dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
    val stage = PipelineQueries.staging("m11ih", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val basePath = s"${stageM10Generation(spark, dir, "m10ihbase",
        col("media_id") % 2 === 0)}/hashes"
      val segPath = s"${stageM10Generation(spark, dir, "m10ihseg",
        col("media_id") % 2 === 1)}/hashes"
      def dataFiles(p: String): Long = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
        var n = 0L
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }
      val before = dataFiles(basePath) + dataFiles(segPath)
      // a compactor sizes its output by target file count, not a
      // constant: halve the file population (≥ 1), so the merge always
      // shrinks whatever generation-landing pattern produced the input
      // (one file per streamed micro-batch in the s24 shape, one per
      // generation here)
      spark.read.parquet(basePath).unionByName(spark.read.parquet(segPath))
        .repartitionByRange(math.max(1, (before / 2).toInt), col("media_id"))
        .sortWithinPartitions(col("media_id"))
        .write.mode("overwrite").parquet(s"$stage/hashes")
      spark.read.parquet(s"$stage/hashes").agg(count(lit(1)).as("n"))
        .withColumn("files_before", lit(before))
        .withColumn("files_after", lit(dataFiles(s"$stage/hashes")))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** m11 — image near-dedup served from the COMPACTED hash index:
    * the lifecycle step after generational appends (m10), completing
    * the image channel's a15 treatment. The base ∪ segment union is
    * re-merged into one sorted table and the serve reads ONLY it — no
    * union of generation scans, no decode (PlanAuditSpec pins one
    * stored layout, zero object boundaries). Hash-gated with m07's
    * ORACLE: inline decode, monolith, generations, or compacted —
    * one answer; compaction is a pure layout change. */
  def m11CompactedNearDup(spark: SparkSession, dir: String): DataFrame =
    nearDupFromHashes(
      spark.read.parquet(s"${m11CompactedStage(spark, dir)}/hashes"))

  /** The m12 delete stage for the image channel: a16's tombstone
    * treatment on the generational image-hash layout. Retracted media
    * ids (media_id ≡ 3 mod 7 — ids in BOTH generations: even in the
    * base, odd in the segment) persisted beside the index, plus the
    * PURGED hash table the next delete-applying compaction produces.
    * Meta written last; live/deleted counts recorded. */
  def m12DeleteStage(spark: SparkSession, dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
    val stage = PipelineQueries.staging("m12del", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(7)) === 3)
        .select(col("doc_id").as("media_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/tombstones")
      val tombs = spark.read.parquet(s"$stage/tombstones")
      spark.read.parquet(s"${m11CompactedStage(spark, dir)}/hashes")
        .join(tombs, Seq("media_id"), "left_anti")
        .repartitionByRange(2, col("media_id"))
        .sortWithinPartitions(col("media_id"))
        .write.mode("overwrite").parquet(s"$stage/purged")
      Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
        .crossJoin(tombs.agg(count(lit(1)).as("n_tomb")))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** Test hook: near-dup over the PURGED hash table (the
    * post-compaction hard-delete form — no anti-join in the plan).
    * The spec pins it row-identical to [[m12TombstoneNearDup]]. */
  def m12PurgedNearDup(spark: SparkSession, dir: String): DataFrame =
    nearDupFromHashes(
      spark.read.parquet(s"${m12DeleteStage(spark, dir)}/purged"))

  /** m12 — tombstone DELETES on the generational image-hash index,
    * completing the image channel's lifecycle (build m09 → append m10
    * → stream-ingest s24 → compact m11 → delete m12): the tombstone id
    * list is consulted as a broadcast anti-join on the base ∪ segment
    * union — a retracted image can never be a cluster member, a
    * cluster representative, or a near-dup pair endpoint, with NO
    * rewrite of either generation at delete time. Because deletion
    * happens BEFORE the exact-hash cluster aggregate, surviving
    * clusters recount their members and re-elect their minimum
    * surviving id — exactly what re-running near-dup on the retracted
    * corpus produces, which is what the oracle computes (m07's
    * arithmetic over documents WHERE doc_id % 7 <> 3). At 100 TB the
    * tombstone set is ids-only, always broadcastable;
    * [[m12PurgedNearDup]] is the physical purge the next compaction
    * applies, pinned row-identical. */
  def m12TombstoneNearDup(spark: SparkSession, dir: String): DataFrame = {
    val stage = m12DeleteStage(spark, dir)
    val hashes = spark.read.parquet(s"${stageM10Generation(spark, dir, "m10ihbase",
        col("media_id") % 2 === 0)}/hashes")
      .unionByName(spark.read.parquet(s"${stageM10Generation(spark, dir, "m10ihseg",
        col("media_id") % 2 === 1)}/hashes"))
      .join(broadcast(spark.read.parquet(s"$stage/tombstones")),
        Seq("media_id"), "left_anti")
    nearDupFromHashes(hashes)
  }

  /** This family's slice of the oracle-SQL map (split from the
    * single oracleSqlBase literal; composed back in
    * [[AnalyticsQueries.oracleSqlBase]]). */
  private[queries] lazy val multimodalOracles: Map[String, String] = Map(
    // image half: pixel (x,y) channel c of the synthetic 8x8 PNG is
    // (id*7 + (y*8+x)*3 + c) % 256, and the (y, x, R-G-B) checksum walk
    // visits exactly the linear sequence j = 0..191 of (id*7 + j) % 256
    // — so the oracle recomputes the REAL ImageIO decode arithmetically
    "m01_multimodal" ->
      s"""SELECT media_id, kind, byte_len, feat, checksum FROM (
         |  SELECT doc_id AS media_id, 'text' AS kind,
         |    CAST(octet_length(encode(text)) AS INT) AS byte_len,
         |    CAST(unicode(substring(text, 1, 1)) AS INT) AS feat,
         |    ${polyHash("text")} AS checksum
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id AS media_id, 'image/png' AS kind,
         |    CAST(192 AS INT) AS byte_len, CAST(8 * 65536 + 8 AS INT) AS feat,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(0, 192),
         |        _mj -> CAST((doc_id * 7 + _mj) % 256 AS BIGINT))),
         |      (_ma, _mb) -> (_ma * 31 + _mb) % 1000000007) AS checksum
         |  FROM documents)
         |ORDER BY media_id, kind""".stripMargin,
    "m02_frame_sample" ->
      s"""WITH f AS (SELECT doc_id, text,
         |    CAST(CEIL(LENGTH(text) / 64.0) AS BIGINT) AS n_frames FROM documents),
         |k AS (SELECT doc_id, text, n_frames,
         |    unnest(range(0, LEAST(5, (n_frames + 1) // 2))) AS ki FROM f)
         |SELECT doc_id, n_frames, ki * 2 AS frame_idx,
         |  ${polyHash("substr(text, CAST(ki*2*64+1 AS BIGINT), 64)")} AS checksum
         |FROM k ORDER BY doc_id, frame_idx""".stripMargin,
    // nearest-neighbor mirror of the ImageIO path: sampled pixel
    // (mx, my) of the 4x4 thumbnail is source pixel (4*mx, 4*my),
    // whose channel c is (id*7 + ((4*my)*16 + 4*mx)*3 + c) % 256;
    // checksum folds (h*31+v) % P in (y, x, R-G-B) order
    "m03_resize" ->
      s"""SELECT doc_id AS media_id, 16 AS width, 16 AS height,
         |  4 AS out_w, 4 AS out_h,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), flatten(flatten(
         |    list_transform(range(0, 4), _my -> list_transform(range(0, 4), _mx ->
         |      list_transform(range(0, 3), _mc -> CAST(
         |        (doc_id*7 + ((4*_my)*16 + 4*_mx)*3 + _mc) % 256 AS BIGINT))))))),
         |    (_ma, _mb) -> (_ma * 31 + _mb) % 1000000007) AS checksum
         |FROM documents ORDER BY media_id""".stripMargin,
    // pixel math mirror of the ImageIO path: source channel c of pixel
    // (x,y) is (id*7 + (y*16+x)*3 + c) % 256; the 2:1 box filter is the
    // floor mean of each 2x2 block; checksum folds (h*31+v) % P over
    // the 8x8 output in (y, x, R-G-B) order — bit-exact because PNG is
    // lossless and every operation is integer
    "m04_image_decode" ->
      s"""SELECT doc_id AS media_id, 16 AS width, 16 AS height,
         |  8 AS out_w, 8 AS out_h,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), flatten(flatten(
         |    list_transform(range(0, 8), _my -> list_transform(range(0, 8), _mx ->
         |      list_transform(range(0, 3), _mc -> CAST((
         |          (doc_id*7 + ((2*_my)*16 + 2*_mx)*3 + _mc) % 256
         |        + (doc_id*7 + ((2*_my)*16 + 2*_mx + 1)*3 + _mc) % 256
         |        + (doc_id*7 + ((2*_my + 1)*16 + 2*_mx)*3 + _mc) % 256
         |        + (doc_id*7 + ((2*_my + 1)*16 + 2*_mx + 1)*3 + _mc) % 256
         |      ) // 4 AS BIGINT))))))),
         |    (_ma, _mb) -> (_ma * 31 + _mb) % 1000000007) AS checksum
         |FROM documents ORDER BY media_id""".stripMargin,
    // the decimated samples recomputed from the synthesis law: kept
    // indices are the even i < 800; output position j = i/2 + 1; the
    // muted windows ((i DIV 160) % 3 = 2) contribute zero to both sums
    "m08_audio_resample" ->
      s"""WITH s AS (SELECT doc_id AS media_id, _i,
         |    CASE WHEN ((_i // 160) % 3 = 2) THEN CAST(0 AS BIGINT)
         |      ELSE CAST((doc_id*31 + _i*7) % 4096 - 2048 AS BIGINT) END AS v
         |  FROM documents CROSS JOIN unnest(range(0, 800)) AS t(_i)
         |  WHERE _i % 2 = 0)
         |SELECT media_id, CAST(800 AS BIGINT) AS n_in, COUNT(*) AS n_out,
         |  CAST(SUM(v*v) AS BIGINT) AS energy,
         |  CAST(SUM((_i // 2 + 1) * v) AS BIGINT) AS checksum
         |FROM s GROUP BY media_id ORDER BY media_id""".stripMargin,
    "m05_audio_energy" ->
      s"""WITH f AS (SELECT doc_id AS media_id, CAST(_fi AS BIGINT) AS frame_idx,
         |    CASE WHEN _fi % 3 = 2 THEN CAST(0 AS BIGINT) ELSE
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(_fi*160, _fi*160 + 160), _ai ->
         |          CAST((doc_id*31 + _ai*7) % 4096 - 2048 AS BIGINT)
         |            * CAST((doc_id*31 + _ai*7) % 4096 - 2048 AS BIGINT))),
         |        (_ea, _eb) -> _ea + _eb) END AS energy
         |  FROM documents CROSS JOIN unnest(range(0, 5)) AS t(_fi))
         |SELECT media_id, frame_idx, energy, energy = 0 AS is_silence
         |FROM f ORDER BY media_id, frame_idx""".stripMargin,
    // arithmetic mirror of the frame walk: byte i of frame f is
    // (id*17 + f*53 + i*11) % 256 on scene starts (f%4=0), else
    // (id*13 + f*3 + i*7) % 256; diff = sum of |byte(f,i)-byte(f-1,i)|
    "m06_keyframes" ->
      s"""WITH fr AS (SELECT doc_id AS media_id, CAST(_f AS BIGINT) AS frame_idx
         |  FROM documents CROSS JOIN unnest(range(1, 8)) AS t(_f)),
         |d AS (SELECT media_id, frame_idx,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 64), _vi ->
         |    ABS(
         |      (CASE WHEN frame_idx % 4 = 0
         |            THEN (media_id*17 + frame_idx*53 + _vi*11) % 256
         |            ELSE (media_id*13 + frame_idx*3 + _vi*7) % 256 END)
         |      - (CASE WHEN (frame_idx-1) % 4 = 0
         |              THEN (media_id*17 + (frame_idx-1)*53 + _vi*11) % 256
         |              ELSE (media_id*13 + (frame_idx-1)*3 + _vi*7) % 256 END)))),
         |    (_va, _vb) -> _va + _vb) AS diff
         |  FROM fr)
         |SELECT media_id, frame_idx, diff, diff > 3000 AS is_keyframe
         |FROM d ORDER BY media_id, frame_idx""".stripMargin,
    // m07's full perceptual-dedup arithmetic over the RETRACTED corpus
    // (doc_id ≡ 3 mod 7 deleted): clusters recount and re-elect their
    // minimum SURVIVING id — deleting before the cluster aggregate
    // must equal re-running near-dup on the purged corpus
    "m12_tombstone_neardup" ->
      s"""WITH blk AS (SELECT doc_id, list_transform(range(0, 64),
         |    _pi -> CAST($m07Block AS BIGINT)) AS blocks FROM documents
         |  WHERE doc_id % 7 <> 3),
         |mh AS (SELECT doc_id, blocks,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), blocks),
         |      (_ma, _mb) -> _ma + _mb) // 64 AS mean FROM blk),
         |hh AS (SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 32),
         |      _pi -> CASE WHEN blocks[_pi + 1] >= mean THEN CAST(1 AS BIGINT)
         |                  ELSE CAST(0 AS BIGINT) END)),
         |      (_ma, _mb) -> _ma * 2 + _mb) AS hash_hi,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(32, 64),
         |      _pi -> CASE WHEN blocks[_pi + 1] >= mean THEN CAST(1 AS BIGINT)
         |                  ELSE CAST(0 AS BIGINT) END)),
         |      (_ma, _mb) -> _ma * 2 + _mb) AS hash_lo
         |  FROM mh),
         |cl AS (SELECT hash_hi, hash_lo, MIN(doc_id) AS keep_id,
         |    COUNT(*) AS n_members FROM hh GROUP BY 1, 2),
         |bd AS (SELECT hash_hi, hash_lo, keep_id, n_members, _bd AS band,
         |    CASE WHEN _bd = 0 THEN hash_hi // 65536 WHEN _bd = 1 THEN hash_hi % 65536
         |         WHEN _bd = 2 THEN hash_lo // 65536 ELSE hash_lo % 65536 END AS key
         |  FROM cl CROSS JOIN unnest(range(0, 4)) AS t(_bd)),
         |pr AS (SELECT DISTINCT a.keep_id AS keep_i, b.keep_id AS keep_j,
         |    a.hash_hi AS hi_a, a.hash_lo AS lo_a, b.hash_hi AS hi_b,
         |    b.hash_lo AS lo_b, a.n_members AS n_i, b.n_members AS n_j
         |  FROM bd a JOIN bd b
         |    ON a.band = b.band AND a.key = b.key AND a.keep_id < b.keep_id),
         |f AS (SELECT keep_i, keep_j, n_i, n_j,
         |    CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT)
         |      AS hamming FROM pr)
         |SELECT keep_i, keep_j, n_i, n_j, hamming FROM f
         |WHERE hamming <= 6 ORDER BY keep_i, keep_j""".stripMargin,
    // arithmetic mirror of the full perceptual-dedup pipeline: block
    // grays from the synthesis formula, MSB-first bit fold into two
    // 32-bit halves, exact-hash clustering, 16-bit band join over the
    // distinct hashes, xor+popcount Hamming verify
    "m07_image_neardup" ->
      s"""WITH blk AS (SELECT doc_id, list_transform(range(0, 64),
         |    _pi -> CAST($m07Block AS BIGINT)) AS blocks FROM documents),
         |mh AS (SELECT doc_id, blocks,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), blocks),
         |      (_ma, _mb) -> _ma + _mb) // 64 AS mean FROM blk),
         |hh AS (SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 32),
         |      _pi -> CASE WHEN blocks[_pi + 1] >= mean THEN CAST(1 AS BIGINT)
         |                  ELSE CAST(0 AS BIGINT) END)),
         |      (_ma, _mb) -> _ma * 2 + _mb) AS hash_hi,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(32, 64),
         |      _pi -> CASE WHEN blocks[_pi + 1] >= mean THEN CAST(1 AS BIGINT)
         |                  ELSE CAST(0 AS BIGINT) END)),
         |      (_ma, _mb) -> _ma * 2 + _mb) AS hash_lo
         |  FROM mh),
         |cl AS (SELECT hash_hi, hash_lo, MIN(doc_id) AS keep_id,
         |    COUNT(*) AS n_members FROM hh GROUP BY 1, 2),
         |bd AS (SELECT hash_hi, hash_lo, keep_id, n_members, _bd AS band,
         |    CASE WHEN _bd = 0 THEN hash_hi // 65536 WHEN _bd = 1 THEN hash_hi % 65536
         |         WHEN _bd = 2 THEN hash_lo // 65536 ELSE hash_lo % 65536 END AS key
         |  FROM cl CROSS JOIN unnest(range(0, 4)) AS t(_bd)),
         |pr AS (SELECT DISTINCT a.keep_id AS keep_i, b.keep_id AS keep_j,
         |    a.hash_hi AS hi_a, a.hash_lo AS lo_a, b.hash_hi AS hi_b,
         |    b.hash_lo AS lo_b, a.n_members AS n_i, b.n_members AS n_j
         |  FROM bd a JOIN bd b
         |    ON a.band = b.band AND a.key = b.key AND a.keep_id < b.keep_id),
         |f AS (SELECT keep_i, keep_j, n_i, n_j,
         |    CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT)
         |      AS hamming FROM pr)
         |SELECT keep_i, keep_j, n_i, n_j, hamming FROM f
         |WHERE hamming <= 6 ORDER BY keep_i, keep_j""".stripMargin,
  )

}
