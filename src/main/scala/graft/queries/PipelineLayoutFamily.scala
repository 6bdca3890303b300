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

/** Sampling / layout / maintenance family (p06-p27 slice) — one slice of [[AnalyticsQueries]], split along
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
private[queries] trait PipelineLayoutFamily { this: AnalyticsQueries.type =>

  import Sql._

  /** p09 — stratified deterministic sampling: exactly `k` docs per
    * language stratum, chosen as the k SMALLEST `polyHash(doc_id)`
    * values — a keyed lottery, so the sample is identical on any
    * engine, any run, any partition layout (p06's property, plus exact
    * per-stratum counts — the eval-set builder's contract). Runs
    * through [[graft.expressions.TopKByScore]] with negated-hash
    * scores: one partial-aggregated pass, shuffle = strata×k, no
    * per-stratum sort (hash < 2³¹ so negation is overflow-safe).
    * Output: the sampled (lang, doc_id) pairs with their rank. */
  def p09StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 20
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        (-TF.polyHash(col("doc_id").cast("string"))).as("score"))
      .groupBy(col("lang"))
      .agg(graft.expressions.TopKByScore(col("score"), col("doc_id"), k).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"))
      .orderBy(col("lang"), col("rank"))
  }

  /** p07 — the data-prep pipeline end-to-end, composed from the
    * engine's own stages the way a training run would wire them:
    *
    *   1. quality gate   — keep only t09 "keep"-verdict docs;
    *   2. corpus split   — held-out eval slice = doc_id % 10 == 0,
    *                       the training corpus is everything else;
    *   3. exact dedup    — one survivor (min doc_id) per normalized
    *                       text (one hash-agg shuffle);
    *   4. decontaminate  — drop training docs with ≥ 80% 4-gram
    *                       overlap against the eval shingle vocabulary
    *                       (semi-join on 8-byte hashes, d09 shape);
    *   5. sample         — reproducible 90% slice by polyHash(doc_id)
    *                       (p06 semantics, partition-layout-free);
    *   6. report         — per-lang doc count + token budget.
    *
    * Every stage is linear or hash-shuffled — nothing quadratic, no
    * driver-side data. The oracle replays the identical pipeline in
    * SQL, so the final mix report is hash-exact. */
  def p07DataPrep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val stopwords = array(Seq("the", "and", "of", "is", "a").map(lit): _*)
    // 1. quality gate (inline t09 keep-rules; verdict chain not needed)
    val quality = docs.filter(
      TF.tokenCount(col("text")).between(50, 100000) &&
        TF.avgWordLen4(col("text")).between(30000, 100000) &&
        size(filter(TF.words(col("text")), w => w.rlike("[A-Za-z]"))) * 5 >=
          TF.tokenCount(col("text")) * 4 &&
        size(array_intersect(array_distinct(TF.words(col("text"))), stopwords)) >= 2)
    // 2. corpus split — eval vocabulary comes from ALL eval docs (the
    // held-out set is what it is, regardless of its quality)
    val train = quality.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val evalVocab = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(explode(graft.expressions.WordShingleHashes(col("text"), 4)).as("h"))
      .distinct()
    // 3. exact dedup: min-doc_id survivor per normalized text
    val w = Window.partitionBy(lower(trim(col("text")))).orderBy(col("doc_id"))
    val deduped = train.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    // 4. decontamination: shingle-overlap rate vs the eval vocabulary
    val sets = deduped.select(col("doc_id"), col("lang"), col("text"),
        graft.expressions.WordShingleHashes(col("text"), 4).as("hv"))
      .withColumn("n_sh", size(col("hv")))
    val hits = sets.select(col("doc_id"), explode(col("hv")).as("h"))
      .join(evalVocab, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_cont"))
    val clean = sets.join(hits, Seq("doc_id"), "left")
      .filter(coalesce(col("n_cont"), lit(0L)) * 10 < col("n_sh").cast("long") * 8)
    // 5. reproducible 90% sample; 6. per-lang mix report
    clean
      .filter(pmod(TF.polyHash(col("doc_id").cast("string")), lit(100)) < 90)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy(col("lang"))
  }

  /** p10 — INCREMENTAL dedup, the production shape: yesterday's corpus
    * is already deduplicated and must not be rescanned or re-clustered
    * when today's increment lands. The increment (odd doc_ids — a
    * deterministic stand-in for "the new partition") is deduped
    * against itself (keep the lowest doc_id per content fingerprint)
    * and then anti-joined against the corpus's fingerprint set (even
    * doc_ids). Scale shape: the ONLY thing read from the corpus is its
    * 8-byte-per-doc fingerprint index (~0.01% of corpus bytes at
    * 100 TB — maintainable as its own table); the increment pays one
    * hash-agg and one equi-anti-join, and corpus data never shuffles.
    * Output: per-lang incoming / self-deduped / corpus-novel counts —
    * the accounting a daily ingest job reports. */
  def p10IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val fp = TF.polyHash(lower(trim(col("text"))))
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), fp.as("fp"), (col("doc_id") % 2 === 0).as("is_corpus"))
    val corpusFps = docs.filter(col("is_corpus")).select(col("fp")).distinct()
    val inc = docs.filter(!col("is_corpus"))
    // self-dedup: keep the lowest doc_id per fingerprint (its lang via
    // min_by, so accounting follows the KEPT row)
    val selfKept = inc.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), min_by(col("lang"), col("doc_id")).as("lang"))
    val novel = selfKept.join(corpusFps, Seq("fp"), "left_anti")
    inc.groupBy(col("lang")).agg(count(lit(1)).as("n_incoming"))
      .join(selfKept.groupBy(col("lang")).agg(count(lit(1)).as("n_self_kept")),
        Seq("lang"), "left")
      .join(novel.groupBy(col("lang")).agg(count(lit(1)).as("n_novel")),
        Seq("lang"), "left")
      .select(col("lang"), col("n_incoming"),
        coalesce(col("n_self_kept"), lit(0L)).as("n_self_kept"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .orderBy(col("lang"))
  }

  /** p11 — CDC MERGE (upsert + delete), the corpus-refresh op a
    * long-lived 100 TB dataset runs every ingest cycle: apply a
    * changeset of updates (doc_id % 7 == 3 → text gains a " v2"
    * suffix) and deletes (doc_id % 10 == 0) to the base table in one
    * pass. Implemented as the engine-level MERGE shape: changeset
    * keyed by doc_id, base LEFT-joined against it, row-level resolve
    * (delete drops, update replaces, absent keeps). ONE shuffle on the
    * merge key — the changeset is usually broadcast-sized in
    * production, making it a scan; either way nothing quadratic and
    * no driver-side data. Output: per-lang surviving count, updated
    * count, and a text checksum any wrong/lost/duplicated row breaks. */
  def p11CdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val changes = docs
      .filter(col("doc_id") % 7 === 3 || col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, lit("D")).otherwise(lit("U")).as("op"),
        concat(col("text"), lit(" v2")).as("new_text"))
    val merged = docs.join(changes, Seq("doc_id"), "left")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("doc_id"), col("lang"),
        when(col("op") === "U", col("new_text")).otherwise(col("text")).as("text"),
        (col("op") === "U").as("updated"))
    merged.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("updated"), 1L).otherwise(0L)).as("n_updated"),
        sum(TF.polyHash(col("text"))).as("checksum"))
      .orderBy(col("lang"))
  }

  /** p12 — SCHEMA EVOLUTION across dataset generations: a long-lived
    * corpus accretes columns (here: generation 1 has no `quality`
    * score; generation 2 adds one). The union read uses parquet
    * `mergeSchema`, so gen-1 rows surface the new column as null and
    * one query spans both generations — the alternative (rewriting
    * 100 TB of history to add a column) is exactly what schema merge
    * exists to avoid. Scale note: mergeSchema reconciles FOOTERS
    * (metadata-scale); data files are untouched. Output: per-gen/lang
    * counts with null-aware quality stats the oracle recomputes. */
  def p12SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val stage = PipelineQueries.staging("p12", dir)
    val docs = Tables.documents(spark, dir)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(s"$stage/gen=1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"),
        (length(col("text")) % 100).cast("long").as("quality"))
      .write.mode("overwrite").parquet(s"$stage/gen=2")
    spark.read.option("mergeSchema", "true").parquet(stage)
      .groupBy(col("gen"), col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("quality").isNull, 1L).otherwise(0L)).as("n_unscored"),
        coalesce(sum(col("quality")), lit(0L)).as("quality_sum"))
      .orderBy(col("gen"), col("lang"))
  }

  /** p06 — deterministic hash sampling (the training-pipeline "take a
    * reproducible 10% slice" op): membership = polyHash(id) % 10, so
    * the same rows are sampled on any engine, any run, any partition
    * layout — unlike rand()-based sampling. */
  def p06HashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(pmod(TF.polyHash(col("doc_id").cast("string")), lit(10)) === 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"))

  /** p16 — domain-mixture sampling (the DoReMi/Pile-style "hit a
    * target token mixture" op): given a target mixture (uniform over
    * the L languages here) and a global token budget (40% of the
    * corpus), derive each domain's sampling rate and take a
    * DETERMINISTIC hash-slice of its documents at that rate —
    * p06's membership rule, per-domain rates. Over-represented
    * domains are downsampled toward their budget share; domains under
    * their share keep everything (rate clamps at 100%). All mixture
    * arithmetic is integer basis points (DIV, no floats), so rates —
    * and therefore exact membership — are engine-stable and the hash
    * gate pins the whole pipeline, not just counts. Shape at 100 TB:
    * one map-side-combined per-domain token count (shuffle = L rows),
    * the tiny rate table broadcast back onto a second corpus scan,
    * filter, final L-row agg — no corpus shuffle anywhere. */
  def p16DomainMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), TF.tokenCount(col("text")).as("toks"))
    val perLang = docs.groupBy(col("lang")).agg(sum(col("toks")).as("lang_tokens"))
    val tot = perLang.agg(sum(col("lang_tokens")).as("total_tokens"),
      count(lit(1)).as("n_langs"))
    val rates = perLang.crossJoin(broadcast(tot))
      .withColumn("budget_l", expr("(total_tokens * 4) DIV (10 * n_langs)"))
      .withColumn("rate_bp",
        least(lit(10000L), expr("(budget_l * 10000) DIV lang_tokens")))
      .select(col("lang"), col("lang_tokens"), col("rate_bp"))
    val h = TF.polyHash(col("doc_id").cast("string"))
    // polyHash of short digit strings never wraps mod P, so it is a
    // LINEAR form in the digits and lands on a lattice mod 10⁴ (measured:
    // ~60% kept at an 18% rate). Squaring mod P before the bucket is the
    // cheapest nonlinearity both engines fold identically in int64
    // (h² < 10¹⁸): realized per-domain rates land within binomial noise.
    docs.join(broadcast(rates), Seq("lang"))
      .filter(pmod((h * h + h) % lit(1000000007L), lit(10000)) < col("rate_bp"))
      .groupBy(col("lang"), col("lang_tokens"), col("rate_bp"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("toks")).as("kept_tokens"))
      .select(col("lang"), col("rate_bp"), col("kept_docs"), col("kept_tokens"))
      .orderBy(col("lang"))
  }

  /** p17 — temperature-flattened domain mixture (the mT5/XLM-R
    * α-sampling scheme, α = 1/2): where p16 targets the UNIFORM
    * mixture (α = 0, every domain the same budget share), p17 targets
    * share ∝ (natural share)^α — rare domains are boosted relative to
    * their natural share but big domains still dominate, the standard
    * compromise for multilingual training mixes. Flattened weight
    * w = ⌊√lang_tokens⌋: IEEE sqrt is correctly rounded and
    * lang_tokens ≪ 2⁵², so the floor is engine-identical and the
    * whole rate derivation stays in exact integer arithmetic —
    * membership hash-gates, same as p16. Same 100 TB shape: L-row
    * aggregates, broadcast rate table, no corpus shuffle. */
  def p17TemperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), TF.tokenCount(col("text")).as("toks"))
    val perLang = docs.groupBy(col("lang")).agg(sum(col("toks")).as("lang_tokens"))
      .withColumn("w", expr("CAST(FLOOR(SQRT(CAST(lang_tokens AS DOUBLE))) AS BIGINT)"))
    val tot = perLang.agg(sum(col("lang_tokens")).as("total_tokens"), sum(col("w")).as("sw"))
    val rates = perLang.crossJoin(broadcast(tot))
      .withColumn("budget_l", expr("(total_tokens * 4 * w) DIV (10 * sw)"))
      .withColumn("rate_bp",
        least(lit(10000L), expr("(budget_l * 10000) DIV lang_tokens")))
      .select(col("lang"), col("rate_bp"))
    val h = TF.polyHash(col("doc_id").cast("string"))
    docs.join(broadcast(rates), Seq("lang"))
      .filter(pmod((h * h + h) % lit(1000000007L), lit(10000)) < col("rate_bp"))
      .groupBy(col("lang"), col("rate_bp"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("toks")).as("kept_tokens"))
      .select(col("lang"), col("rate_bp"), col("kept_docs"), col("kept_tokens"))
      .orderBy(col("lang"))
  }

  /** p24 — perplexity-bucketed corpus partition, CCNet's head/middle/
    * tail scheme (Wenzek et al. LREC'20, public): score every document
    * with the t10 unigram LM, cut each language's score distribution
    * into terciles, and label documents head (most-fluent third),
    * middle, tail — the buckets CCNet samples from preferentially when
    * building training mixes. The tercile CUTOFFS come from q39's
    * deterministic bottom-k hash sample (k=64 per language), NOT from
    * a corpus-wide window: at 100 TB an exact per-language ntile would
    * sort the whole corpus per language, while the sample costs one
    * bounded-heap aggregate (shuffle = langs×k) and the assignment is
    * then a scan-local comparison against the broadcast 2-value-per-
    * language boundary table — the same sketch-then-broadcast shape as
    * p16/p17's rate tables. Everything hash-gates: the sample is
    * hash-deterministic, the boundaries are rank selections off it,
    * and the bucket label is integer comparison. */
  def p24PerplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.TopKByScore
    val scored = t10UnigramLm(spark, dir).select(col("doc_id"), col("lm_score"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
    val h = TF.polyHash(concat(col("doc_id").cast("string"),
      lit("-ppb-0123456789abcdef")))
    val keys = scored.withColumn("h", h)
      .groupBy(col("lang"))
      .agg(TopKByScore(-col("h"), col("doc_id"), 64).as("mk"))
      .select(col("lang"), explode(col("mk")).as("t"))
      .select(col("t.id").as("doc_id"))
    val bounds = scored.join(broadcast(keys), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(sort_array(collect_list(col("lm_score"))).as("vs"))
      .select(col("lang"),
        element_at(col("vs"), expr("CAST((33 * size(vs) + 99) DIV 100 AS INT)")).as("b33"),
        element_at(col("vs"), expr("CAST((67 * size(vs) + 99) DIV 100 AS INT)")).as("b67"))
    scored.join(broadcast(bounds), Seq("lang"))
      .withColumn("bucket",
        when(col("lm_score") <= col("b33"), lit("tail"))
          .when(col("lm_score") <= col("b67"), lit("middle"))
          .otherwise(lit("head")))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("lm_score")).as("min_score"), max(col("lm_score")).as("max_score"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** p18 — deterministic shuffled sharding (the "global shuffle"
    * every training export needs): each document's shard and its
    * position within the shard derive from the square-mixed hash of
    * its id — a pseudorandom permutation that is REPRODUCIBLE
    * (re-running the export yields byte-identical shards, and two
    * engines agree on it exactly — the checksum below hash-gates the
    * full permutation, not just shard counts). Physically: one
    * shuffle to co-locate each shard, files sorted by (h2, doc_id)
    * within it (the written order is pinned by a spec reading files
    * back unsorted). The per-shard ordered FOLD checksum
    * (h = 31·h + doc_id mod P over ids in permutation order) is
    * order-sensitive, so a single transposition anywhere breaks the
    * gate. At 100 TB: one hash-range shuffle, shard count scales
    * freely, and balance is whatever the hash gives — measured, not
    * assumed (the spec bounds shard skew). */
  def p18ShuffledShards(spark: SparkSession, dir: String): DataFrame = {
    val stage = PipelineQueries.staging("p18", dir)
    // the salt in [[shardFrame]] matters: the polyhash fold must wrap
    // mod P many times to scramble the low bits the square mix needs
    // (h²+h of an UNWRAPPED short-string hash is always even — bare
    // ids left every odd shard empty).
    // hash-partition ON the shard key: a shard never spans two tasks,
    // so each shard dir is ONE file holding its rows in (h2, doc_id)
    // order — the property the read-back spec pins
    shardFrame(spark, dir)
      .repartition(8, col("shard"))
      .sortWithinPartitions(col("shard"), col("h2"), col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$stage/shards")
    shardStats(spark.read.parquet(s"$stage/shards"))
  }

  /** Test hook: the p18 shard layout root. */
  def p18ShardStage(spark: SparkSession, dir: String): String =
    PipelineQueries.staging("p18", dir) + "/shards"

  /** The shared p18/p19 shard frame: every document with its salted
    * square-mixed hash `h2` and `shard = h2 mod 8`. */
  private[queries] def shardFrame(spark: SparkSession, dir: String): DataFrame =
    shardFrameOf(Tables.documents(spark, dir))

  /** The same frame over an arbitrary documents slice — s16 shards
    * each micro-batch with exactly this function, so the streamed
    * export is row-identical to the batch one. */
  private[queries] def shardFrameOf(docs: DataFrame): DataFrame = {
    val h = TF.polyHash(concat(lit("p18:"), col("doc_id").cast("string"), lit(":shard")))
    docs
      .select(col("doc_id"), col("lang"), TF.tokenCount(col("text")).as("toks"))
      .withColumn("h2", (h * h + h) % lit(1000000007L))
      .withColumn("shard", pmod(col("h2"), lit(8)))
  }

  /** The per-shard stats + ordered fold checksum both p18 and p19
    * report — the permutation-pinning read side. */
  private[queries] def shardStats(df: DataFrame): DataFrame =
    df.groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        min(col("h2")).as("h2_min"), max(col("h2")).as("h2_max"),
        aggregate(
          transform(array_sort(collect_list(struct(col("h2"), col("doc_id")))),
            x => x.getField("doc_id")),
          lit(0L), (acc, x) => (acc * lit(31L) + x) % lit(1000000007L)).as("checksum"))
      .orderBy(col("shard"))

  /** Test hook: the p19 layout root (base/delta/compacted). */
  def p19ShardStage(spark: SparkSession, dir: String): String =
    PipelineQueries.staging("p19", dir)

  /** The p26 z-order layout BUILD stage: the events table rewritten
    * ONCE, range-partitioned and sorted by the 32-bit Morton
    * interleave of 16-bit (ts, user_id) buckets
    * ([[graft.operators.ZOrder]]), written with small parquet row
    * groups so min/max statistics have pruning granularity. The
    * z-value is computed, sorted on, and DROPPED — it is a layout
    * key, not data. `meta` stores the bucket bounds (min/max of both
    * dimensions, one metadata-scale aggregate) and doubles as the
    * completeness marker. Keyed by a content fingerprint of
    * events.parquet. */
  private[queries] def stageZOrderEvents(spark: SparkSession,
      dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/events.parquet")
    val stage = PipelineQueries.staging("p26zo", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      // NO row filter before the bounds or the write: the oracle
      // computes its box bounds over ALL raw rows, and the staged
      // copy must carry the full table (a null user_id gets a null
      // z-value — it still lands in the layout, and the box predicate
      // excludes it identically in both engines)
      val ev = Tables.events(spark, dir).select(col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      val b = ev.agg(min(col("ts_us")), max(col("ts_us")),
        min(col("user_id")), max(col("user_id"))).head
      val (tl, th, ul, uh) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val zv = graft.operators.ZOrder.zvalue16(
        graft.operators.ZOrder.bucket16(col("ts_us"), tl, th),
        graft.operators.ZOrder.bucket16(col("user_id"), ul, uh))
      ev.withColumn("zv", zv)
        .repartitionByRange(8, col("zv"))
        .sortWithinPartitions(col("zv"))
        .drop("zv")
        .write.mode("overwrite")
        // ~64 KB row groups: the pruning unit. Default 128 MB groups
        // would make a small table ONE group per file and hide the
        // effect the layout exists to produce; production picks the
        // granularity from target file sizes.
        .option("parquet.block.size", 64 * 1024)
        .parquet(s"$stage/events")
      spark.range(1).select(lit(tl).as("tl"), lit(th).as("th"),
          lit(ul).as("ul"), lit(uh).as("uh"))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** p26 — TWO-DIMENSIONAL scan pruning via z-order clustering on the
    * time×entity shape: p14 introduces the curve (8-bit buckets over
    * lineitem keys, its oracle pinning the interleave arithmetic bit
    * for bit and PlanAuditSpec pinning the footer boxes); p26 is the
    * same [[graft.operators.ZOrder]] machinery at 16-bit granularity
    * on the (ts, user_id) axes a per-entity time-slice dashboard or a
    * GDPR export queries, with the complementary evidence: ZOrderSpec
    * MEASURES records actually read (a 10% slice of the unsorted
    * dimension reads ~all rows on a linear sort, ~1/8 on the curve),
    * and the oracle here is layout-NEUTRAL — it recomputes the box
    * from the RAW table and never sees the clustered copy, pinning
    * that the rewrite changed file bytes and nothing else. Bounds are
    * integer 30–60% quantile-free slices of each dimension's
    * [min, max] — engine-exact arithmetic both sides. */
  def p26ZOrderScan(spark: SparkSession, dir: String): DataFrame = {
    val stage = stageZOrderEvents(spark, dir)
    val m = spark.read.parquet(s"$stage/meta").head
    val (tl, th, ul, uh) =
      (m.getAs[Long]("tl"), m.getAs[Long]("th"), m.getAs[Long]("ul"), m.getAs[Long]("uh"))
    val (t0, t1) = (tl + (th - tl) * 3 / 10, tl + (th - tl) * 6 / 10)
    val (u0, u1) = (ul + (uh - ul) * 3 / 10, ul + (uh - ul) * 6 / 10)
    spark.read.parquet(s"$stage/events")
      .filter(col("ts_us") >= t0 && col("ts_us") < t1 &&
        col("user_id") >= u0 && col("user_id") < u1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)")
          .as("total_value"))
      .orderBy(col("event_type"))
  }

  /** The p27 GENERATIONAL z-order stage: p26's layout under the
    * append-only maintenance protocol a12/a20 use for indexes,
    * applied to clustering. Generation 0 (even event_ids — the frozen
    * history) and generation 1 (odd — "today's increment") are each
    * z-clustered INTERNALLY and written as separate partition dirs;
    * the increment lands WITHOUT rewriting a byte of history — the
    * operation a 100 TB table runs daily, because re-clustering the
    * full corpus per ingest is exactly what generational layout
    * exists to avoid. Both generations bucket under the SAME stored
    * bounds (the frozen dictionary discipline: an increment reuses
    * the base's normalization so its curve tiles the same key
    * space). meta doubles as the completeness marker. */
  private[queries] def stageZOrderIncrement(spark: SparkSession,
      dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/events.parquet")
    val stage = PipelineQueries.staging("p27zi", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val ev = Tables.events(spark, dir).select(col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      val b = ev.agg(min(col("ts_us")), max(col("ts_us")),
        min(col("user_id")), max(col("user_id"))).head
      val (tl, th, ul, uh) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val zv = graft.operators.ZOrder.zvalue16(
        graft.operators.ZOrder.bucket16(col("ts_us"), tl, th),
        graft.operators.ZOrder.bucket16(col("user_id"), ul, uh))
      Seq(0, 1).foreach { gen =>
        ev.filter(pmod(col("event_id"), lit(2)) === gen)
          .withColumn("zv", zv)
          .repartitionByRange(4, col("zv"))
          .sortWithinPartitions(col("zv"))
          .drop("zv")
          .write.mode("overwrite")
          .option("parquet.block.size", 64 * 1024)
          .parquet(s"$stage/events/gen=$gen")
      }
      spark.range(1).select(lit(tl).as("tl"), lit(th).as("th"),
          lit(ul).as("ul"), lit(uh).as("uh"))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** p27 — the two-dimensional box query over the GENERATIONAL
    * z-order layout: identical semantics to p26, served from a base
    * generation plus an appended increment that never touched the
    * base's files. Hash-gated with p26's ORACLE (computed from the
    * RAW table): one clustered copy, two clustered generations, or no
    * clustering at all must be output-indistinguishable — the m09/m07
    * discipline applied to layout maintenance. Pruning holds PER
    * GENERATION (each is internally curve-sorted under the shared
    * bounds), so the daily-append protocol keeps both the write cost
    * (increment-only) and the read cost (row groups pruned in every
    * generation) at 100 TB scale. */
  def p27ZOrderIncrement(spark: SparkSession, dir: String): DataFrame = {
    val stage = stageZOrderIncrement(spark, dir)
    val m = spark.read.parquet(s"$stage/meta").head
    val (tl, th, ul, uh) =
      (m.getAs[Long]("tl"), m.getAs[Long]("th"), m.getAs[Long]("ul"), m.getAs[Long]("uh"))
    val (t0, t1) = (tl + (th - tl) * 3 / 10, tl + (th - tl) * 6 / 10)
    val (u0, u1) = (ul + (uh - ul) * 3 / 10, ul + (uh - ul) * 6 / 10)
    spark.read.parquet(s"$stage/events")
      .filter(col("ts_us") >= t0 && col("ts_us") < t1 &&
        col("user_id") >= u0 && col("user_id") < u1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)")
          .as("total_value"))
      .orderBy(col("event_type"))
  }

  /** p21 — fixed-point PageRank over the customer⇄supplier trade
    * graph: the crawl-frontier prioritization op of a web-scale data
    * pipeline (crawlers rank hosts exactly like this to decide what to
    * fetch next; centrality over a bipartite interaction graph is the
    * same computation). All arithmetic is scaled integer (ranks in
    * 10⁻⁹ units, per-edge contribution `r DIV outdeg`, damping
    * `0.15 + 0.85·inflow` as `150e6 + (85·inflow) DIV 100`), so three
    * Jacobi iterations are bit-identical in both engines and the
    * oracle unrolls them as three CTEs — no float mass anywhere.
    * Node ids disambiguate the two id spaces arithmetically (customer
    * c → 2c, supplier s → 2s+1). Scale shape: the canonical
    * distributed PageRank — per iteration one equi-join of the rank
    * table (1 row/node) onto the edge list plus one map-side-combined
    * sum; edges never leave their partitioning, no driver-side state,
    * rounds = a constant. Output: top-10 nodes per kind — the frontier
    * a scheduler would actually consume. */
  def p21PageRank(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    // materialize: three iterations + deg all reuse this edge list —
    // at scale it is the persisted graph table, this is the demo analog
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    var rank = deg.select(col("src").as("id"), lit(1000000000L).as("r"))
    for (_ <- 1 to 3) {
      rank = edges
        .join(rank, edges("src") === rank("id"))
        .join(deg, Seq("src"))
        .select(col("dst"), expr("r DIV d").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("inflow"))
        .select(col("dst").as("id"),
          expr("CAST(150000000 + (85 * inflow) DIV 100 AS BIGINT)").as("r"))
    }
    val w = Window.partitionBy(col("kind")).orderBy(col("r").desc, col("orig_id"))
    rank
      .select(when(col("id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
        expr("id DIV 2").as("orig_id"), col("r"))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= 10)
      .select(col("kind"), col("pos"), col("orig_id"), col("r").as("rank_fp"))
      .orderBy(col("kind"), col("pos"))
  }

  /** Test hook: the p20 export root (data/ + manifest/). */
  def p20ExportStage(spark: SparkSession, dir: String): String =
    PipelineQueries.staging("p20", dir)

  /** p20 — atomic export COMMIT: the manifest-last protocol that makes
    * a multi-file export all-or-nothing for its consumers. The export
    * writes the p18 shard layout under `data/`, then derives per-shard
    * (row count, token sum, ordered fold checksum) FROM THE WRITTEN
    * FILES and lands them as `manifest/` — strictly last, the same
    * completeness-marker discipline as a11's meta table and s12's
    * commit ledger, here applied to the producer side of a dataset
    * hand-off. A crash at ANY earlier point leaves no manifest, and
    * the read path refuses manifest-less data loudly ([[p20Validate]])
    * instead of serving a torn export. The registered query is the
    * CONSUMER's acceptance check: re-derive the stats from `data/` and
    * reconcile against the manifest row by row — `manifest_ok` must be
    * uniformly true, and the oracle pins that by emitting literal TRUE
    * beside independently recomputed stats, so any drift between
    * written bytes and commit record breaks the hash gate. At 100 TB
    * the manifest is shards×1 rows (metadata-scale) and validation
    * reads data once, map-side aggregated — the cost of the scan a
    * consumer was about to do anyway. */
  def p20ExportManifest(spark: SparkSession, dir: String): DataFrame = {
    val stage = PipelineQueries.staging("p20", dir)
    PipelineQueries.stageOnce("p20", dir, Seq(stage)) {
      shardFrame(spark, dir)
        .repartition(8, col("shard"))
        .sortWithinPartitions(col("shard"), col("h2"), col("doc_id"))
        .write.mode("overwrite").partitionBy("shard").parquet(s"$stage/data")
      // the commit record: derived from what actually landed on disk,
      // written only after every data file is complete
      shardStats(spark.read.parquet(s"$stage/data"))
        .select(col("shard"), col("n_docs"), col("n_tokens"), col("checksum"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/manifest")
    }
    p20Validate(spark, stage)
  }

  /** The consumer side of p20's contract: refuse an uncommitted (torn)
    * export, then reconcile manifest against re-derived data stats.
    * The reconciliation is a FULL OUTER join: a shard present in only
    * one side (a data file lost after commit, or data the manifest
    * never recorded) must surface as a `manifest_ok = false` row — an
    * inner join would silently drop exactly the rows the check exists
    * to catch. */
  def p20Validate(spark: SparkSession, stage: String): DataFrame = {
    val hpath = new org.apache.hadoop.fs.Path(s"$stage/manifest")
    val hfs = hpath.getFileSystem(spark.sessionState.newHadoopConf())
    require(hfs.exists(hpath),
      s"$stage: no manifest — export is uncommitted (torn); refusing to read")
    val manifest = spark.read.parquet(s"$stage/manifest")
      .select(col("shard"), col("n_docs").as("m_docs"),
        col("n_tokens").as("m_tokens"), col("checksum").as("m_checksum"))
    shardStats(spark.read.parquet(s"$stage/data"))
      .join(manifest, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n_docs"), lit(-1L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(-1L)).as("n_tokens"),
        coalesce(col("checksum"), lit(-1L)).as("checksum"),
        (col("n_docs").isNotNull && col("m_docs").isNotNull &&
          col("n_docs") === col("m_docs") && col("n_tokens") === col("m_tokens") &&
          col("checksum") === col("m_checksum")).as("manifest_ok"))
      .orderBy(col("shard"))
  }

  /** p19 — INCREMENTAL shard maintenance (a15's segment-merge
    * economics applied to the training export): the standing shard
    * layout was built from the base corpus (doc_id ≢ 3 mod 4); a new
    * increment (doc_id ≡ 3 mod 4, "today's crawl") is hashed with the
    * SAME salted mix and appended as one small delta file per shard —
    * base files untouched, O(increment) work. Compaction then merges
    * base + delta back to one file per shard in full permutation
    * order. The registered result reads ONLY the compacted layout and
    * must hash-equal p18's from-scratch build over the whole corpus
    * (same oracle SQL): append + compact ≡ rebuild, the invariant
    * that lets a 100 TB export stay current by rewriting only what a
    * compaction cycle touches instead of re-sharding the corpus per
    * increment. */
  def p19IncrementalShards(spark: SparkSession, dir: String): DataFrame = {
    val stage = PipelineQueries.staging("p19", dir)
    val all = shardFrame(spark, dir)
    all.filter(pmod(col("doc_id"), lit(4)) =!= 3)
      .repartition(8, col("shard"))
      .sortWithinPartitions(col("shard"), col("h2"), col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$stage/base")
    all.filter(pmod(col("doc_id"), lit(4)) === 3)
      .repartition(8, col("shard"))
      .sortWithinPartitions(col("shard"), col("h2"), col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$stage/delta")
    spark.read.parquet(s"$stage/base")
      .unionByName(spark.read.parquet(s"$stage/delta"))
      .repartition(8, col("shard"))
      .sortWithinPartitions(col("shard"), col("h2"), col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$stage/compacted")
    shardStats(spark.read.parquet(s"$stage/compacted"))
  }

  /** Shared by p18 (from-scratch) and p19 (append + compact): the
    * per-shard stats + ordered fold checksum of the salted
    * square-mixed permutation. One SQL text, two layouts — equality of
    * the hash is the append+compact ≡ rebuild pin. */
  private[queries] lazy val shardOracle: String =
    s"""WITH tk AS (SELECT doc_id, lang, len(${Sql.words("text")}) AS toks,
       |    ${Sql.polyHash("'p18:' || CAST(doc_id AS VARCHAR) || ':shard'")} AS ph FROM documents),
       |s AS (SELECT doc_id, toks, ((ph * ph + ph) % 1000000007) AS h2 FROM tk)
       |SELECT h2 % 8 AS shard, COUNT(*) AS n_docs,
       |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |  MIN(h2) AS h2_min, MAX(h2) AS h2_max,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list(doc_id ORDER BY h2, doc_id)),
       |    (_ca, _cb) -> (_ca * 31 + _cb) % 1000000007) AS checksum
       |FROM s GROUP BY 1 ORDER BY shard""".stripMargin

  /** This family's slice of the oracle-SQL map (split from the
    * single oracleSqlBase literal; composed back in
    * [[AnalyticsQueries.oracleSqlBase]]). */
  private[queries] lazy val pipelineOracles: Map[String, String] = Map(
    "p10_incremental_dedup" ->
      s"""WITH f AS (SELECT doc_id, lang, ${polyHash("lower(trim(text))")} AS fp,
         |    doc_id % 2 = 0 AS is_corpus FROM documents),
         |inc AS (SELECT * FROM f WHERE NOT is_corpus),
         |selfk AS (SELECT fp, MIN(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
         |  FROM inc GROUP BY fp),
         |novel AS (SELECT s.fp, s.lang FROM selfk s
         |  WHERE s.fp NOT IN (SELECT fp FROM f WHERE is_corpus)),
         |a AS (SELECT lang, COUNT(*) AS n_incoming FROM inc GROUP BY lang),
         |b AS (SELECT lang, COUNT(*) AS n_self_kept FROM selfk GROUP BY lang),
         |c AS (SELECT lang, COUNT(*) AS n_novel FROM novel GROUP BY lang)
         |SELECT a.lang, a.n_incoming,
         |  CAST(COALESCE(b.n_self_kept, 0) AS BIGINT) AS n_self_kept,
         |  CAST(COALESCE(c.n_novel, 0) AS BIGINT) AS n_novel
         |FROM a LEFT JOIN b ON a.lang = b.lang LEFT JOIN c ON a.lang = c.lang
         |ORDER BY a.lang""".stripMargin,
    "p11_cdc_merge" ->
      s"""WITH ch AS (SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
         |    text || ' v2' AS new_text
         |  FROM documents WHERE doc_id % 7 = 3 OR doc_id % 10 = 0),
         |m AS (SELECT d.doc_id, d.lang,
         |    CASE WHEN ch.op = 'U' THEN ch.new_text ELSE d.text END AS text,
         |    ch.op = 'U' AS updated
         |  FROM documents d LEFT JOIN ch ON d.doc_id = ch.doc_id
         |  WHERE ch.op IS NULL OR ch.op <> 'D')
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN updated THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
         |  CAST(SUM(${polyHash("text")}) AS BIGINT) AS checksum
         |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    // the merged read's gen-1 rows surface `quality` as NULL — the
    // oracle reconstructs both generations from the base table
    "p12_schema_evolution" ->
      """WITH g AS (
        |  SELECT lang, 1 AS gen, CAST(NULL AS BIGINT) AS quality
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT lang, 2 AS gen, CAST(LENGTH(text) % 100 AS BIGINT) AS quality
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT gen, lang, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unscored,
        |  CAST(COALESCE(SUM(quality), 0) AS BIGINT) AS quality_sum
        |FROM g GROUP BY 1, 2 ORDER BY gen, lang""".stripMargin,
    "p06_hash_sample" ->
      s"""SELECT lang, COUNT(*) AS n, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         |FROM documents
         |WHERE ${polyHash("CAST(doc_id AS VARCHAR)")} % 10 = 0
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // p16's mixture arithmetic is all integer basis points (// = DuckDB
    // integer division, mirroring Spark's DIV), so membership — not
    // just counts — is pinned engine-exactly
    "p16_domain_mixture" ->
      s"""WITH tk AS (SELECT doc_id, lang, len(${words("text")}) AS toks,
         |    ${polyHash("CAST(doc_id AS VARCHAR)")} AS ph FROM documents),
         |pl AS (SELECT lang, SUM(toks) AS lang_tokens FROM tk GROUP BY lang),
         |tot AS (SELECT SUM(lang_tokens) AS total_tokens, COUNT(*) AS n_langs FROM pl),
         |rates AS (SELECT lang, lang_tokens,
         |    LEAST(10000, (((total_tokens * 4) // (10 * n_langs)) * 10000) // lang_tokens)
         |      AS rate_bp
         |  FROM pl CROSS JOIN tot)
         |SELECT r.lang, CAST(r.rate_bp AS BIGINT) AS rate_bp, COUNT(*) AS kept_docs,
         |  CAST(SUM(tk.toks) AS BIGINT) AS kept_tokens
         |FROM tk JOIN rates r ON tk.lang = r.lang
         |WHERE ((tk.ph * tk.ph + tk.ph) % 1000000007) % 10000 < r.rate_bp
         |GROUP BY r.lang, r.rate_bp ORDER BY r.lang""".stripMargin,
    // p17: α=1/2 flattening via ⌊√lang_tokens⌋ — IEEE sqrt is
    // correctly rounded, so the floor (and hence every rate and every
    // membership decision) is engine-identical
    "p17_temperature_mixture" ->
      s"""WITH tk AS (SELECT doc_id, lang, len(${words("text")}) AS toks,
         |    ${polyHash("CAST(doc_id AS VARCHAR)")} AS ph FROM documents),
         |pl AS (SELECT lang, SUM(toks) AS lang_tokens FROM tk GROUP BY lang),
         |plw AS (SELECT lang, lang_tokens,
         |    CAST(FLOOR(SQRT(CAST(lang_tokens AS DOUBLE))) AS BIGINT) AS w FROM pl),
         |tot AS (SELECT SUM(lang_tokens) AS total_tokens, SUM(w) AS sw FROM plw),
         |rates AS (SELECT lang, lang_tokens,
         |    LEAST(10000, (((total_tokens * 4 * w) // (10 * sw)) * 10000) // lang_tokens)
         |      AS rate_bp
         |  FROM plw CROSS JOIN tot)
         |SELECT r.lang, CAST(r.rate_bp AS BIGINT) AS rate_bp, COUNT(*) AS kept_docs,
         |  CAST(SUM(tk.toks) AS BIGINT) AS kept_tokens
         |FROM tk JOIN rates r ON tk.lang = r.lang
         |WHERE ((tk.ph * tk.ph + tk.ph) % 1000000007) % 10000 < r.rate_bp
         |GROUP BY r.lang, r.rate_bp ORDER BY r.lang""".stripMargin,
    // p18: the ordered fold checksum (31·acc + doc_id mod P over ids
    // in (h2, doc_id) order) pins the full permutation — membership,
    // shard assignment, AND order — not just counts
    "p18_shuffled_shards" -> shardOracle,
    // the (ts, user_id) box recomputed from the RAW table — the oracle
    // never sees the z-ordered copy, pinning that clustering changed
    // layout bytes and nothing else. Bounds are integer 30–60% slices
    // of each dimension's [min, max] (Scala Long division and
    // DuckDB's // both floor for positives)
    "p26_zorder_scan" ->
      """WITH b AS (SELECT MIN(epoch_us(ts)) AS tl, MAX(epoch_us(ts)) AS th,
        |    MIN(user_id) AS ul, MAX(user_id) AS uh FROM events)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
        |FROM events, b
        |WHERE epoch_us(ts) >= b.tl + ((b.th - b.tl) * 3) // 10
        |  AND epoch_us(ts) <  b.tl + ((b.th - b.tl) * 6) // 10
        |  AND user_id >= b.ul + ((b.uh - b.ul) * 3) // 10
        |  AND user_id <  b.ul + ((b.uh - b.ul) * 6) // 10
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // t10's scoring CTEs + the same bottom-64 hash sample per lang,
    // tercile cutoffs by 1-based nearest rank off the sorted sample,
    // then scan-local bucket labels — the full sketch-then-broadcast
    // chain recomputed inline
    "p24_perplexity_buckets" ->
      s"""WITH t AS (SELECT doc_id, unnest(${words("text")}) AS term FROM documents),
         |n AS (SELECT COUNT(*) AS total FROM t),
         |freq AS (SELECT term,
         |    CAST(floor(1000000000.0 * COUNT(*) / ANY_VALUE(n.total)) AS BIGINT) AS w
         |  FROM t CROSS JOIN n GROUP BY term),
         |s AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(w) AS sum_w
         |  FROM t JOIN freq USING (term) GROUP BY doc_id),
         |sc AS (SELECT s.doc_id, d.lang, CAST(s.sum_w // s.n_tokens AS BIGINT) AS lm_score
         |  FROM s JOIN documents d USING (doc_id)),
         |sh AS (SELECT doc_id, lang, lm_score,
         |    ${polyHash("CAST(doc_id AS VARCHAR) || '-ppb-0123456789abcdef'")} AS h
         |  FROM sc),
         |r AS (SELECT lang, doc_id, lm_score,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn FROM sh),
         |b AS (SELECT lang, list_sort(list(lm_score)) AS vs
         |  FROM r WHERE rn <= 64 GROUP BY lang),
         |bb AS (SELECT lang, vs[(33*len(vs)+99)//100] AS b33,
         |    vs[(67*len(vs)+99)//100] AS b67 FROM b),
         |a AS (SELECT sc.lang,
         |    CASE WHEN sc.lm_score <= bb.b33 THEN 'tail'
         |         WHEN sc.lm_score <= bb.b67 THEN 'middle'
         |         ELSE 'head' END AS bucket, sc.lm_score
         |  FROM sc JOIN bb USING (lang))
         |SELECT lang, bucket, COUNT(*) AS n_docs,
         |  MIN(lm_score) AS min_score, MAX(lm_score) AS max_score
         |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // p19 reports the SAME stats over its append-then-compact layout:
    // sharing p18's oracle hash pins append + compact ≡ rebuild
    "p19_incremental_shards" -> shardOracle,
    // manifest reconciliation: stats recomputed independently; the
    // literal TRUE pins that written bytes and commit record agree
    "p20_export_manifest" ->
      s"""WITH tk AS (SELECT doc_id, lang, len(${Sql.words("text")}) AS toks,
         |    ${Sql.polyHash("'p18:' || CAST(doc_id AS VARCHAR) || ':shard'")} AS ph FROM documents),
         |s AS (SELECT doc_id, toks, ((ph * ph + ph) % 1000000007) AS h2 FROM tk)
         |SELECT h2 % 8 AS shard, COUNT(*) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list(doc_id ORDER BY h2, doc_id)),
         |    (_ca, _cb) -> (_ca * 31 + _cb) % 1000000007) AS checksum,
         |  TRUE AS manifest_ok
         |FROM s GROUP BY 1 ORDER BY shard""".stripMargin,
    // three Jacobi iterations unrolled — every step scaled-integer, so
    // the ranks (not just the ordering) are bit-identical
    "p21_pagerank" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
        |r0 AS (SELECT src AS id, CAST(1000000000 AS BIGINT) AS r FROM deg),
        |r1 AS (SELECT e.dst AS id,
        |    CAST(150000000 + (85 * SUM(r0.r // deg.d)) // 100 AS BIGINT) AS r
        |  FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src GROUP BY 1),
        |r2 AS (SELECT e.dst AS id,
        |    CAST(150000000 + (85 * SUM(r1.r // deg.d)) // 100 AS BIGINT) AS r
        |  FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src GROUP BY 1),
        |r3 AS (SELECT e.dst AS id,
        |    CAST(150000000 + (85 * SUM(r2.r // deg.d)) // 100 AS BIGINT) AS r
        |  FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src GROUP BY 1),
        |k AS (SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        |    id // 2 AS orig_id, r FROM r3),
        |t AS (SELECT kind, orig_id, r,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY kind ORDER BY r DESC, orig_id) AS INT) AS pos
        |  FROM k)
        |SELECT kind, pos, orig_id, r AS rank_fp FROM t
        |WHERE pos <= 10 ORDER BY kind, pos""".stripMargin,
    // ranking by ascending hash == ranking by descending negated hash
    "p09_stratified_sample" ->
      s"""WITH h AS (SELECT lang, doc_id,
         |    ${polyHash("CAST(doc_id AS VARCHAR)")} AS hv FROM documents),
         |r AS (SELECT lang, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rank
         |  FROM h)
         |SELECT lang, rank, doc_id FROM r WHERE rank <= 20
         |ORDER BY lang, rank""".stripMargin,
    "p07_data_prep" ->
      s"""WITH quality AS (SELECT doc_id, lang, text FROM documents
         |  WHERE len(${words("text")}) BETWEEN 50 AND 100000
         |    AND floor(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) * 10000
         |      / len(${words("text")})) BETWEEN 30000 AND 100000
         |    AND len(list_filter(${words("text")}, _qw -> regexp_matches(_qw, '[A-Za-z]'))) * 5
         |      >= len(${words("text")}) * 4
         |    AND len(list_intersect(list_distinct(${words("text")}), ['the','and','of','is','a'])) >= 2),
         |train AS (SELECT * FROM quality WHERE doc_id % 10 <> 0),
         |evvocab AS (SELECT DISTINCT unnest(list_distinct(list_transform(
         |    range(1, len(${words("text")})-3),
         |    i -> ${polyHash(s"array_to_string(${words("text")}[i:i+3], ' ')")}))) AS h
         |  FROM documents WHERE doc_id % 10 = 0),
         |deduped AS (SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text, ROW_NUMBER() OVER (
         |      PARTITION BY lower(trim(text)) ORDER BY doc_id) AS rn FROM train)
         |  WHERE rn = 1),
         |sets AS (SELECT doc_id, lang, text, list_distinct(list_transform(
         |    range(1, len(${words("text")})-3),
         |    i -> ${polyHash(s"array_to_string(${words("text")}[i:i+3], ' ')")})) AS hv
         |  FROM deduped),
         |hits AS (SELECT p.doc_id, COUNT(*) AS n_cont
         |  FROM (SELECT doc_id, unnest(hv) AS h FROM sets) p
         |  JOIN evvocab USING (h) GROUP BY 1),
         |clean AS (SELECT s.doc_id, s.lang, s.text FROM sets s
         |  LEFT JOIN hits USING (doc_id)
         |  WHERE COALESCE(hits.n_cont, 0) * 10 < len(s.hv) * 8)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(${words("text")})) AS BIGINT) AS total_tokens
         |FROM clean
         |WHERE ${polyHash("CAST(doc_id AS VARCHAR)")} % 100 < 90
         |GROUP BY lang ORDER BY lang""".stripMargin,
  )

}
