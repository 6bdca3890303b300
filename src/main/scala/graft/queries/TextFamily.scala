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

/** Text-analysis family (t01-t20 + BPE / quality-model machinery) — one slice of [[AnalyticsQueries]], split along
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
private[queries] trait TextFamily { this: AnalyticsQueries.type =>

  import Sql._

  /** t01 — token counts aggregated per language label. */
  def t01TokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), TF.tokenCount(col("text")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"), max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("lang"))

  /** t02 — per-doc quality components (integer-stable ×10⁴ fixed-point). */
  def t02Quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars_m"),
        TF.tokenCount(col("text")).as("n_words"),
        TF.avgWordLen4(col("text")).as("avg_wlen4"),
        TF.lexicalDiversity4(col("text")).as("diversity4"))
      .orderBy(col("doc_id"))

  /** t03 — heuristic language-ID vs the labeled lang column. */
  def t03LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TF.langId(col("text")).as("pred_lang"),
        (TF.langId(col("text")) === col("lang")).as("matches_label"))
      .orderBy(col("doc_id"))

  /** t05 — BPE-ish subword token counting: greedy fixed-width chunks
    * via regexp (a deterministic stand-in for a byte-pair vocabulary;
    * greedy `[a-z0-9]{1,4}` semantics agree between Java regex and
    * RE2). Whitespace tokenization is t01's counter. */
  def t05BpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]{1,4}"), lit(0))).as("n_subtokens"),
        TF.tokenCount(col("text")).as("n_words"))
      .orderBy(col("doc_id"))

  /** t04 — document fingerprint (polynomial rolling hash). */
  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** t07 — PII redaction: emails/phones synthesized deterministically
    * onto each doc, scrubbed with RE2-compatible patterns (identical
    * Java/DuckDB semantics), verified by occurrence counts and a
    * checksum of the redacted text. */
  def t07Redact(spark: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"), lit(" contact u"), col("doc_id"),
        lit("@example.org or 555-"), col("doc_id"), lit("00")).as("t"))
    withPii.select(col("doc_id"),
        TF.polyHash(TF.redactPii(col("t"))).as("redacted_fp"),
        regexp_count(col("t"), lit(TF.EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("t"), lit(TF.PhoneRe)).cast("long").as("n_phones"))
      .orderBy(col("doc_id"))
  }

  /** t08 — repetition analysis (the Dolma/RedPajama-style quality
    * signal): max multiplicity of any 3-word shingle per doc, plus
    * distinct/total shingle counts. Shingle MULTISET, not set —
    * multiplicity is the signal. Every statistic is over ONE
    * document's own shingles, so no cross-row state exists and no
    * shuffle is owed: the previous explode + two-level groupBy
    * re-shuffled every shingle STRING twice for what is a per-row
    * computation. Now one codegen'd native-kernel call per document
    * ([[graft.expressions.ShingleRepStats]] — string-exact counting,
    * no collision caveat); zero exchanges before the presentation
    * sort. An interpreted HOF sort+fold was tried first and measured
    * SLOWER than the explode form — see the expression's scaladoc. */
  def t08Repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.expressions.ShingleRepStats(col("text"), 3).as("r"))
      .filter(col("r").getItem(2) > 0) // shingle-less docs emit no row (oracle parity)
      .select(col("doc_id"), col("r").getItem(0).as("max_rep"),
        col("r").getItem(1).as("n_distinct"), col("r").getItem(2).as("n_shingles"))
      .orderBy(col("doc_id"))

  /** t06 — TF-IDF top terms per document. Classic two-aggregation
    * shape: term frequencies per (doc, term), document frequencies per
    * term, then a rank-3 window per doc. The idf is the engine-stable
    * fixed-point ⌊10⁴·N/df⌋ (a log-free inverse-frequency weight —
    * ln() differs in final-ulp between libm and the JVM, which would
    * break the cross-engine hash gate; the RANKING is identical for
    * any monotone transform of N/df). Scale shape: two hash-agg
    * shuffles (map-side combined), one shuffle join on the term key,
    * and a per-doc window — no driver-side state but the doc count. */
  def t06Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    val tf = docs.select(col("doc_id"), explode(TF.words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfTerm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(dfTerm, Seq("term"))
      .withColumn("score", col("tf") * floor(lit(10000.0) * nDocs / col("df")).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** t14 — BPE merge INDUCTION (tokenizer training, Sennrich et al.
    * ACL'16): the op that produces the merge table t05's tokenizer
    * consumes. Words are exploded to symbol sequences (initially
    * characters, space-joined with sentinel padding); each round
    * counts adjacent symbol pairs corpus-wide, takes the global argmax
    * (count desc, then lexicographic — fully deterministic), and
    * greedily merges its occurrences via leftmost non-overlapping
    * string replacement, which both engines implement with identical
    * contract. Three rounds emit the first three merge rules with
    * their support counts; the oracle unrolls the identical rounds as
    * CTEs, so the WHOLE training loop hash-gates — pair stats, argmax
    * tie-break, and the merge rewriting each round feeds the next.
    * Scale shape: per round one explode + one map-side-combined pair
    * count + a 1-row argmax to the driver (metadata — the merge RULE
    * is the output) + one narrow per-row rewrite; corpus never
    * shuffles except the pair hash-agg. At 100 TB you sample words by
    * frequency first (p06's slice) — the loop is unchanged. */
  /** One round's corpus-wide adjacent-pair counts over the symbol
    * column `s` — extracted so PlanAuditSpec can audit the plan of the
    * job t14 actually runs per round (the collected merge table itself
    * is a driver-built LocalRelation with a trivial plan). */
  private[graft] def t14PairCounts(words: DataFrame): DataFrame =
    words.select(split(trim(col("s")), " ").as("a"))
      .filter(size(col("a")) >= 2)
      .select(explode(sequence(lit(1), size(col("a")) - 1)).as("i"), col("a"))
      .select(element_at(col("a"), col("i")).as("lhs"),
        element_at(col("a"), col("i") + 1).as("rhs"))
      .groupBy(col("lhs"), col("rhs")).agg(count(lit(1)).as("n"))

  /** t14's round-0 symbol table: every corpus word exploded to its
    * space-joined character sequence (sentinel-padded). Test hook for
    * the per-round plan audit. */
  private[graft] def t14InitialSymbols(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TF.words(col("text"))).as("w"))
      .select(concat(lit(" "), array_join(split(col("w"), ""), " "), lit(" ")).as("s"))

  /** Canonical BPE merge of pair (l, r) over the symbol column `s`:
    * merge LEFTMOST NON-OVERLAPPING occurrences (Sennrich et al.
    * ACL'16's greedy rewrite). A string replace of " l r "→" lr " is
    * NOT equivalent — consecutive matches share the delimiter space,
    * so in a run like "a a a a" (or an abutting chain "l r l r")
    * Java/DuckDB `replace` skips every second occurrence and
    * under-merges. The scan lives in a codegen'd native expression
    * ([[graft.expressions.BpeMergePair]] — the interpreted
    * higher-order `aggregate` fold it replaces carried identical
    * semantics at 2.3× the wall time, see the expression scaladoc).
    * Still a narrow per-row rewrite — no shuffle, the corpus scan
    * shape is unchanged. */
  private[graft] def bpeMergeRound(df: DataFrame, l: String, r: String): DataFrame =
    df.select(graft.expressions.BpeMergePair(col("s"), l, r).as("s"))

  def t14BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    var words = t14InitialSymbols(spark, dir).localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to 3) {
      val best = t14PairCounts(words)
        .orderBy(col("n").desc, col("lhs"), col("rhs")).limit(1).head()
      val (l, r, n) = (best.getString(0), best.getString(1), best.getLong(2))
      // symbols are corpus word characters and their concatenations —
      // guard the invariant the merged-symbol literal relies on
      require((l + r).forall(c => c.isLetterOrDigit), s"unsafe symbol: '$l$r'")
      merges += ((step, l, r, n))
      words = bpeMergeRound(words, l, r).localCheckpoint()
    }
    merges.result().toDF("step", "lhs", "rhs", "n").orderBy(col("step"))
  }

  /** The t15 merge-table stage: t14's trained merge rules persisted
    * once per corpus fingerprint — the tokenizer artifact every
    * training-data pipeline ships to its encode fleet (the merges.txt
    * of a BPE tokenizer). `meta` is written last as the completeness
    * marker, mirroring [[keywordIndexStage]]; an in-place corpus
    * rewrite keys a fresh train. */
  private[queries] def stageBpeMerges(spark: SparkSession, dir: String,
      force: Boolean = false): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
    val stage = PipelineQueries.staging("t15bpe", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (force || !fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      t14BpeMerges(spark, dir).write.mode("overwrite").parquet(s"$stage/merges")
      spark.read.parquet(s"$stage/merges").agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** Test hook: retrain the persisted merge table unconditionally. */
  def rebuildBpeMergesStage(spark: SparkSession, dir: String): String =
    stageBpeMerges(spark, dir, force = true)

  /** t15 — BPE ENCODE (tokenizer APPLY): the train/apply split of the
    * tokenizer family, closing the lifecycle t14 opened (the a19→a20
    * / a11→a12 economics replayed on tokenization: t14 is the
    * expensive corpus-wide training loop; t15 is the per-document
    * encode fleet that consumes its frozen artifact). The staged
    * merge rules ([[stageBpeMerges]] — 3 rows, metadata-scale) are
    * collected to the driver and applied IN TRAINING ORDER to every
    * word occurrence as a chain of codegen'd
    * [[graft.expressions.BpeMergePair]] rewrites — exactly how a
    * production tokenizer replays merges.txt over a shard.
    *
    * Scale shape: encoding is embarrassingly parallel scan work — ONE
    * corpus pass, zero joins, zero training in the plan (PlanAuditSpec
    * pins one documents scan, two-phase agg, no pair-count rebuild);
    * the only shuffle is the map-side-combined per-doc stat aggregate.
    * A distinct-vocabulary encode (dedupe words, encode each once,
    * broadcast back) was considered and rejected: it trades the
    * shuffle-free scan for a corpus-wide distinct EXCHANGE, the wrong
    * side of the trade at 100 TB where encode is CPU-light and the
    * vocabulary join would re-shuffle every token. Output: per-doc
    * token accounting (words, post-merge subword tokens, chars) — the
    * compression the 3 learned rules buy, the curriculum/packing
    * planner's input (t11 packs on exactly these counts). */
  def t15BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val stage = stageBpeMerges(spark, dir)
    val merges = spark.read.parquet(s"$stage/merges").orderBy(col("step"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TF.words(col("text"))).as("w"))
      .withColumn("s",
        concat(lit(" "), array_join(split(col("w"), ""), " "), lit(" ")))
    val encoded = merges.foldLeft(words) { case (df, (l, r)) =>
      df.withColumn("s", graft.expressions.BpeMergePair(col("s"), l, r))
    }
    encoded
      .select(col("doc_id"), length(col("w")).cast("long").as("n_chars"),
        size(split(trim(col("s")), " ")).cast("long").as("n_sub"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** t16 — TRAINED quality classifier (the CCNet/GPT-3/FineWeb
    * pattern, all public: label a corpus with a cheap rule cascade,
    * train a linear model on it, ship the model to the filter fleet
    * because it scores in one scan and generalizes past the rules'
    * hard edges). Weak labels come from t09's Gopher-rule verdict
    * (keep = 10⁴, reject = 0); features are five small-integer
    * engine-exact signals (bias, banded word count, banded avg word
    * length, stopword hits, alpha-token permillage/10³·10); training
    * is FIVE full-batch gradient-descent rounds on squared loss in
    * fixed-point integers — wⱼ ← wⱼ + ⌊6·Σ fⱼ·(y₄−p₄) / (10³·n)⌋,
    * p₄ = Σ wⱼfⱼ — the log-free linear-probability form (a sigmoid's
    * libm exp() differs in final ulp across engines and would break
    * the hash gate; the DECISION boundary of the linear model is what
    * the pipeline consumes). The trained model reaches 92/94/86%
    * label agreement at sf0.001/0.01/0.1 — learned structure, not a
    * relabeling.
    *
    * Scale shape: this is DISTRIBUTED MODEL TRAINING in the engine's
    * own idiom — each round is ONE map-side-combined 5-sum aggregate
    * over the (checkpointed, feature-projected) corpus; the model
    * state at the driver is five longs, exactly t14's
    * metadata-sized-artifact-per-round law; final scoring is one more
    * scan. Rounds × one-aggregate is the same cost model as p21/d07
    * (PERF.md). The oracle unrolls the identical five
    * rounds as CTE chains, so the WHOLE training trajectory
    * hash-gates — features, every gradient, every floor, the final
    * decision boundary. */
  /** t16/t17's engine-exact feature projection: five small-integer
    * signals + t09's rule verdict as the 10⁴-scaled weak label. One
    * narrow per-row projection — no aggregation, no state. */
  private[queries] def qualityFeatures(spark: SparkSession, dir: String): DataFrame =
    qualityFeaturesOf(Tables.documents(spark, dir))

  /** The same projection over an arbitrary (doc_id, text, …) frame —
    * s18 scores streaming micro-batches through it. */
  private[graft] def qualityFeaturesOf(docs: DataFrame): DataFrame = {
    val stopwords = array(Seq("the", "and", "of", "is", "a").map(lit): _*)
    docs
      .select(col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_words"),
        TF.avgWordLen4(col("text")).as("avg_wlen4"),
        size(filter(TF.words(col("text")), w => w.rlike("[A-Za-z]")))
          .cast("long").as("n_alpha"),
        size(array_intersect(array_distinct(TF.words(col("text"))), stopwords))
          .cast("long").as("stop_hits"))
      .select(col("doc_id"),
        lit(1L).as("f0"),
        least(expr("n_words DIV 10"), lit(10L)).as("f1"),
        least(expr("avg_wlen4 DIV 10000"), lit(10L)).as("f2"),
        col("stop_hits").as("f3"),
        expr("(10 * n_alpha) DIV GREATEST(n_words, 1)").as("f4"),
        when(col("n_words") < 50 || col("n_words") > 100000 ||
          col("avg_wlen4") < 30000 || col("avg_wlen4") > 100000 ||
          col("n_alpha") * 5 < col("n_words") * 4 || col("stop_hits") < 2,
          lit(0L)).otherwise(lit(10000L)).as("y4"))
  }

  /** The model's scoring form: p₄ = Σ wⱼ·fⱼ with the weights as
    * literals — a codegen'd per-row dot product against driver-held
    * model state. */
  private[queries] def gdScore(w: Array[Long]): Column =
    (0 to 4).map(j => lit(w(j)) * col(s"f$j")).reduce(_ + _)

  /** The shared scoring tail over a feature frame: score4 under the
    * frozen weights, decision at the 5000 midpoint, agreement flag.
    * Unordered — callers add their presentation sort. Shared by
    * t16/t17/s18. */
  private[graft] def scoreQuality(ft: DataFrame, w: Array[Long]): DataFrame =
    ft.select(col("doc_id"), gdScore(w).as("score4"),
        (gdScore(w) >= 5000).as("pred_keep"), (col("y4") === 10000).as("label_keep"))
      .withColumn("correct", col("pred_keep") === col("label_keep"))

  /** The t16 training loop over an already-materialized feature table:
    * five full-batch squared-loss GD rounds in fixed-point integers —
    * per round ONE map-side-combined 5-sum aggregate, driver state =
    * five longs. */
  private[graft] def gdTrainWeights(ft: DataFrame, n: Long): Array[Long] = {
    var w = Array.fill(5)(0L)
    for (_ <- 1 to 5) {
      val g = ft.agg(
        sum(col("f0") * (col("y4") - gdScore(w))),
        sum(col("f1") * (col("y4") - gdScore(w))),
        sum(col("f2") * (col("y4") - gdScore(w))),
        sum(col("f3") * (col("y4") - gdScore(w))),
        sum(col("f4") * (col("y4") - gdScore(w)))).head()
      w = w.zipWithIndex.map { case (wj, j) =>
        wj + math.floor(6.0 * g.getLong(j) / (1000.0 * n)).toLong
      }
    }
    w
  }

  def t16QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val ft = qualityFeatures(spark, dir).localCheckpoint()
    val w = gdTrainWeights(ft, ft.count())
    scoreQuality(ft, w).orderBy(col("doc_id"))
  }

  /** The t17 model stage: weights trained ONCE on the corpus half
    * (even doc_ids — the a12/a20 increment protocol replayed on the
    * classifier), persisted per corpus fingerprint. The model table is
    * five (j, w) rows — the smallest stored artifact in the repo, and
    * the whole point: training cost amortizes to zero per scoring
    * fleet, and the frozen boundary is what makes scores comparable
    * across shards and days. */
  def qualityModelStage(spark: SparkSession, dir: String): String = synchronized {
    import spark.implicits._
    val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
    val stage = PipelineQueries.staging("t17model", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val ft = qualityFeatures(spark, dir)
        .filter(col("doc_id") % 2 === 0).localCheckpoint()
      val w = gdTrainWeights(ft, ft.count())
      w.toSeq.zipWithIndex.map { case (wj, j) => (j.toLong, wj) }
        .toDF("j", "w").coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/model")
      ft.agg(count(lit(1)).as("n")).write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** t17 — classifier APPLY on UNSEEN data: the staged model (trained
    * on the even corpus half, [[qualityModelStage]]) scores the odd
    * half it never saw — train/serve generalization, not relabeling
    * (the unit spec pins out-of-sample agreement ≥ 0.85). The five
    * weights are driver metadata; scoring is ONE corpus scan of a
    * codegen'd dot product — no aggregate, no join, no training in
    * the plan (PlanAuditSpec pins all three). This is the filter
    * fleet's steady state at 100 TB: the model is bytes, the corpus
    * streams through embarrassingly parallel. */
  def t17ClassifierApply(spark: SparkSession, dir: String): DataFrame = {
    val stage = qualityModelStage(spark, dir)
    val w = spark.read.parquet(s"$stage/model").orderBy(col("j"))
      .collect().map(_.getAs[Long]("w"))
    scoreQuality(qualityFeatures(spark, dir).filter(col("doc_id") % 2 === 1), w)
      .orderBy(col("doc_id"))
  }

  /** t18 — sliding-window document chunking (the RAG/passage-indexing
    * preprocessing op, and the 1→N dual of t11's N→1 packing): each
    * document becomes ⌈len/S⌉ overlapping chunks of up to W=32
    * whitespace tokens at stride S=24 (an 8-token overlap, the
    * standard retrieval-chunking shape so no passage boundary splits
    * an answer span). Emits (doc_id, chunk_idx, start_tok, n_tok,
    * chunk_hash) with chunk_hash = polyHash of the space-rejoined
    * chunk text — the chunk IDENTITY a downstream passage index (a19)
    * or chunk-level dedup keys on, without shipping the text twice.
    * Scale shape: one scan, tokenize once per row, posexplode of a
    * row-local start list (fan-out ⌈len/S⌉, bounded by doc length —
    * never corpus-sized), zero joins, zero aggregates; the only
    * shuffle is the presentation sort. At 100 TB chunking is
    * embarrassingly parallel and this plan keeps it that way
    * (PlanAuditSpec pins no-join/no-agg). Hash-exact across engines:
    * token boundaries are t01's shared `\s+` contract and the hash is
    * the shared 31-base polynomial ([[graft.expressions.PolyHash]]). */
  def t18Chunking(spark: SparkSession, dir: String): DataFrame = {
    val W = 32
    val S = 24
    Tables.documents(spark, dir)
      .select(col("doc_id"), TF.words(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(1), size(col("toks")), lit(S)))
          .as(Seq("chunk_idx", "start_tok")))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(W), size(col("toks")) - col("start_tok") + 1)
          .cast("long").as("n_tok"),
        TF.polyHash(array_join(slice(col("toks"), col("start_tok"), lit(W)), " "))
          .as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** t19 — text normalization (the standard pre-tokenization scrub
    * every ingestion pipeline runs before anything hashes or
    * tokenizes): strip C0/DEL control characters, Unicode-NFC compose
    * ([[graft.expressions.NfcNormalize]] — the JDK and DuckDB both
    * implement UAX#15, so the engines agree by construction),
    * lowercase, collapse whitespace runs to single spaces, trim. The
    * gated frame carries per document the before/after char counts, a
    * changed flag, and the 31-base polynomial fingerprint of the
    * NORMALIZED text — the identity all downstream dedup (d01's
    * lower/trim fingerprint is a special case of this chain) would key
    * on. Scale shape: scan-local codegen'd rewrites (regexp + NFC +
    * case fold are all per-row kernels), zero joins, zero aggregates,
    * zero shuffle beyond the presentation sort — embarrassingly
    * parallel at any corpus size, with NFC's ASCII fast path making
    * the normalizer free on the rows that cannot change. */
  def t19Normalize(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      lower(graft.expressions.NfcNormalize(
        regexp_replace(col("text"), "[\\x00-\\x1f\\x7f]", ""))),
      "\\s+", " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), norm.as("norm"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_raw"),
        length(col("norm")).cast("long").as("n_norm"),
        (col("norm") =!= col("text")).as("changed"),
        TF.polyHash(col("norm")).as("norm_fp"))
      .orderBy(col("doc_id"))
  }

  /** t20 — shingle novelty profile (the Heaps'-law corpus-growth
    * measurement behind "is this crawl increment worth ingesting"):
    * each document is scored by how many of its distinct 4-word
    * shingles appear for the FIRST time in doc_id order — present in
    * no lower-id document. Docs that are mostly non-novel are
    * re-crawls/boilerplate the pipeline can skip, and the per-doc
    * novel counts summed over an id slice ARE the vocabulary-growth
    * curve ΔV(n) — the saturation signal that tells a crawl operator
    * when a source is mined out. Scale shape: one map-side-combined
    * MIN aggregate builds the shingle→first-doc table (the same
    * vocabulary-sized shuffle d09 pays), the probe re-joins it on the
    * 8-byte hash, and the per-doc fold is a combinable count —
    * linear in corpus tokens, no all-pairs term, no window. */
  def t20Novelty(spark: SparkSession, dir: String): DataFrame = {
    val sets = Tables.documents(spark, dir).select(col("doc_id"),
      graft.expressions.WordShingleHashes(col("text"), 4).as("hv"))
      .filter(size(col("hv")) > 0)
    val ex = sets.select(col("doc_id"), explode(col("hv")).as("h"))
    val first = ex.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val novel = ex.join(first, Seq("h"))
      .filter(col("doc_id") === col("first_doc"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    sets.select(col("doc_id"), size(col("hv")).cast("long").as("n_shingles"))
      .join(novel, Seq("doc_id"), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("rate4",
        floor(lit(10000.0) * col("n_novel") / col("n_shingles")).cast("long"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"), col("rate4"))
      .orderBy(col("doc_id"))
  }

  /** t09 — rule-based quality filtering (the Gopher/Dolma gate, Rae et
    * al. 2021 §A1.1, adapted): word count in [50, 100k], mean word
    * length in [3, 10] chars, ≥80% words containing a letter, ≥2
    * distinct stopword hits. Emits per-doc rule inputs + the verdict
    * (first failing rule, else "keep") — the actionable form a
    * pipeline filters on. All rule math is integer/fixed-point, so the
    * verdict is engine-exact. Scan-speed: one pass, no shuffle until
    * the final order. */
  def t09QualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val stopwords = array(Seq("the", "and", "of", "is", "a").map(lit): _*)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_words"),
        TF.avgWordLen4(col("text")).as("avg_wlen4"),
        size(filter(TF.words(col("text")), w => w.rlike("[A-Za-z]")))
          .cast("long").as("n_alpha"),
        size(array_intersect(array_distinct(TF.words(col("text"))), stopwords))
          .cast("long").as("stop_hits"))
      .withColumn("verdict",
        when(col("n_words") < 50, lit("too_short"))
          .when(col("n_words") > 100000, lit("too_long"))
          .when(col("avg_wlen4") < 30000, lit("words_too_short"))
          .when(col("avg_wlen4") > 100000, lit("words_too_long"))
          .when(col("n_alpha") * 5 < col("n_words") * 4, lit("low_alpha"))
          .when(col("stop_hits") < 2, lit("few_stopwords"))
          .otherwise(lit("keep")))
      .orderBy(col("doc_id"))
  }

  /** t10 — corpus unigram-LM quality score: the engine-exact form of
    * the CCNet/Wikipedia-LM perplexity filter. Each doc is scored by
    * the mean corpus frequency of its tokens — docs dominated by
    * corpus-rare tokens score low and get the `suspect_rare` flag the
    * pipeline filters on. All weights are log-free fixed-point
    * (⌊10⁹·ctf/N⌋, integer-DIV per-doc mean): ln() differs in
    * final-ulp across libm builds and would break the hash gate, and
    * the RANKING/thresholding is identical for any monotone transform
    * of the token likelihood. Scale shape (t06's): one map-side-
    * combined hash-agg builds the vocabulary-sized frequency table,
    * tokens join it on the term key, one more hash-agg folds per-doc
    * sums — nothing quadratic, no driver state but the token count. */
  def t10UnigramLm(spark: SparkSession, dir: String): DataFrame = {
    val tokens = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TF.words(col("text"))).as("term"))
    val total = tokens.count()
    val freq = tokens.groupBy(col("term")).agg(count(lit(1)).as("ctf"))
      .select(col("term"),
        floor(lit(1000000000.0) * col("ctf") / lit(total.toDouble)).cast("long").as("w"))
    tokens.join(freq, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("sum_w"))
      .withColumn("lm_score", expr("sum_w DIV n_tokens"))
      .withColumn("suspect_rare", col("lm_score") < 33000000L)
      .select(col("doc_id"), col("n_tokens"), col("lm_score"), col("suspect_rare"))
      .orderBy(col("doc_id"))
  }

  /** t13 — corpus BIGRAM-LM quality score, t10's CCNet-style filter
    * upgraded to conditional probabilities: each adjacent word pair
    * (w1, w2) scores the fixed-point estimate
    * ⌊10⁶·c(w1 w2)/c(w1·)⌋ — c(w1·) is w1's bigram-PREFIX count, so
    * the per-prefix estimates sum to 1 and the score is a true
    * P(w2|w1) analog — and a document's score is the integer mean
    * over its bigrams. Low scores flag incoherent word salad that
    * unigram frequency alone cannot see (every word common, no pair
    * common). Log-free fixed-point keeps the gate engine-exact
    * (libm ln differs in final ulp). Scale shape: one bigram explode
    * (volume = token count), two map-side-combined hash-aggs for the
    * bigram/prefix vocabularies, two equi-joins back — linear,
    * vocabulary-sized side state, t10's proven shape. */
  def t13BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), TF.words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(sequence(lit(1), size(col("w")) - 1)).as("i"),
        col("w"))
      .select(col("doc_id"),
        element_at(col("w"), col("i")).as("w1"),
        concat_ws(" ", element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1)).as("bg"))
    val c12 = bg.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    bg.join(c12, Seq("bg")).join(c1, Seq("w1"))
      .withColumn("wgt", floor(lit(1000000.0) * col("c12") / col("c1")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("wgt")).as("sum_w"))
      .withColumn("lm_score", expr("sum_w DIV n_bigrams"))
      .withColumn("suspect_incoherent", col("lm_score") < 33000L)
      .select(col("doc_id"), col("n_bigrams"), col("lm_score"),
        col("suspect_incoherent"))
      .orderBy(col("doc_id"))
  }

  /** t12 — boilerplate shingle REMOVAL, the apply-form companion to
    * d10's detection: a 3-word shingle is boilerplate when it appears
    * in ≥ max(5, 1% of corpus) distinct docs (the CCNet-style relative
    * frequency rule), and every word covered by a boilerplate shingle
    * occurrence is dropped from its document. Emits per-doc counts and
    * the fingerprint of the scrubbed text — the form a cleaning stage
    * writes back. All array algebra rides codegen'd higher-order
    * functions; the word-coverage test is interval overlap against the
    * doc's (tiny) common-start list. Scale shape: one positional-
    * shingle explode, a map-side-combined df hash-agg, one equi-join
    * back on the 8-byte shingle hash, one coverage pass — linear,
    * vocabulary-sized side state, no driver data but the doc count. */
  def t12BoilerplateRemoval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), TF.words(col("text")).as("w"))
    val minDf = math.max(5L, docs.count() / 100)
    // materialize the positional shingle-hash table ONCE: three
    // consumers read it (df counting, covered-start collection, the
    // final rewrite join), and the interpreted transform lambda over
    // every start position is the query's dominant kernel — at scale
    // this is the persisted shingle table a boilerplate pipeline
    // maintains anyway (a08/d12's localCheckpoint convention)
    val withSh = docs.withColumn("sh",
      when(size(col("w")) >= 3,
        transform(sequence(lit(0), size(col("w")) - 3),
          j => TF.polyHash(concat_ws(" ", slice(col("w"), j + 1, lit(3))))))
        .otherwise(array().cast("array<bigint>")))
      .localCheckpoint()
    val starts = withSh.select(col("doc_id"), posexplode(col("sh")))
    val common = starts.groupBy(col("col"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf).select(col("col").as("h"))
    val cstarts = starts.join(common, starts("col") === common("h"))
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("cs"))
    // expand each common start j to its covered positions {j, j+1, j+2}
    // and keep positions via one native set-difference — array_except
    // hashes the covered set once per row (and preserves the left
    // array's order), replacing the previous per-word `exists` lambda
    // scan whose O(words·|cs|) interpreted evals dominated the query
    // (output bit-identical, same oracle; with the checkpoint above,
    // 7.9 → 3.3 s at sf0.1)
    withSh.join(cstarts, Seq("doc_id"), "left")
      .withColumn("cs", coalesce(col("cs"), array().cast("array<int>")))
      .withColumn("keptIdx", array_except(
        sequence(lit(0), size(col("w")) - 1),
        flatten(transform(col("cs"), j => array(j, j + 1, j + 2)))))
      .select(col("doc_id"), size(col("w")).as("n_words"),
        (size(col("w")) - size(col("keptIdx"))).as("n_removed"),
        TF.polyHash(concat_ws(" ",
          transform(col("keptIdx"), i => element_at(col("w"), i + 1)))).as("kept_fp"))
      .orderBy(col("doc_id"))
  }

  /** t11 — sequence packing (the batch-shaping step before training:
    * concatenate docs into fixed token budgets): greedy first-fit with
    * the reference's exact batching semantics ([[graft.sources
    * .GreedyBatcher]] — `>=` cap trigger, oversized singletons),
    * packed INDEPENDENTLY per language shard via typed
    * `flatMapGroups`. Packing is inherently sequential WITHIN a
    * stream, so the scale unit is the shard: shards pack in parallel
    * (one shuffle on the shard key), and a production corpus keys
    * shards finer — (source, day) — to bound per-group state; the
    * fold itself is O(docs-in-shard) with O(1) working memory. Output:
    * per (lang, batch) doc count + token sum, cap = 512. */
  def t11SeqPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cap = 512L
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tok"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (lang, it) =>
        val docs = it.toVector.sortBy(_._2) // deterministic: doc_id order
        val ids = graft.sources.GreedyBatcher.assign(docs.map(_._3), cap)
        docs.lazyZip(ids).map { case ((_, did, nt), b) => (lang, b.toLong, did, nt) }
      }
      .toDF("lang", "batch_id", "doc_id", "n_tok")
      .groupBy(col("lang"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("batch_tokens"))
      .orderBy(col("lang"), col("batch_id"))
  }

  /** One canonical-BPE training round as DuckDB CTEs: pair counts over
    * w{i-1}, argmax b$i, then the LEFTMOST NON-OVERLAPPING merge
    * rewrite producing w$i — the positional twin of the Spark side's
    * pending-symbol fold ([[bpeMergeRound]]). DuckDB's list_reduce
    * can't carry a struct accumulator, so the fold is expressed
    * positionally instead: a position is a merge START iff it heads a
    * candidate pair (a[i]=l ∧ a[i+1]=r) at ODD distance from the last
    * non-candidate position — within a run of consecutive candidates
    * (only possible when l=r) the leftmost-greedy scan takes every
    * other one, which is exactly streak-parity; a position is DROPPED
    * iff its predecessor was taken (it is the right half of a merge). */
  private[queries] def bpeRoundCtes(i: Int): String =
    s"""a$i AS (SELECT wid, string_split(trim(s), ' ') AS a FROM w${i - 1}),
       |p$i AS (SELECT a[_i] AS lhs, a[_i+1] AS rhs, COUNT(*) AS n
       |  FROM a$i, unnest(range(1, len(a))) tt(_i) GROUP BY 1, 2),
       |b$i AS (SELECT lhs, rhs, n FROM p$i ORDER BY n DESC, lhs, rhs LIMIT 1),
       |u$i AS (SELECT wid, _i, a[_i] AS sym,
       |    (_i < len(a) AND a[_i] = b$i.lhs AND a[_i+1] = b$i.rhs) AS cand
       |  FROM a$i CROSS JOIN b$i, unnest(range(1, len(a)+1)) tt(_i)),
       |v$i AS (SELECT wid, _i, sym, cand AND (
       |    (_i - COALESCE(MAX(CASE WHEN NOT cand THEN _i END) OVER (
       |      PARTITION BY wid ORDER BY _i ROWS UNBOUNDED PRECEDING), 0)) % 2 = 1
       |    ) AS taken FROM u$i),
       |n$i AS (SELECT v.wid, v._i,
       |    CASE WHEN v.taken THEN b$i.lhs || b$i.rhs ELSE v.sym END AS osym,
       |    COALESCE(LAG(v.taken) OVER (PARTITION BY v.wid ORDER BY v._i),
       |      FALSE) AS dropped
       |  FROM v$i v CROSS JOIN b$i),
       |w$i AS (SELECT wid, ' ' || string_agg(osym, ' ' ORDER BY _i) || ' ' AS s
       |  FROM n$i WHERE NOT dropped GROUP BY wid)""".stripMargin

  /** t16/t17's shared feature CTEs — ends in `ftall(doc_id, f0..f4,
    * y4)`, the DuckDB twin of [[qualityFeatures]]. */
  private[queries] lazy val qualityFtCtes: String =
    s"""s AS (SELECT doc_id,
       |    CAST(len(${words("text")}) AS BIGINT) AS n_words,
       |    CAST(floor(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) * 10000
       |      / len(${words("text")})) AS BIGINT) AS avg_wlen4,
       |    CAST(len(list_filter(${words("text")}, _qw -> regexp_matches(_qw, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
       |    CAST(len(list_intersect(list_distinct(${words("text")}), ['the','and','of','is','a'])) AS BIGINT) AS stop_hits
       |  FROM documents),
       |ftall AS (SELECT doc_id, CAST(1 AS BIGINT) AS f0,
       |    LEAST(n_words // 10, 10) AS f1,
       |    LEAST(avg_wlen4 // 10000, 10) AS f2,
       |    stop_hits AS f3,
       |    (10 * n_alpha) // GREATEST(n_words, 1) AS f4,
       |    CASE WHEN n_words < 50 OR n_words > 100000
       |         OR avg_wlen4 < 30000 OR avg_wlen4 > 100000
       |         OR n_alpha * 5 < n_words * 4 OR stop_hits < 2
       |      THEN CAST(0 AS BIGINT) ELSE CAST(10000 AS BIGINT) END AS y4
       |  FROM s)""".stripMargin

  /** One t16 gradient-descent round as DuckDB CTEs: score every row
    * under w{i-1}, fold the five per-feature gradient sums, emit w$i
    * under the identical fixed-point update law the Spark driver loop
    * applies — the training TRAJECTORY hash-gates, not just the last
    * model. */
  private[queries] def gdRoundCtes(i: Int): String = {
    val pw = s"w${i - 1}"
    s"""p$i AS (SELECT ft.*,
       |    $pw.w0*f0 + $pw.w1*f1 + $pw.w2*f2 + $pw.w3*f3 + $pw.w4*f4 AS p
       |  FROM ft CROSS JOIN $pw),
       |g$i AS (SELECT ${(0 to 4).map(j => s"SUM(f$j*(y4-p)) AS g$j").mkString(", ")}
       |  FROM p$i),
       |w$i AS (SELECT ${(0 to 4).map(j =>
           s"$pw.w$j + CAST(floor(6.0*g$i.g$j/(1000.0*nn.n)) AS BIGINT) AS w$j")
           .mkString(",\n       |    ")}
       |  FROM $pw CROSS JOIN g$i CROSS JOIN nn)""".stripMargin
  }

  /** This family's slice of the oracle-SQL map (split from the
    * single oracleSqlBase literal; composed back in
    * [[AnalyticsQueries.oracleSqlBase]]). */
  private[queries] lazy val textOracles: Map[String, String] = Map(
    "t01_token_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(${words("text")})) AS BIGINT) AS total_tokens,
         |  MIN(len(${words("text")})) AS min_tokens,
         |  MAX(len(${words("text")})) AS max_tokens
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "t02_quality" ->
      s"""SELECT doc_id, length(text) AS n_chars_m,
         |  len(${words("text")}) AS n_words,
         |  CAST(floor(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) * 10000
         |    / len(${words("text")})) AS BIGINT) AS avg_wlen4,
         |  CAST(floor(CAST(len(list_distinct(${words("text")})) AS DOUBLE) * 10000
         |    / len(${words("text")})) AS BIGINT) AS diversity4
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t03_lang_id" ->
      s"""WITH s AS (SELECT doc_id, lang,
         |  len(list_intersect(list_distinct(${words("text")}), ['the','and','of','is','a'])) AS en,
         |  len(list_intersect(list_distinct(${words("text")}), ['der','die','und','ist','ein'])) AS de,
         |  len(list_intersect(list_distinct(${words("text")}), ['el','la','que','los','una'])) AS es,
         |  len(list_intersect(list_distinct(${words("text")}), ['le','et','les','dans','une'])) AS fr
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN en = 0 AND de = 0 AND es = 0 AND fr = 0 THEN 'und'
         |       WHEN en >= de AND en >= es AND en >= fr THEN 'en'
         |       WHEN de >= es AND de >= fr THEN 'de'
         |       WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred_lang,
         |  (CASE WHEN en = 0 AND de = 0 AND es = 0 AND fr = 0 THEN 'und'
         |       WHEN en >= de AND en >= es AND en >= fr THEN 'en'
         |       WHEN de >= es AND de >= fr THEN 'de'
         |       WHEN es >= fr THEN 'es' ELSE 'fr' END) = lang AS matches_label
         |FROM s ORDER BY doc_id""".stripMargin,
    "t04_fingerprint" ->
      s"""SELECT doc_id, ${polyHash("trim(text)")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t05_bpe_tokens" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '[a-z0-9]{1,4}')) AS n_subtokens,
         |  len(${words("text")}) AS n_words
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t06_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest(${words("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
         |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |s AS (SELECT tf.doc_id, tf.term, tf.tf, dft.df,
         |    tf.tf * CAST(floor(10000.0 * n.n / dft.df) AS BIGINT) AS score
         |  FROM tf JOIN dft USING (term) CROSS JOIN n),
         |r AS (SELECT doc_id, term, tf, df, score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
         |  FROM s)
         |SELECT doc_id, rank, term, tf, df, score FROM r
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "t07_redact" ->
      s"""WITH p AS (SELECT doc_id,
         |  text || ' contact u' || CAST(doc_id AS VARCHAR) ||
         |    '@example.org or 555-' || CAST(doc_id AS VARCHAR) || '00' AS t
         |  FROM documents)
         |SELECT doc_id,
         |  ${polyHash("regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{3}-[0-9]{3,}', '<PHONE>', 'g')")} AS redacted_fp,
         |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3,}')) AS BIGINT) AS n_phones
         |FROM p ORDER BY doc_id""".stripMargin,
    "t08_repetition" ->
      s"""WITH w AS (SELECT doc_id, ${words("text")} AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(w)-2),
         |    _si -> array_to_string(w[_si:_si+2], ' '))) AS s FROM w),
         |m AS (SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY 1, 2)
         |SELECT doc_id, MAX(c) AS max_rep, COUNT(*) AS n_distinct,
         |  CAST(SUM(c) AS BIGINT) AS n_shingles
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t09_quality_filter" ->
      s"""WITH s AS (SELECT doc_id,
         |    CAST(len(${words("text")}) AS BIGINT) AS n_words,
         |    CAST(floor(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) * 10000
         |      / len(${words("text")})) AS BIGINT) AS avg_wlen4,
         |    CAST(len(list_filter(${words("text")}, _qw -> regexp_matches(_qw, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
         |    CAST(len(list_intersect(list_distinct(${words("text")}), ['the','and','of','is','a'])) AS BIGINT) AS stop_hits
         |  FROM documents)
         |SELECT doc_id, n_words, avg_wlen4, n_alpha, stop_hits,
         |  CASE WHEN n_words < 50 THEN 'too_short'
         |       WHEN n_words > 100000 THEN 'too_long'
         |       WHEN avg_wlen4 < 30000 THEN 'words_too_short'
         |       WHEN avg_wlen4 > 100000 THEN 'words_too_long'
         |       WHEN n_alpha * 5 < n_words * 4 THEN 'low_alpha'
         |       WHEN stop_hits < 2 THEN 'few_stopwords'
         |       ELSE 'keep' END AS verdict
         |FROM s ORDER BY doc_id""".stripMargin,
    "t12_boilerplate_removal" ->
      s"""WITH w AS (SELECT doc_id, ${words("text")} AS w FROM documents),
         |sh AS (SELECT doc_id, list_transform(range(0, len(w)-2),
         |    _j -> ${polyHash("array_to_string(w[_j+1:_j+3], ' ')")}) AS sh FROM w),
         |st AS (SELECT doc_id, u.p AS pos, u.h AS h FROM sh,
         |  unnest(list_transform(range(0, len(sh)), _k -> {'p': _k, 'h': sh[_k+1]})) AS t(u)),
         |common AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM st GROUP BY h)
         |  WHERE df >= GREATEST(5, (SELECT COUNT(*) FROM documents) // 100)),
         |cs AS (SELECT doc_id, list(DISTINCT pos) AS cs FROM st JOIN common USING (h)
         |  GROUP BY doc_id),
         |j AS (SELECT w.doc_id, w.w, COALESCE(cs.cs, []) AS cs
         |  FROM w LEFT JOIN cs ON w.doc_id = cs.doc_id),
         |k AS (SELECT doc_id, len(w) AS n_words,
         |    list_transform(list_filter(range(0, len(w)),
         |      _i -> len(list_filter(cs, _cj -> _cj <= _i AND _cj + 2 >= _i)) = 0),
         |      _ki -> w[_ki+1]) AS kept
         |  FROM j)
         |SELECT doc_id, n_words, n_words - len(kept) AS n_removed,
         |  ${polyHash("array_to_string(kept, ' ')")} AS kept_fp
         |FROM k ORDER BY doc_id""".stripMargin,
    "t10_unigram_lm" ->
      s"""WITH t AS (SELECT doc_id, unnest(${words("text")}) AS term FROM documents),
         |n AS (SELECT COUNT(*) AS total FROM t),
         |freq AS (SELECT term,
         |    CAST(floor(1000000000.0 * COUNT(*) / ANY_VALUE(n.total)) AS BIGINT) AS w
         |  FROM t CROSS JOIN n GROUP BY term),
         |s AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(w) AS sum_w
         |  FROM t JOIN freq USING (term) GROUP BY doc_id)
         |SELECT doc_id, n_tokens, CAST(sum_w // n_tokens AS BIGINT) AS lm_score,
         |  (sum_w // n_tokens) < 33000000 AS suspect_rare
         |FROM s ORDER BY doc_id""".stripMargin,
    // bigram-LM mirror: bigrams at 1-based positions 1..len-1, prefix
    // counts from the same bigram table so estimates sum to 1; same
    // fixed-point floor arithmetic on identical double operands
    "t13_bigram_lm" ->
      s"""WITH wd AS (SELECT doc_id, ${words("text")} AS w FROM documents),
         |wf AS (SELECT doc_id, w FROM wd WHERE len(w) >= 2),
         |b AS (SELECT doc_id, w[_bi] AS w1, w[_bi] || ' ' || w[_bi + 1] AS bg
         |  FROM wf, unnest(range(1, len(w))) AS t(_bi)),
         |c12 AS (SELECT bg, COUNT(*) AS c12 FROM b GROUP BY 1),
         |c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
         |s AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         |    SUM(CAST(floor(1000000.0 * c12 / c1) AS BIGINT)) AS sum_w
         |  FROM b JOIN c12 USING (bg) JOIN c1 USING (w1) GROUP BY 1)
         |SELECT doc_id, n_bigrams, CAST(sum_w // n_bigrams AS BIGINT) AS lm_score,
         |  (sum_w // n_bigrams) < 33000 AS suspect_incoherent
         |FROM s ORDER BY doc_id""".stripMargin,
    // the identical 3-round BPE loop unrolled: chars → pair counts →
    // argmax (count desc, lexicographic) → CANONICAL leftmost
    // non-overlapping merge (streak-parity positional rewrite,
    // bpeRoundCtes) → repeat; each round's rewrite feeds the next
    "t14_bpe_merges" ->
      s"""WITH t AS (SELECT unnest(${words("text")}) AS w FROM documents),
         |w0 AS (SELECT ROW_NUMBER() OVER () AS wid,
         |    ' ' || array_to_string(list_transform(
         |    range(1, length(w)+1), _i -> substr(w, _i, 1)), ' ') || ' ' AS s FROM t),
         |${bpeRoundCtes(1)},
         |${bpeRoundCtes(2)},
         |${bpeRoundCtes(3)}
         |SELECT 1 AS step, * FROM b1 UNION ALL SELECT 2, * FROM b2
         |UNION ALL SELECT 3, * FROM b3 ORDER BY step""".stripMargin,
    // the whole train→apply path recomputed inline: the identical
    // 3-round training chain (t14's CTEs, whose per-round rewrite
    // already encodes every word occurrence), then per-doc accounting
    // over the final rewrite w3 — wid ties each occurrence back to its
    // doc. The oracle proves encode-over-the-stored-merge-table ≡
    // encode-under-the-training-loop.
    "t15_bpe_encode" ->
      s"""WITH t AS (SELECT doc_id, unnest(${words("text")}) AS w FROM documents),
         |tw AS (SELECT doc_id, w, ROW_NUMBER() OVER () AS wid FROM t),
         |w0 AS (SELECT wid,
         |    ' ' || array_to_string(list_transform(
         |    range(1, length(w)+1), _i -> substr(w, _i, 1)), ' ') || ' ' AS s FROM tw),
         |${bpeRoundCtes(1)},
         |${bpeRoundCtes(2)},
         |${bpeRoundCtes(3)},
         |enc AS (SELECT wid,
         |    CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_sub FROM w3)
         |SELECT tw.doc_id, COUNT(*) AS n_words,
         |  CAST(SUM(enc.n_sub) AS BIGINT) AS n_tokens,
         |  CAST(SUM(length(tw.w)) AS BIGINT) AS n_chars
         |FROM tw JOIN enc USING (wid)
         |GROUP BY tw.doc_id ORDER BY tw.doc_id""".stripMargin,
    // the identical 5-round full-batch GD unrolled: t09's features and
    // verdict as weak labels, each round one gradient fold + the
    // fixed-point weight update, final scoring under w5 — every
    // gradient and every floor hash-gates alongside the decision
    // boundary
    "t16_quality_classifier" ->
      s"""WITH $qualityFtCtes,
         |ft AS (SELECT * FROM ftall),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ft),
         |w0 AS (SELECT ${(0 to 4).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")}),
         |${gdRoundCtes(1)},
         |${gdRoundCtes(2)},
         |${gdRoundCtes(3)},
         |${gdRoundCtes(4)},
         |${gdRoundCtes(5)},
         |pf AS (SELECT ft.doc_id,
         |    w5.w0*f0 + w5.w1*f1 + w5.w2*f2 + w5.w3*f3 + w5.w4*f4 AS score4,
         |    y4 FROM ft CROSS JOIN w5)
         |SELECT doc_id, score4, score4 >= 5000 AS pred_keep,
         |  y4 = 10000 AS label_keep,
         |  (score4 >= 5000) = (y4 = 10000) AS correct
         |FROM pf ORDER BY doc_id""".stripMargin,
    // the train/serve split recomputed inline: the identical 5 GD
    // rounds over the EVEN corpus half only, the frozen w5 then scores
    // the odd half it never saw — stored-model apply ≡ the definition
    "t17_classifier_apply" ->
      s"""WITH $qualityFtCtes,
         |ft AS (SELECT * FROM ftall WHERE doc_id % 2 = 0),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ft),
         |w0 AS (SELECT ${(0 to 4).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")}),
         |${gdRoundCtes(1)},
         |${gdRoundCtes(2)},
         |${gdRoundCtes(3)},
         |${gdRoundCtes(4)},
         |${gdRoundCtes(5)},
         |fo AS (SELECT * FROM ftall WHERE doc_id % 2 = 1),
         |pf AS (SELECT fo.doc_id,
         |    w5.w0*f0 + w5.w1*f1 + w5.w2*f2 + w5.w3*f3 + w5.w4*f4 AS score4,
         |    y4 FROM fo CROSS JOIN w5)
         |SELECT doc_id, score4, score4 >= 5000 AS pred_keep,
         |  y4 = 10000 AS label_keep,
         |  (score4 >= 5000) = (y4 = 10000) AS correct
         |FROM pf ORDER BY doc_id""".stripMargin,
    // first-occurrence attribution recomputed from scratch: shingle →
    // MIN(doc_id), probe re-joined, novel = shingles this doc is the
    // minimum for (d09's shingle CTE reused verbatim)
    "t20_novelty" ->
      s"""WITH hs AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(${words("text")})-3),
         |    i -> ${polyHash(s"array_to_string(${words("text")}[i:i+3], ' ')")})) AS hv
         |  FROM documents),
         |s AS (SELECT doc_id, hv, len(hv) AS n_shingles FROM hs WHERE len(hv) > 0),
         |ex AS (SELECT doc_id, unnest(hv) AS h FROM s),
         |f AS (SELECT h, MIN(doc_id) AS first_doc FROM ex GROUP BY h),
         |nv AS (SELECT ex.doc_id, COUNT(*) AS n_novel FROM ex JOIN f USING (h)
         |  WHERE ex.doc_id = f.first_doc GROUP BY ex.doc_id)
         |SELECT s.doc_id, s.n_shingles, COALESCE(nv.n_novel, 0) AS n_novel,
         |  CAST(floor(10000.0 * COALESCE(nv.n_novel, 0) / s.n_shingles) AS BIGINT)
         |    AS rate4
         |FROM s LEFT JOIN nv USING (doc_id) ORDER BY s.doc_id""".stripMargin,
    // the same scrub chain: control strip → nfc_normalize (DuckDB's
    // UAX#15 twin of the engine's JDK kernel) → lower → whitespace
    // collapse (RE2 needs the explicit 'g' flag; Spark's
    // regexp_replace is global by default) → trim
    "t19_normalize" ->
      s"""WITH nm AS (SELECT doc_id, text,
         |    trim(regexp_replace(lower(nfc_normalize(
         |      regexp_replace(text, '[\\x00-\\x1f\\x7f]', '', 'g'))),
         |      '\\s+', ' ', 'g')) AS norm
         |  FROM documents)
         |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_raw,
         |  CAST(length(norm) AS BIGINT) AS n_norm,
         |  norm <> text AS changed,
         |  ${polyHash("norm")} AS norm_fp
         |FROM nm ORDER BY doc_id""".stripMargin,
    // sliding-window chunking: starts at 1, 1+24, … (⌈len/24⌉ chunks);
    // DuckDB list slice is inclusive-both-ends, so [s : s+31] is the
    // 32-token window matching Spark's slice(toks, s, 32)
    "t18_chunking" ->
      s"""WITH w AS (SELECT doc_id, ${words("text")} AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |    unnest(range(0, (len(toks) + 23) // 24)) AS chunk_idx FROM w),
         |s AS (SELECT doc_id, toks, chunk_idx,
         |    1 + chunk_idx * 24 AS start_tok FROM c),
         |ch AS (SELECT doc_id, chunk_idx, start_tok,
         |    least(32, len(toks) - start_tok + 1) AS n_tok,
         |    array_to_string(toks[CAST(start_tok AS BIGINT):CAST(start_tok + 31 AS BIGINT)], ' ') AS chunk
         |  FROM s)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(n_tok AS BIGINT) AS n_tok,
         |  ${polyHash("chunk")} AS chunk_hash
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    // per-lang greedy packing state machine — the x10 recursive-CTE
    // parity encoding, partitioned by the shard key
    "t11_seq_pack" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT lang, CAST(len(${words("text")}) AS BIGINT) AS n_tok,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         |  FROM documents
         |), packed AS (
         |  SELECT lang, rn, n_tok, CAST(0 AS BIGINT) AS batch_id,
         |    n_tok AS acc, n_tok >= 512 AS closed
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.lang, d.rn, d.n_tok,
         |    CASE WHEN p.closed OR p.acc + d.n_tok >= 512 THEN p.batch_id + 1
         |         ELSE p.batch_id END AS batch_id,
         |    CASE WHEN p.closed OR p.acc + d.n_tok >= 512 THEN d.n_tok
         |         ELSE p.acc + d.n_tok END AS acc,
         |    CASE WHEN p.closed THEN d.n_tok >= 512
         |         WHEN p.acc + d.n_tok >= 512 THEN d.n_tok >= 512
         |         ELSE FALSE END AS closed
         |  FROM d JOIN packed p ON d.lang = p.lang AND d.rn = p.rn + 1
         |)
         |SELECT lang, batch_id, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS batch_tokens
         |FROM packed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )

}
