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

/** Keyword / passage / hybrid / MMR retrieval family (a17, a19-a26) — one slice of [[AnalyticsQueries]], split along
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
private[queries] trait RetrievalFamily { this: AnalyticsQueries.type =>

  import Sql._

  /** a17 — HYBRID retrieval (keyword ⊕ vector) with reciprocal-rank
    * fusion, the production search-serving shape (the "hybrid mode"
    * every retrieval stack converged on; RRF: Cormack et al.,
    * SIGIR'09): two independent channels each retrieve top-20
    * candidates per query — an inverted-index keyword channel scored
    * by tf·idf impact (t06's engine-stable fixed-point idf
    * ⌊10⁴·N/df⌋), and an embedding channel scored by exact cosine
    * (a01's bounded-heap top-k) — then fusion merges them by RANK,
    * not score: fused = Σ_channels ⌊10⁶/(60+rank)⌋ (60 = the standard
    * RRF damping constant), integer division on both engines so the
    * fusion is integer-exact. Ranks crossing the channel boundary is
    * the point of RRF — the two channels' score scales are
    * incomparable and never need calibrating. Scale shape: the query
    * side of BOTH channels broadcasts (10 query docs); the keyword
    * channel probes the corpus term index with an equi-join on term
    * (Σ_t df(t) candidate pairs — linear in corpus size, never
    * all-pairs), the vector channel is a01's broadcast-NLJ scan; each
    * channel's top-k is a [[graft.expressions.TopKByScore]] bounded
    * heap (shuffle = queries×k, map-side reduced); fusion full-outer
    * joins two 20-row-per-query sets — metadata-scale. At 100 TB the
    * term index and the ANN index are the persisted artifacts (p15 /
    * a13 show those lifecycles); the fusion plan is unchanged. */
  def a17HybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{DoubleSortKey, TopKByScore}
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    // keyword channel: corpus term index (doc, term, tf·idf impact)
    val tf = docs.select(col("doc_id"), explode(TF.words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfTerm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idx = tf.join(dfTerm, Seq("term"))
      .withColumn("impact",
        col("tf") * floor(lit(10000.0) * nDocs / col("df")).cast("long"))
    val qTerms = idx.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("term")).distinct()
    val kwTop = idx.join(broadcast(qTerms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("impact")).as("kw_score"))
      .groupBy(col("query_id"))
      .agg(TopKByScore(col("kw_score"), col("doc_id"), 20).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("kw_rank"),
        col("col.id").as("doc_id"))
    // vector channel: exact cosine over the doc embeddings (vec_id
    // aligns with doc_id; ids past the doc count are not documents)
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < nDocs)
      .select(col("vec_id"), col("embedding"), Vectors.normSq(col("embedding")).as("nsq"))
    val qv = e.filter(col("vec_id") < 10).toDF("query_id", "qe", "qn")
    val vecTop = e.toDF("doc_id", "ce", "cn")
      .join(broadcast(qv), col("query_id") =!= col("doc_id"))
      .withColumn("sim", Vectors.cosine(col("qe"), col("ce"), col("qn"), col("cn")))
      .groupBy(col("query_id"))
      .agg(TopKByScore(DoubleSortKey(col("sim")), col("doc_id"), 20).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("vec_rank"),
        col("col.id").as("doc_id"))
    // reciprocal-rank fusion: integer division keeps it engine-exact
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    kwTop.join(vecTop, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", expr(
        "CAST(coalesce(1000000 DIV (60 + kw_rank), 0) + " +
          "coalesce(1000000 DIV (60 + vec_rank), 0) AS BIGINT)"))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("kw_rank"), col("vec_rank"), col("rrf_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The a19 inverted-index BUILD stage — the keyword channel's
    * build/search split (the a09→a11 economics replayed on text: a17
    * recomputes tf/df from the corpus on every call; a19 reads a
    * persisted term-impact index). One corpus pass writes the standard
    * impact-ordered inverted-index layout the WAND/MaxScore family
    * (Broder et al. CIKM'03; Ding & Suel SIGIR'11 — public) assumes:
    *
    *  - `terms` (term, term_id, df, idf, max_impact): the dictionary.
    *    term_id is the dense lexicographic rank — strings never cross
    *    the search-time wire; df drives static pruning; max_impact
    *    (max-tf · idf) is the per-term score upper bound dynamic
    *    WAND pruning would consume. The dictionary is vocabulary-
    *    sized (Heaps' law: ~√corpus), so its build window sort and
    *    its search-time broadcast are both sub-corpus-scale.
    *  - `postings` (term_id, doc_id, impact): fixed-point tf·idf
    *    impacts under t06's engine-exact ⌊10⁴·N/df⌋ law,
    *    range-partitioned and SORTED by term_id so a query's IN-list
    *    predicate prunes parquet row groups to exactly the probed
    *    posting lists — the columnar analog of seeking to a term's
    *    posting list, and the property that makes search cost track
    *    Σ df(kept terms) instead of corpus tokens.
    *  - `meta` (n): written last as the completeness marker.
    *
    * Keyed by a content fingerprint of documents.parquet, so an
    * in-place-regenerated corpus invalidates the stage. */
  def keywordIndexStage(spark: SparkSession, dir: String): String =
    stageKwIndexTable(spark, dir, "a19kw", lit(true))

  /** ONE builder for every persisted keyword-index layout (a19 full
    * table, a20 even-half base, a35's odd-half segment): tokenize the
    * selected documents ONCE into (doc_id, term, tf), derive the
    * dictionary + term_id-sorted postings via [[writeKwLayout]], and
    * write `meta` (n, max_term_id) LAST as the completeness marker
    * (crash-path contract: StagingProtocolSpec). Keyed by a content
    * fingerprint of documents.parquet. */
  private[queries] def stageKwIndexTable(spark: SparkSession, dir: String,
      tag: String, docFilter: Column): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
    val stage = PipelineQueries.staging(tag, s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val docs = Tables.documents(spark, dir).filter(docFilter)
      val n = docs.count()
      val tf = docs.select(col("doc_id"), explode(TF.words(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val maxId = writeKwLayout(spark, stage, tf, n)
        .agg(max(col("term_id"))).head.getLong(0)
      docs.agg(count(lit(1)).as("n")).withColumn("max_term_id", lit(maxId))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** The standard impact-ordered inverted-index layout from a
    * (doc_id, term, tf) frame: dictionary with dense lexicographic
    * term_ids and ⌊10⁴·n/df⌋ idfs, postings range-partitioned + SORTED
    * by term_id. Shared by the fresh builders ([[stageKwIndexTable]])
    * and the a35 compaction-with-restat (which feeds it tf RECOVERED
    * from stored impacts) — the "compaction ≡ fresh build" pin is this
    * function being the only writer. Returns the read-back terms frame
    * LAZILY — most callers (the daemon/lifecycle merges) only write the
    * layout and discard it, and the old eager `max(term_id)` read-back
    * cost one fixed job per call for a value nobody consumed (r17
    * §1.2: per-action fixed costs dominate the daemon keys); the two
    * stage builders that persist max_term_id run the agg themselves.
    * The caller writes its own meta LAST. */
  private[queries] def writeKwLayout(spark: SparkSession, stage: String,
      tf0: DataFrame, n: Long): DataFrame = {
    // the input feeds TWO passes below (dictionary, then postings):
    // materialize it once unless the caller already did (a
    // localCheckpoint's plan is a LogicalRDD scan) — merge unions and
    // recover-tf plans would otherwise execute end-to-end twice
    val tf = tf0.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => tf0
      case _ => tf0.localCheckpoint()
    }
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"))
      .withColumn("term_id",
        row_number().over(Window.orderBy(col("term"))).cast("long"))
      .withColumn("idf", floor(lit(10000.0) * n / col("df")).cast("long"))
      .select(col("term"), col("term_id"), col("df"), col("idf"),
        (col("max_tf") * col("idf")).as("max_impact"))
      .write.mode("overwrite").parquet(s"$stage/terms")
    val terms = spark.read.parquet(s"$stage/terms")
    tf.join(terms.select(col("term"), col("term_id"), col("idf")), Seq("term"))
      .select(col("term_id"), col("doc_id"), (col("tf") * col("idf")).as("impact"))
      .repartitionByRange(4, col("term_id"))
      .sortWithinPartitions(col("term_id"), col("impact").desc, col("doc_id"))
      .write.mode("overwrite").parquet(s"$stage/postings")
    terms
  }

  /** a19's per-query kept-term budget: of a query's distinct terms,
    * only the KwKeepTerms RAREST (lowest df = highest idf upper bound)
    * are probed — MaxScore-flavor STATIC impact ordering. High-df
    * stopwords are exactly the terms whose posting lists dominate the
    * probe cost (Σ df) while contributing the least-discriminative
    * impacts, so the pruning cuts cost superlinearly on Zipfian
    * vocabularies while leaving the informative tail intact. */
  private[queries] lazy val KwKeepTerms = 8

  /** a19 — KEYWORD search over the PERSISTED inverted index with
    * impact-ordered term pruning: the text twin of a13's serving
    * shape, closing the one measured scale hazard of round 7 (a17's
    * inline keyword channel re-derived tf/df per call and probed with
    * EVERY query term — 32 s at ×100 on the stress corpus).
    *
    * Search-time work, in order: (1) tokenize the 10 query docs — a
    * doc_id<10 PUSHED scan of the corpus table, metadata-scale; (2)
    * look the query terms up in the broadcast-joined stored dictionary
    * and keep the [[KwKeepTerms]] rarest per query (bounded-heap
    * [[graft.expressions.TopKByScore]] on score −df, ties → lower
    * term_id = lexicographic — no window); (3) probe: the kept
    * term_ids become an IN-list predicate pushed onto the
    * term_id-sorted stored postings scan (row-group pruning = posting-
    * list seeks; PlanAuditSpec pins the pushdown), broadcast-joined
    * back to (query_id, term_id) to attach query ids; (4) per-(query,
    * doc) impact sum, bounded-heap top-20. What never runs at search
    * time: corpus tokenization, tf/df aggregation, dictionary
    * construction — all one-time build cost in [[keywordIndexStage]].
    * Scale: probe cost is Σ df over ≤ queries×KwKeepTerms terms —
    * independent of corpus token count; every search-time join
    * broadcasts the (tiny) query side. */
  /** The shared pruned-search tail over an inverted index: per-query
    * top-[[KwKeepTerms]] rarest terms from `dict` (term, term_id, df —
    * heap order (−df, term_id)), kept ids as a driver-built IN-list on
    * `postings` (≤ queries×KwKeepTerms longs, metadata-scale like
    * a13's meta read — it is what turns the probe into a PUSHED parquet
    * filter instead of a join against the whole postings table), then
    * per-(query, doc) impact sums and a bounded-heap top-20. Shared by
    * a19 (stored index), a20 (stored ∪ increment) and s17 (stored ∪
    * streamed landings). */
  private[queries] def kwPrunedSearch(spark: SparkSession, dir: String,
      dict: DataFrame, postings: DataFrame, outK: Int = 20,
      ordered: Boolean = true): DataFrame =
    kwPrunedSearchFor(spark,
      Tables.documents(spark, dir).filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"),
          explode(TF.words(col("text"))).as("term"))
        .distinct(),
      dict, postings, outK, ordered)

  /** The same pruned-search tail over an EXPLICIT query-term frame
    * (query_id, term — distinct), so a streamed serving loop (s20) can
    * probe the frozen index per micro-batch of queries. `outK` is the
    * result depth — 20 for the direct serving queries, deeper when the
    * keyword channel is the CANDIDATE GENERATOR of a re-rank stack
    * (a29 takes [[MaxSimShortlist]]). */
  private[queries] def kwPrunedSearchFor(spark: SparkSession, qt: DataFrame,
      dict: DataFrame, postings: DataFrame, outK: Int = 20,
      ordered: Boolean = true): DataFrame = {
    // `ordered = false` for INTERMEDIATE consumers (pinned shortlists,
    // batch-keyed landings whose readback re-sorts): the presentation
    // sort is a range exchange + sampling job per call — dead weight
    // when the consumer is set-valued (r17 §2.4: remove shuffles whose
    // only purpose is an order nobody observes)
    val out = prunedImpactProbe(qt, dict, postings, unit = "doc_id", k = outK)
      .select(col("query_id"), (col("pos") + 1).cast("int").as("kw_rank"),
        col("col.id").as("doc_id"), col("col.score").as("kw_score"))
    if (ordered) out.orderBy(col("query_id"), col("kw_rank")) else out
  }

  /** The ONE impact-ordered pruned-probe tail both text serving
    * channels share (keyword a19/a20/s17/s20 and passage a22/a23 are
    * the same search over a different scoring grain): per-query
    * top-[[KwKeepTerms]] rarest terms against the stored dictionary
    * (bounded heap on −df), the kept term_ids collected to a
    * driver-built IN-list PUSHED onto the term_id-sorted stored
    * postings (row-group pruning as posting seeks — the driver hop is
    * query-vocabulary-sized metadata, not data), self-doc exclusion on
    * the denormalized doc_id, per-(query, `unit`) impact sums, and a
    * bounded-heap top-`k`. `unit` is the scoring grain — doc_id for
    * the keyword channel, pid for the passage channel. Returns the
    * posexploded (query_id, pos, col.id, col.score) frame; callers
    * project their channel's column names. Factored so a pruning or
    * skew fix lands in both channels at once. */
  private[queries] def prunedImpactProbe(qt: DataFrame, dict: DataFrame,
      postings: DataFrame, unit: String, k: Int): DataFrame = {
    import graft.expressions.TopKByScore
    val keptPlan = dict.join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"))
      .agg(TopKByScore(-col("df"), col("term_id"), KwKeepTerms).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("term_id"))
    // one execution of the kept-term subtree (≤ queries×KwKeepTerms
    // rows — metadata-scale): the collected rows feed BOTH the pushed
    // IN-list and, re-planned as a driver-local relation, the join side
    // — previously the subtree ran once for the ids collect and again
    // inside the broadcast build (r17 §1-measured: per-probe fixed jobs
    // dominate every kw serve)
    val keptRows = keptPlan.collect()
    val tid = keptPlan.schema.fieldIndex("term_id")
    val keptIds = keptRows.map(_.getLong(tid)).distinct.sorted.toSeq
    val kept = qt.sparkSession.createDataFrame(
      java.util.Arrays.asList(keptRows: _*), keptPlan.schema)
    postings
      .filter(col("term_id").isin(keptIds: _*))
      .join(broadcast(kept), Seq("term_id"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col(unit))
      .agg(sum(col("impact")).as("score"))
      .groupBy(col("query_id"))
      .agg(TopKByScore(col("score"), col(unit), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
  }

  /** The segment-local OOV dictionary over increment term-vector rows
    * (doc_id, term, tf): per-term df within the segment, term_ids
    * appended lexicographically ABOVE the frozen range, idf under the
    * frozen corpus size. Collected to the driver — the in-writer term
    * table every index writer holds (segment-VOCABULARY-sized, Heaps'
    * law ~√segment, not corpus-sized). Shared by a20 and s17. */
  private[queries] def kwOovDict(spark: SparkSession, oovTf: DataFrame,
      nCorpus: Long, maxTermId: Long): DataFrame = {
    import spark.implicits._
    oovTf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      .zipWithIndex.map { case ((t, df), i) =>
        (t, maxTermId + i + 1, df, math.floor(10000.0 * nCorpus / df).toLong)
      }.toSeq.toDF("term", "term_id", "df", "idf")
  }

  def a19KeywordSearchPrebuilt(spark: SparkSession, dir: String): DataFrame = {
    val stage = keywordIndexStage(spark, dir)
    kwPrunedSearch(spark, dir,
      spark.read.parquet(s"$stage/terms").select(col("term"), col("term_id"), col("df")),
      spark.read.parquet(s"$stage/postings"))
  }

  /** The a20 CORPUS-HALF keyword index stage — a19's layout built
    * from the even doc_ids only, the frozen base an append-only text
    * index updates against (the a12 even/odd protocol replayed on the
    * inverted index). Same three tables as [[keywordIndexStage]];
    * meta's max_term_id lets increment-only vocabulary be assigned
    * ids ABOVE the frozen dictionary without renumbering it. */
  def a20CorpusKwIndexStage(spark: SparkSession, dir: String): String =
    stageKwIndexTable(spark, dir, "a20kw", col("doc_id") % 2 === 0)

  /** a20 — APPEND-ONLY keyword-index update + search: the segment
    * model every production text index uses (Lucene's new-segment
    * path), a12's protocol replayed on the inverted index. The
    * increment (odd doc_ids) is tokenized and encoded against the
    * FROZEN corpus artifacts: terms already in the stored dictionary
    * keep their frozen (df, idf) — idf drift from the growing corpus
    * is absorbed until the next rebuild/merge, the standard
    * incremental-indexing approximation — while increment-only terms
    * form a SEGMENT-LOCAL dictionary (per-segment df/idf, Lucene
    * semantics) with term_ids appended above the frozen range, so the
    * stored dictionary is never renumbered. Search is a19's pruned
    * probe over the merged dictionary and corpus ∪ increment
    * postings: per query the 8 rarest terms by dictionary df (ties →
    * lower term_id, i.e. frozen-dictionary-first then lexicographic —
    * the oracle mirrors this ordering explicitly), IN-list pushed onto
    * the stored postings scan. What never runs: corpus re-tokenization
    * (only the doc_id<10 query slice and the odd-id increment are
    * scanned), dictionary rebuild, any rewrite of stored rows —
    * AnalyticsSpec pins the stored postings byte-identical across
    * updates. */
  def a20KeywordIndexUpdate(spark: SparkSession, dir: String): DataFrame = {
    val stage = a20CorpusKwIndexStage(spark, dir)
    val terms = spark.read.parquet(s"$stage/terms")
    val meta = spark.read.parquet(s"$stage/meta").head
    val (nCorpus, maxTermId) = (meta.getAs[Long]("n"), meta.getAs[Long]("max_term_id"))
    val tfInc = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), explode(TF.words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // increment-only vocabulary: the driver-built segment dictionary
    // ([[kwOovDict]] — ids above the frozen range, lexicographic, so
    // the (df, term_id) tie order search prunes by = frozen dict
    // first then OOV by term; the oracle mirrors it as (df, oov,
    // term)). This eager collect plus the one encode join below keep
    // the increment tokenization to exactly two passes, no checkpoint.
    val oovLocal = kwOovDict(spark,
      tfInc.join(broadcast(terms.select(col("term"))), Seq("term"), "left_anti"),
      nCorpus, maxTermId)
    val dict = terms.select(col("term"), col("term_id"), col("df"), col("idf"))
      .unionByName(oovLocal)
    // one encode pass: every increment posting keyed and weighted by
    // the merged dictionary (frozen idf for known terms, segment idf
    // for OOV), which broadcasts (vocabulary-sized)
    val incPost = tfInc.join(broadcast(dict), Seq("term"))
      .select(col("term_id"), col("doc_id"), (col("tf") * col("idf")).as("impact"))
    kwPrunedSearch(spark, dir,
      dict.select(col("term"), col("term_id"), col("df")),
      spark.read.parquet(s"$stage/postings").unionByName(incPost))
  }

  /** The a35 odd-half keyword SEGMENT stage: a19's layout over the
    * odd doc_ids only, with its own segment-local dictionary and
    * per-segment df/idf — the standalone landed form a20's increment
    * leaves once it is finalized as a segment (Lucene's flushed
    * segment: self-contained stats, mergeable later). Input to the
    * a35 compaction. */
  private[queries] def stageA35Segment(spark: SparkSession, dir: String): String =
    stageKwIndexTable(spark, dir, "a35seg", col("doc_id") % 2 === 1)

  /** Per-doc tf recovered EXACTLY from a stored keyword layout's own
    * artifacts: postings carry impact := tf·idf with idf ≥ 10⁴ > 0,
    * so `impact DIV idf` is exact integer recovery — the trick that
    * keeps every re-statting merge index-bytes-only (Lucene's merge
    * reads segments, never source text). Shared by the a35 compaction
    * and the a37 two-merge lifecycle cycle. */
  private[queries] def kwRecoverTf(spark: SparkSession, st: String): DataFrame =
    spark.read.parquet(s"$st/postings")
      .join(spark.read.parquet(s"$st/terms")
        .select(col("term_id"), col("term"), col("idf")), Seq("term_id"))
      .select(col("doc_id"), col("term"), expr("impact DIV idf").as("tf"))

  /** The a35 compaction stage — the keyword channel's segment MERGE,
    * the one lifecycle cell a34's scaladoc left open ("tombstoned docs
    * burn shortlist slots until the keyword index's own compaction").
    * Unlike the token/image/vector channels, keyword stats are
    * CROSS-document (df, idf), so a compaction here is a RE-STAT —
    * and a re-stat over base ∪ segment is definitionally a fresh full
    * build. The trick that keeps it index-bytes-only (Lucene's merge
    * reads segments, never source text): per-doc tf is recovered
    * EXACTLY from the stored artifacts as `impact DIV idf` — exact
    * integers because impact := tf·idf with idf ≥ 10⁴ > 0 — so the
    * merge never re-tokenizes a document. df/idf/term_ids are then
    * re-derived over the merged tf through the SAME [[writeKwLayout]]
    * the fresh builders use, which is the structural form of the
    * "compaction ≡ fresh build" pin (AnalyticsSpec additionally pins
    * terms, postings AND the served search row-identical to the a19
    * monolith). File counts before/after in meta, written LAST. */
  def a35CompactedKwStage(spark: SparkSession, dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
    val stage = PipelineQueries.staging("a35kw", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val base = a20CorpusKwIndexStage(spark, dir)
      val seg = stageA35Segment(spark, dir)
      def tfOf(st: String): DataFrame = kwRecoverTf(spark, st)
      def dataFiles(p: String): Long = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
        var n = 0L
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }
      val before = dataFiles(s"$base/postings") + dataFiles(s"$seg/postings")
      val n = spark.read.parquet(s"$base/meta").head.getAs[Long]("n") +
        spark.read.parquet(s"$seg/meta").head.getAs[Long]("n")
      val maxId = writeKwLayout(spark, stage,
        tfOf(base).unionByName(tfOf(seg)), n)
        .agg(max(col("term_id"))).head.getLong(0)
      spark.range(1).select(lit(n).as("n"), lit(maxId).as("max_term_id"),
          lit(before).as("files_before"),
          lit(dataFiles(s"$stage/postings")).as("files_after"))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** a35 — keyword search served from the COMPACTED (re-statted)
    * index: base ∪ segment merged into one fresh-layout index with
    * exact global df/idf — the idf drift a20's append deliberately
    * absorbs ("frozen until the next rebuild/merge") is HERE repaid,
    * closing the keyword channel's lifecycle (build a19 → pruned
    * serve → append a20 → streamed ingest s17 → compact a35 → delete
    * a36). Search is a19's pruned probe verbatim over the compacted
    * artifacts; hash-gated with a19's ORACLE — compaction-with-restat
    * must be output-indistinguishable from a fresh full build. */
  def a35KeywordCompacted(spark: SparkSession, dir: String): DataFrame = {
    val stage = a35CompactedKwStage(spark, dir)
    kwPrunedSearch(spark, dir,
      spark.read.parquet(s"$stage/terms").select(col("term"), col("term_id"), col("df")),
      spark.read.parquet(s"$stage/postings"))
  }

  /** The a36 delete stage for the keyword channel: tombstone ids
    * (doc_id ≡ 3 mod 7) persisted beside the compacted index, plus
    * the PURGED postings the next delete-applying compaction produces
    * (compacted postings minus tombstoned doc rows, same layout —
    * note stats stay FROZEN at purge time: re-statting is the NEXT
    * a35-style merge's job, exactly a16's purged-codes-same-codebooks
    * protocol). Meta written last. */
  def a36DeleteStage(spark: SparkSession, dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
    val stage = PipelineQueries.staging("a36del", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val a35 = a35CompactedKwStage(spark, dir)
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/tombstones")
      val tombs = spark.read.parquet(s"$stage/tombstones")
      spark.read.parquet(s"$a35/postings")
        .join(tombs, Seq("doc_id"), "left_anti")
        .repartitionByRange(4, col("term_id"))
        .sortWithinPartitions(col("term_id"), col("impact").desc, col("doc_id"))
        .write.mode("overwrite").parquet(s"$stage/purged")
      Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
        .crossJoin(tombs.agg(count(lit(1)).as("n_tomb")))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** Test hook: a19's search over the PURGED postings (the
    * post-compaction hard-delete form — no anti-join in the plan).
    * The spec pins it row-identical to [[a36TombstoneSearch]]. */
  def a36PurgedSearch(spark: SparkSession, dir: String): DataFrame = {
    val stage = a36DeleteStage(spark, dir)
    val a35 = a35CompactedKwStage(spark, dir)
    kwPrunedSearch(spark, dir,
      spark.read.parquet(s"$a35/terms").select(col("term"), col("term_id"), col("df")),
      spark.read.parquet(s"$stage/purged"))
  }

  /** a36 — tombstone DELETES on the stored keyword index, the
    * channel's last lifecycle step: the retracted-doc id list is
    * consulted as a broadcast anti-join on the postings scan — a
    * deleted doc can never be returned, with NO rewrite of the stored
    * postings at delete time and the kept-term IN-list still pushed
    * beneath the anti-join. Stats stay FROZEN: df/idf keep counting
    * the tombstoned docs until the next compaction re-stats — exactly
    * Lucene's live-docs semantics, where deleted docs inflate idf
    * until segments merge — and the oracle replays precisely that
    * (df over the FULL corpus, doc filter only at the scoring join).
    * Queries are external text (the corpus-table slice), so a
    * tombstoned doc can still ASK (a16's convention — deletion here
    * is index-level, unlike the token channel's a34 where the query
    * representation itself lived in the stored table). At 100 TB the
    * tombstone set is ids-only, always broadcastable;
    * [[a36PurgedSearch]] is the physical purge, pinned row-identical. */
  def a36TombstoneSearch(spark: SparkSession, dir: String): DataFrame = {
    val stage = a36DeleteStage(spark, dir)
    val a35 = a35CompactedKwStage(spark, dir)
    val postings = spark.read.parquet(s"$a35/postings")
      .join(broadcast(spark.read.parquet(s"$stage/tombstones")),
        Seq("doc_id"), "left_anti")
    kwPrunedSearch(spark, dir,
      spark.read.parquet(s"$a35/terms").select(col("term"), col("term_id"), col("df")),
      postings)
  }

  /** a21 — hybrid retrieval SERVED FROM THE PERSISTED INDEXES: a17's
    * keyword ⊕ vector fusion with both channels re-expressed over
    * their stored serving artifacts — the keyword channel is a19's
    * pruned search of the persisted impact-ordered inverted index
    * (top-20 per query, [[KwKeepTerms]]-rarest-term probing), the
    * vector channel is a13's IVF-PQ search of the stored inverted-list
    * layout (top-5 per query after exact re-rank), and reciprocal-rank
    * fusion (Cormack et al. SIGIR'09; fused = Σ ⌊10⁶/(60+rank)⌋,
    * integer-exact on both engines) merges them by RANK so the
    * channels' incomparable score scales never need calibrating.
    *
    * This is the production hybrid-serving shape: a17 DEFINES the
    * semantics but rebuilds the term index and scans the full corpus
    * cosine per call; a21 runs the same fusion where every per-call
    * cost is search-time only — broadcast query-side joins, a pushed
    * IN-list probe of the stored postings, broadcast probes onto the
    * stored code cells, zero training and zero corpus tokenization in
    * the plan (PlanAuditSpec pins both, inheriting a19's and a13's
    * pins through composition). Queries are the doc_ids < 10 (the
    * set with both a text and an embedding row — vec_id aligns with
    * doc_id, TESTDATA.md); each channel keeps its native depth
    * (keyword 20, vector 5), so a vector-only hit can still win on
    * fused score — the multimodal-corpus semantics where not every
    * retrievable item has text. */
  def a21HybridSearchPrebuilt(spark: SparkSession, dir: String): DataFrame = {
    val kw = a19KeywordSearchPrebuilt(spark, dir)
      .select(col("query_id"), col("doc_id"), col("kw_rank"))
    val vec = a13IvfPqSearchPrebuilt(spark, dir)
      .filter(col("query_id") < 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    kw.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", expr(
        "CAST(coalesce(1000000 DIV (60 + kw_rank), 0) + " +
          "coalesce(1000000 DIV (60 + vec_rank), 0) AS BIGINT)"))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("kw_rank"), col("vec_rank"), col("rrf_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** a22 — passage retrieval (the RAG serving shape: retrieve the
    * CHUNK, not the document — Karpukhin et al. EMNLP'20's unit of
    * retrieval, served here through the keyword channel): the corpus
    * is split into t18's overlapping 32-token windows, each passage
    * gets its own tf and the passage-level df drives the idf (the
    * standard passage-index statistics — a long document no longer
    * dilutes its matching span), and a17's query protocol (distinct
    * terms of docs 0–9, self-doc excluded) scores passages by the
    * same fixed-point impact Σ tf·⌊10⁴·nP/df⌋. Top-5 passages per
    * query via the bounded-heap aggregate, reported as (doc_id,
    * chunk_idx) — the span a RAG prompt would actually stuff.
    * Passage ids pack as doc_id·1024 + chunk_idx (chunk counts are
    * ⌈len/24⌉, orders of magnitude under 1024 at any corpus scale —
    * a 24k-token document is still only 1k chunks).
    * Scale shape: chunking is t18's row-local explode; tf/df are
    * map-side-combined hash-aggs; the query side broadcasts
    * (queries × vocabulary-sized); the heap keeps shuffle at
    * groups×k. Like a17 this is the inline twin — a production
    * passage index would persist tf/df exactly as a19 does for docs;
    * the economics are already measured there. */
  /** The shared a22/a23 passage chunker: t18's 32-token stride-24
    * windows, pid = doc_id·1024 + chunk_idx. The 1024 slots bound
    * documents at ~24.6k tokens (1 + 1023·24); past that the encoding
    * would silently collide passages into the NEXT doc_id and corrupt
    * df/impact statistics, so oversized documents fail loudly instead
    * (`assert_true` inside a row-preserving filter — unprunable). */
  private[queries] def passageChunks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TF.words(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(1), size(col("toks")), lit(24)))
          .as(Seq("chunk_idx", "start_tok")))
      .filter(assert_true(col("chunk_idx") < 1024,
        lit("passage pid overflow: document exceeds 1024 chunks " +
          "(~24.6k tokens at stride 24) — pid = doc_id*1024 + chunk_idx " +
          "would collide into the next doc_id")).isNull)
      .select((col("doc_id") * 1024 + col("chunk_idx")).as("pid"), col("doc_id"),
        slice(col("toks"), col("start_tok"), lit(32)).as("ptoks"))

  def a22PassageSearch(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.TopKByScore
    val docs = Tables.documents(spark, dir)
    val chunks = passageChunks(docs)
    val nP = chunks.count()
    val tf = chunks.select(col("pid"), col("doc_id"), explode(col("ptoks")).as("term"))
      .groupBy(col("pid"), col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfp = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qTerms = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), explode(TF.words(col("text"))).as("term"))
      .distinct()
    tf.join(dfp, Seq("term"))
      .withColumn("impact", col("tf") * floor(lit(10000.0) * nP / col("df")).cast("long"))
      .join(broadcast(qTerms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("pid"))
      .agg(sum(col("impact")).as("p_score"))
      .groupBy(col("query_id"))
      .agg(TopKByScore(col("p_score"), col("pid"), 5).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        expr("col.id DIV 1024").as("doc_id"),
        expr("col.id % 1024").as("chunk_idx"),
        col("col.score").as("p_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The a23 passage-index BUILD stage — a22's statistics persisted in
    * a19's impact-ordered layout, closing the RAG serving lifecycle
    * (a22's scaladoc names this as the production shape: "a passage
    * index would persist tf/df exactly as a19 does for docs"). One
    * corpus pass chunks every document into t18's 32-token stride-24
    * windows (pid = doc_id·1024 + chunk_idx) and writes:
    *
    *  - `terms` (term, term_id, df, idf, max_impact): the dictionary
    *    under PASSAGE-level statistics — df counts passages, idf =
    *    ⌊10⁴·nP/df⌋ (a22's law), term_id the dense lexicographic rank.
    *  - `postings` (term_id, pid, doc_id, impact): fixed-point tf·idf
    *    per PASSAGE, range-partitioned and sorted by term_id so the
    *    search IN-list prunes row groups to the probed posting lists;
    *    doc_id rides along denormalized (a14's trick) so self-doc
    *    exclusion is a scan-level filter, not a join.
    *  - `meta` (n passages): written last as the completeness marker.
    *
    * Keyed by a content fingerprint of documents.parquet. */
  private[queries] def stagePassageIndex(spark: SparkSession,
      dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
    val stage = PipelineQueries.staging("a23pi", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val chunks = passageChunks(Tables.documents(spark, dir))
      val nP = chunks.count()
      val tf = chunks.select(col("pid"), col("doc_id"), explode(col("ptoks")).as("term"))
        .groupBy(col("pid"), col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      tf.groupBy(col("term")).agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"))
        .withColumn("term_id",
          row_number().over(Window.orderBy(col("term"))).cast("long"))
        .withColumn("idf", floor(lit(10000.0) * nP / col("df")).cast("long"))
        .select(col("term"), col("term_id"), col("df"), col("idf"),
          (col("max_tf") * col("idf")).as("max_impact"))
        .write.mode("overwrite").parquet(s"$stage/terms")
      val terms = spark.read.parquet(s"$stage/terms")
      tf.join(terms.select(col("term"), col("term_id"), col("idf")), Seq("term"))
        .select(col("term_id"), col("pid"), col("doc_id"),
          (col("tf") * col("idf")).as("impact"))
        .repartitionByRange(4, col("term_id"))
        .sortWithinPartitions(col("term_id"), col("impact").desc, col("pid"))
        .write.mode("overwrite").parquet(s"$stage/postings")
      spark.range(1).select(lit(nP).as("n"))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** a23 — passage retrieval over the PERSISTED chunk index: a22's
    * semantics served the way a19 serves documents. Search-time work:
    * (1) tokenize the doc_id<10 query slice (one pushed corpus scan);
    * (2) per query keep the [[KwKeepTerms]] rarest terms by PASSAGE df
    * (bounded heap on (−df, term_id), ties → lexicographic — the same
    * MaxScore-flavor static pruning as a19, now priced in passages);
    * (3) the kept term_ids become an IN-list pushed onto the
    * term_id-sorted stored postings (row-group pruning = posting-list
    * seeks), broadcast-joined back to query ids; self-doc exclusion is
    * a filter on the DENORMALIZED doc_id column of the postings scan —
    * no join against a passage→doc map; (4) per-(query, pid) impact
    * sums, bounded-heap top-5, reported as (doc_id, chunk_idx). What
    * never runs at search time: chunking, passage tf/df aggregation,
    * dictionary construction — all one-time cost in
    * [[stagePassageIndex]]. Scale: the probe touches Σ df(kept terms)
    * POSTING rows (passage-grain, ~len/stride × the doc-grain volume,
    * still corpus-token-independent); every search-time join
    * broadcasts the query side. */
  def a23PassageSearchPrebuilt(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagePassageIndex(spark, dir)
    val qt = Tables.documents(spark, dir).filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), explode(TF.words(col("text"))).as("term"))
      .distinct()
    prunedImpactProbe(qt,
        spark.read.parquet(s"$stage/terms")
          .select(col("term"), col("term_id"), col("df")),
        spark.read.parquet(s"$stage/postings"), unit = "pid", k = 5)
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        expr("col.id DIV 1024").as("doc_id"),
        expr("col.id % 1024").as("chunk_idx"),
        col("col.score").as("p_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** a24 — k-NN label propagation (semi-supervised auto-labeling: a
    * small labeled seed set labels the rest of the corpus through
    * embedding neighborhoods — the classic k-nearest-neighbor
    * classifier, Fix & Hodges '51 / Cover & Hart '67, run as a
    * dataflow): even vec_ids are the LABELED reference, odd ids < 100
    * are the unlabeled batch to label; each query takes its 3 nearest
    * labeled neighbors by exact cosine (a01's broadcast-query +
    * bounded-heap shape — the reference corpus STREAMS, never
    * broadcasts) and votes, majority with ties to the smaller label
    * (the vote argmax is itself a bounded heap on (count, −label), so
    * no window anywhere). The neighbor's label rides INSIDE the heap
    * id (id = neighbor_id·16 + label — labels are 0–9), so the top-k
    * aggregate needs no join-back to recover votes. Output per query:
    * predicted vs held-out true label and the winning vote count —
    * the per-item confidence a pipeline thresholds before trusting an
    * auto-label. Scale shape: one labeled-corpus scan per query
    * BATCH (not per query), shuffle = queries×k; at production query
    * volume the same vote tail runs behind a13's IVF-cell blocking
    * instead of the exact scan. */
  def a24KnnClassify(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{DoubleSortKey, TopKByScore}
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        Vectors.normSq(col("embedding")).as("nsq"), col("label"))
    val q = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 100)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nsq").as("qn"), col("label").as("true_label"))
    val c = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        col("nsq").as("cn"), col("label").as("n_label"))
    c.crossJoin(broadcast(q))
      .withColumn("sim", Vectors.cosine(col("qe"), col("ce"), col("qn"), col("cn")))
      .groupBy(col("query_id"), col("true_label"))
      .agg(TopKByScore(DoubleSortKey(col("sim")),
        col("neighbor_id") * 16 + col("n_label"), 3).as("top"))
      .select(col("query_id"), col("true_label"),
        explode(col("top")).as("t"))
      .select(col("query_id"), col("true_label"),
        expr("t.id % 16").as("vote"))
      .groupBy(col("query_id"), col("true_label"), col("vote"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("query_id"), col("true_label"))
      .agg(TopKByScore(col("cnt"), col("vote"), 1).as("win"))
      .select(col("query_id"),
        expr("win[0].id").cast("int").as("pred_label"),
        col("true_label"),
        expr("win[0].score").as("n_votes"))
      .withColumn("correct", col("pred_label") === col("true_label"))
      .orderBy(col("query_id"))
  }

  /** a25's serving constants — keep in sync with the oracle SQL, which
    * unrolls the greedy loop for exactly [[MmrSelect]] steps. λ = 0.5
    * weighs relevance and diversity equally (Carbonell & Goldstein's
    * default); the score is computed as `0.5·rel − 0.5·penalty` in BOTH
    * engines (operand-for-operand, not algebraically rearranged) so the
    * double comparisons that drive selection are bit-identical. */
  lazy val MmrShortlist = 12

  lazy val MmrSelect = 4

  /** a25 — MMR diversified re-rank (Maximal Marginal Relevance,
    * Carbonell & Goldstein SIGIR'98): the serving-time answer to "my
    * top-k is five copies of the same passage" — after near-dup survives
    * into an index, the result LIST still needs de-duplicating. Each
    * query (vec_id < 8) first takes an exact-cosine shortlist of
    * [[MmrShortlist]] candidates through a01's broadcast-query +
    * bounded-heap shape, then greedily selects [[MmrSelect]] of them:
    * step score = 0.5·rel(q,c) − 0.5·max_{s∈selected} cos(c,s), ties to
    * the smaller cand_id — so the first pick is the plain top-1 and
    * every later pick trades relevance against similarity to what's
    * already chosen.
    *
    * Scale shape: the corpus is touched ONLY by the shortlist scan
    * (stream past the broadcast query batch, heap-reduced map-side —
    * shuffle = queries×L rows); the greedy loop is per-query-local
    * O(k·L) arithmetic over L=12 candidates inside flatMapGroups, with
    * candidate embeddings re-fetched by a broadcast equi-join of the
    * queries×L shortlist onto the corpus scan. Diversity is computed
    * over the SHORTLIST, never the corpus — the standard production
    * shape (re-rank depth bounds the quadratic term), and the exact
    * local cosine reuses the engine's fold order (ascending-index
    * double accumulation, [[graft.expressions.FloatDot]]) so the
    * unrolled DuckDB oracle selects bit-identically. */
  def a25MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{DoubleSortKey, TopKByScore}
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), Vectors.normSq(col("embedding")).as("nsq"))
    val q = e.filter(col("vec_id") < 8).toDF("query_id", "qe", "qn")
    val c = e.toDF("cand_id", "ce", "cn")
    val rel = Vectors.cosine(col("qe"), col("ce"), col("qn"), col("cn"))
    val shortlist = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"))
      .agg(TopKByScore(DoubleSortKey(rel), col("cand_id"), MmrShortlist).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("cand_id"))
    val cands = c.join(broadcast(shortlist), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), rel.as("rel"), col("ce"), col("cn"))
    mmrGreedyTail(cands)
  }

  /** The shared per-query MMR greedy over a (query_id, cand_id, rel,
    * embedding, nsq) candidate frame — a25 feeds it from the exact-
    * cosine shortlist, a26 from the stored IVF-PQ index's re-ranked
    * shortlist. Local O(k·L) arithmetic inside flatMapGroups; the
    * local cosine reuses FloatDot's fold order so both engines'
    * oracles select bit-identically. */
  private[queries] def mmrGreedyTail(candsDf: DataFrame): DataFrame = {
    val spark = candsDf.sparkSession
    import spark.implicits._
    val cands = candsDf.as[(Long, Long, Double, Array[Float], Double)]
    // hoisted: referencing the trait val directly inside flatMapGroups
    // would capture `this` (the AnalyticsQueries facade) into the task
    // closure — not serializable, and the whole object graph otherwise
    val mmrSelect = MmrSelect
    cands.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cs = it.toArray.sortBy(_._2)
        val n = cs.length
        val ids = cs.map(_._2)
        val rels = cs.map(_._3)
        val emb = cs.map(_._4)
        val nsq = cs.map(_._5)
        // exact cosine, FloatDot's fold order (ascending index, double
        // accumulate) — bitwise equal to both engines' column form
        def cos(i: Int, j: Int): Double = {
          val a = emb(i); val b = emb(j)
          var acc = 0.0d; var k = 0
          while (k < a.length) { acc += a(k).toDouble * b(k).toDouble; k += 1 }
          acc / (math.sqrt(nsq(i)) * math.sqrt(nsq(j)))
        }
        val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
        // a zero-norm embedding makes cos 0/0 = NaN; NaN scores fail
        // every comparison, so a pass can end with best = -1 — stop
        // cleanly instead of indexing ids(-1)
        var exhausted = false
        while (chosen.size < mmrSelect && chosen.size < n && !exhausted) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          var bestId = Long.MaxValue
          var i = 0
          while (i < n) {
            if (!chosen.contains(i)) {
              // penalty = max cos to the selected set; 0 on the first
              // pick (max over the empty set would be −∞ and make the
              // first score +∞ — the oracle's step-1 term is 0.0)
              var pen = 0.0d
              if (chosen.nonEmpty) {
                pen = Double.NegativeInfinity
                chosen.foreach(j => pen = math.max(pen, cos(i, j)))
              }
              val score = 0.5d * rels(i) - 0.5d * pen
              if (score > bestScore || (score == bestScore && ids(i) < bestId)) {
                best = i; bestScore = score; bestId = ids(i)
              }
            }
            i += 1
          }
          if (best < 0) exhausted = true else chosen += best
        }
        chosen.iterator.zipWithIndex.map { case (ci, r) => (qid, r + 1, ids(ci)) }
      }
      .toDF("query_id", "rank", "selected_id")
      .orderBy(col("query_id"), col("rank"))
  }

  /** a26 — MMR re-rank served from the STORED index (a25's production
    * form, the same build/search economics a13 gave a10): the
    * [[MmrShortlist]]-deep shortlist comes from the persisted IVF-PQ
    * index — probes broadcast onto the stored inverted-list layout,
    * ADC scoring, exact re-rank, zero corpus joins and zero training
    * at query time — and the per-query greedy then diversifies the 12
    * candidates exactly as a25 does. The corpus is never scanned:
    * candidate embeddings are fetched by a broadcast equi-join of the
    * queries×12 id list, so the whole diversified-serving path costs
    * index-slice reads + O(k·L) local arithmetic per query. The
    * oracle extends a13's full CTE chain (coarse assignment, probes,
    * ADC, exact re-rank) with a25's unrolled greedy — the ENTIRE
    * serving stack hash-gates end to end. */
  /** a26's ranked shortlist from the stored index (a13's tuned search
    * at outK = [[MmrShortlist]]) — exposed for the spec that pins the
    * greedy's selections inside it. */
  private[graft] def a26IndexShortlist(spark: SparkSession, dir: String): DataFrame =
    // ctx-derived (probes, L): one meta read, not two (the old form
    // read meta here AND inside the tuned search)
    ivfSearchWith(ivfServeCtx(spark, dir), spark, dir,
      queryFilter = col("vec_id") < 20,
      outK = MmrShortlist,
      ordered = false) // diversified downstream: order unobserved

  def a26MmrPrebuilt(spark: SparkSession, dir: String): DataFrame =
    mmrOverShortlist(spark, dir,
      a26IndexShortlist(spark, dir)
        .select(col("query_id"), col("neighbor_id").as("cand_id")),
      col("vec_id") < 20)

  /** The shared serving-time diversification step over ANY
    * (query_id, cand_id) shortlist: candidate and query embeddings
    * fetched by broadcast equi-joins of the queries×k id list (the
    * corpus is never scanned), exact-cosine relevance in FloatDot's
    * fold order, then the per-query [[mmrGreedyTail]]. a26 feeds it
    * the stored-IVF-PQ top-12, the a31/s26 stack its fused RRF head —
    * one definition, so a change to the fetch or broadcast discipline
    * can't silently diverge the two channels. */
  private[queries] def mmrOverShortlist(spark: SparkSession, dir: String,
      shortlist: DataFrame, queryFilter: Column): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), Vectors.normSq(col("embedding")).as("nsq"))
    val q = e.filter(queryFilter).toDF("query_id", "qe", "qn")
    val c = e.toDF("cand_id", "ce", "cn")
    val rel = Vectors.cosine(col("qe"), col("ce"), col("qn"), col("cn"))
    mmrGreedyTail(
      c.join(broadcast(shortlist), Seq("cand_id"))
        .join(broadcast(q), Seq("query_id"))
        .select(col("query_id"), col("cand_id"), rel.as("rel"), col("ce"), col("cn")))
  }

}
