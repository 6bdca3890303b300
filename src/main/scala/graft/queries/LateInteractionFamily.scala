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

/** Late-interaction + composed-stack family (a27-a32, serving stack) — one slice of [[AnalyticsQueries]], split along
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
/** Materializer for QUERY-scale serving frames (≤ queries×50 rows by
  * the serving contract). [[pin]] collects the frame once and re-plans
  * it as a driver-local relation, so a stage's lineage never re-executes
  * inside the next stage's plan AND every downstream broadcast of the
  * frame is job-free (r17: a localCheckpoint pin paid one job per
  * broadcast build and one per rescan — on s26 those fixed costs were
  * the query: 249 jobs, none >0.3 s). Local relations hold no block-
  * manager blocks, so there is nothing to release; the generation
  * ledger ([[openGeneration]]/[[release]]/[[withGeneration]]) remains
  * for the over-contract fallback path, which still localCheckpoints —
  * there a serve's returned frame must be consumed before the next
  * serve under the same tag begins, because a released checkpoint
  * cannot be recomputed. */
private[graft] object ServingPins {
  private val held =
    scala.collection.mutable.Map.empty[String, List[org.apache.spark.rdd.RDD[_]]]
  /** Pins above this row count fall back to the block-manager ledger —
    * the contract says pins are query-scale (≤ queries×50 rows), so the
    * bound only exists to keep a contract violation from OOMing the
    * driver instead of surfacing as a slow checkpoint. */
  private val LocalPinMaxRows = 1 << 20
  def openGeneration(tag: String): Unit = release(tag)
  /** Materialize a QUERY-scale serving frame once. Preferred form: a
    * driver-local relation — the frame is ≤ queries×50 rows by the
    * serving contract, so `collect` is metadata-scale, and a
    * LocalRelation makes every downstream `broadcast(frame)` and
    * re-consumption job-free (a checkpointed RDD pays one job per
    * broadcast build and one per rescan; measured on s26, these
    * per-batch fixed costs dominate — 249 jobs, none >0.3 s). Frames
    * over [[LocalPinMaxRows]] keep the old localCheckpoint + ledger
    * path. */
  def pin(tag: String, spark: SparkSession, df: DataFrame): DataFrame = {
    // plain collect, not a limit-probe: CollectLimit consumes its child
    // in scaling partition batches (several jobs), defeating the point
    val rows = df.collect()
    if (rows.length <= LocalPinMaxRows)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    else synchronized {
      val out = df.localCheckpoint()
      org.apache.spark.sql.graft.Internals.checkpointRdd(out).foreach { r =>
        held(tag) = r :: held.getOrElse(tag, Nil)
      }
      out
    }
  }
  def release(tag: String): Unit = synchronized {
    held.remove(tag).getOrElse(Nil).foreach(_.unpersist(blocking = false))
  }
  /** Loan pattern for a serve twin that fully CONSUMES its pinned
    * frames inside `body` (streamed landings write inside the drain):
    * releases the tag's final generation on the way out, throw or
    * return — a serve twin that goes through here cannot re-introduce
    * the one-generation-per-serve leak by forgetting the release
    * call. Not for one-shot serves that RETURN a lazily-consumed
    * frame (a29/a31): a released checkpoint cannot be recomputed, so
    * their release point is the next serve's openGeneration. */
  def withGeneration[A](tag: String)(body: => A): A =
    try body finally release(tag)
  private[graft] def heldCount(tag: String): Int =
    synchronized(held.getOrElse(tag, Nil).size)
  private[graft] def liveTags: Set[String] =
    synchronized(held.filter(_._2.nonEmpty).keySet.toSet)
}


private[queries] trait LateInteractionFamily { this: AnalyticsQueries.type =>

  import Sql._

  /** a27 — LATE-INTERACTION retrieval (MaxSim; Khattab & Zaharia,
    * SIGIR'20 ColBERT — public): the third scoring family after the
    * single-vector channel (a01/a13) and the bag-of-words channel
    * (a17/a19). A document is a BAG OF TOKEN VECTORS, not one pooled
    * vector; the query-document score is
    * Σ_{query token} max_{doc token} ⟨e(qt), e(dt)⟩ — each query
    * token picks its best-matching document token, so multi-aspect
    * queries aren't averaged into mush the way a single pooled vector
    * averages them. Token embeddings here are deterministic integer
    * functions of the token's [[TF.polyHash]] (dim 16, the synthetic-
    * fixture discipline of m04/m07: no model weights in the engine,
    * and the oracle replays the arithmetic end-to-end — embedding
    * synthesis, 8×8 token dot matrix, per-query-token max, sum, and
    * the top-20 heap all hash-gate). Everything is integer, so both
    * engines agree exactly (|e_j| ≤ 500 ⇒ |dot| ≤ 4·10⁶,
    * |score| ≤ 3.2·10⁷ — Long-safe by seven orders).
    *
    * Shape: this is the a01 of its family — brute MaxSim with the 10
    * queries BROADCAST onto a corpus scan, per-pair score inside one
    * codegen'd expression tree (8×8×16 static ops), bounded-heap
    * top-20, no shuffle wider than groups×k. The production form
    * composes it as a RE-RANK over a shortlist exactly as a25→a26
    * composes MMR (ColBERT §3.6 reranks a term-channel candidate
    * set); the economics of persisting token vectors are a19's,
    * already measured. */
  /** First-8-token polyHash array — the token representation the
    * late-interaction channel scores over (a27 computes it inline,
    * the a28 stage persists it, s25 lands it batch by batch). */
  private[queries] def tokHashes(text: Column): Column =
    transform(slice(TF.words(text), 1, 8), t => TF.polyHash(t))

  def a27MaxSimRerank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // e_j(token) = ((h·j + j²) mod 1001) − 500 for j = 1..16 — an
    // integer hash-embedding; the whole Σ-max-dot runs in the native
    // [[graft.expressions.MaxSim]] kernel (the HOF formulation of the
    // same arithmetic evaluated ~10⁶ interpreted lambdas per pair —
    // measured 16.9 s vs ~2 s for the scan at sf0.1)
    maxSimTail(
      docs.select(col("doc_id"), tokHashes(col("text")).as("dh")),
      docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), tokHashes(col("text")).as("qh")))
  }

  /** The shared MaxSim scoring tail over (doc_id, dh) × (query_id, qh)
    * token-hash frames: broadcast queries onto one pass of the doc
    * side, native kernel per pair, bounded-heap top-20. */
  private[queries] def maxSimTail(d: DataFrame, q: DataFrame): DataFrame = {
    import graft.expressions.TopKByScore
    d.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("ms", graft.expressions.MaxSim(col("qh"), col("dh")))
      .groupBy(col("query_id"))
      .agg(TopKByScore(col("ms"), col("doc_id"), 20).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("ms_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The a28 token-hash index BUILD stage: the late-interaction
    * channel's ingest moment — tokenize + hash each document ONCE and
    * persist the (doc_id, token-hash array) table (~72 bytes/doc at 8
    * tokens; at 100 TB the index is ~10⁻⁴× corpus bytes, the a19/m09
    * economics on the token channel). Rows are range-partitioned and
    * SORTED by doc_id — the a19 postings trick on the doc axis: an id
    * predicate on the stored table (a28's doc_id<10 query slice, a29's
    * shortlist IN-list) prunes parquet row groups to just the probed
    * docs, so fetch cost tracks the CANDIDATE count, not the corpus.
    * `meta` is the completeness marker; keyed by a content fingerprint
    * of documents.parquet. */
  def tokenHashStage(spark: SparkSession, dir: String): String =
    stageTokenTable(spark, dir, "a28th", lit(true), partitions = 4)

  /** ONE staging protocol for every persisted token-hash layout (a28
    * full table, a30 even-half base, a32 odd-half segment): tokenize
    * the selected documents ONCE, land (doc_id, th) range-partitioned
    * + SORTED by doc_id — the a19 postings trick on the doc axis, so
    * id predicates (a28's query slice, a29/a32's candidate IN-lists)
    * prune row groups to just the probed docs — and write the `meta`
    * count last as the completeness marker. Keyed by a content
    * fingerprint of documents.parquet; a change to the marker
    * semantics or the sort layout lands in all three layouts at
    * once. */
  private[queries] def stageTokenTable(spark: SparkSession, dir: String, tag: String,
      docFilter: Column, partitions: Int): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
    val stage = PipelineQueries.staging(tag, s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      Tables.documents(spark, dir).filter(docFilter)
        .select(col("doc_id"), tokHashes(col("text")).as("th"))
        .repartitionByRange(partitions, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(s"$stage/tokens")
      spark.read.parquet(s"$stage/tokens").agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** a28 — late-interaction search served from the PERSISTED
    * token-hash table: a27's semantics with ZERO text touched at
    * query time — even the query token arrays come from the stored
    * table (the query slice is a pushed doc_id<10 scan of the index),
    * so the serving plan reads no documents.parquet at all
    * (PlanAuditSpec pins it). Hash-gated with a27's ORACLE:
    * inline-tokenize or stored-index must be output-
    * indistinguishable — the m09/m07 discipline on the token channel,
    * closing the late-interaction lifecycle (a27 inline → a28
    * served). Scale: query cost is index bytes + the kernel; corpus
    * text is read once, at ingest. */
  def a28MaxSimPrebuilt(spark: SparkSession, dir: String): DataFrame = {
    val stage = tokenHashStage(spark, dir)
    val t = spark.read.parquet(s"$stage/tokens")
    maxSimTail(
      t.select(col("doc_id"), col("th").as("dh")),
      t.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("th").as("qh")))
  }

  /** a29's candidate depth: how deep the keyword channel's shortlist
    * runs before MaxSim re-ranks it. ColBERT §3.6 re-ranks the top-k
    * of a term-matching retriever; 50 comfortably covers the output
    * top-20 while keeping the re-rank at O(queries·50) kernel calls. */
  private[graft] lazy val MaxSimShortlist = 50

  /** a29 — late-interaction serving as a RE-RANK over a stored-index
    * shortlist: the production composition ColBERT §3.6 describes
    * (Khattab & Zaharia SIGIR'20 — public) and the closure of a28's
    * one documented scale residual. a27/a28 score EVERY corpus doc per
    * query — tiny bytes over the token-hash table, but still a
    * corpus-linear term where every other serving channel (a13, a19,
    * a26, m09) reads pruned probes. Here the corpus-linear term is
    * gone end to end:
    *
    *  1. CANDIDATES — a19's pruned probe over the persisted inverted
    *     index at depth [[MaxSimShortlist]]: per query the 8 rarest
    *     terms, kept-term IN-list pushed onto the term_id-sorted
    *     stored postings, bounded-heap top-50 by impact sum. Cost:
    *     Σ df(kept terms) — corpus-INDEPENDENT (a19's measured
    *     economics, reused verbatim via `outK`).
    *  2. FETCH — the ≤ queries×50 candidate doc_ids become a
    *     driver-built IN-list pushed onto the doc_id-SORTED stored
    *     token-hash table (the same metadata-scale driver hop as
    *     a19's kept-term list): row-group pruning turns the fetch
    *     into point lookups — candidate-count cost, not a token-table
    *     scan. The query-side token arrays come from the same stored
    *     table (pushed doc_id<10 slice), so no corpus text is touched
    *     anywhere in the serving plan.
    *  3. RE-RANK — the native [[graft.expressions.MaxSim]] kernel on
    *     exactly queries×shortlist pairs, bounded-heap top-20.
    *
    * At 100 TB: step 1 is the a19 probe (index seeks), step 2 reads
    * ~500 rows of a doc_id-sorted table, step 3 is O(500) kernel
    * calls — query cost is fully decoupled from corpus size, which is
    * what "serving" means everywhere else in this engine. The oracle
    * recomputes the ENTIRE stack inline — tf/df/impact, the top-8-
    * rarest pruning, the depth-50 shortlist, then the full MaxSim
    * arithmetic restricted to shortlist pairs — so stored indexes +
    * pushed probes must be output-indistinguishable from the
    * definition. (Ranks here are shortlist-relative by construction:
    * a doc the term channel misses entirely can't be re-ranked — the
    * recall/precision trade every re-rank stack makes, ColBERT
    * included.) */
  def a29MaxSimServed(spark: SparkSession, dir: String): DataFrame =
    maxSimRerankServed(spark, dir,
      spark.read.parquet(s"${tokenHashStage(spark, dir)}/tokens"))

  /** The shared served-re-rank composition over ANY stored token-hash
    * frame `t` (doc_id, th): a19 shortlist at depth
    * [[MaxSimShortlist]], candidate ids collected to a driver-built
    * IN-list PUSHED onto `t` (row-group seeks on the doc_id-sorted
    * layout — a19's keptIds protocol replayed on the doc axis; the
    * id list is ≤ queries×shortlist longs, metadata not data), query
    * token slice from the same stored frame, native kernel on exactly
    * the shortlist pairs. a29 feeds it the monolithic a28 table, a32
    * the appended base ∪ segment layout — one definition, so the
    * serving discipline can't drift between the two layouts. */
  /** The depth-[[MaxSimShortlist]] keyword shortlist the served
    * re-rank draws its candidates from — ONE definition shared by
    * [[maxSimRerankServed]] and the AnalyticsSpec containment pin
    * (every served (query_id, doc_id) must be a member). */
  private[graft] def maxSimCandidateShortlist(spark: SparkSession,
      dir: String): DataFrame = {
    val kwStage = keywordIndexStage(spark, dir)
    kwPrunedSearch(spark, dir,
      spark.read.parquet(s"$kwStage/terms")
        .select(col("term"), col("term_id"), col("df")),
      spark.read.parquet(s"$kwStage/postings"), outK = MaxSimShortlist,
      ordered = false) // pinned set-valued shortlist: order unobserved
      .select(col("query_id"), col("doc_id"))
  }

  private[queries] def maxSimRerankServed(spark: SparkSession, dir: String,
      t: DataFrame): DataFrame = {
    // pinned: the candIds collect below and the broadcast into the
    // final plan both consume the shortlist — unpinned, the whole
    // pruned probe (the one corpus-coupled term here) would execute
    // twice per serve. Ledgered under the serve tag: the NEXT serve
    // releases this generation's blocks, so repeated serves in one
    // JVM (Bench reps, the a32 twin) hold at most one shortlist pin.
    ServingPins.openGeneration(s"rerank:$dir")
    val shortlist = ServingPins.pin(s"rerank:$dir", spark,
      maxSimCandidateShortlist(spark, dir))
    maxSimRerankTail(t, shortlist,
      t.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("th").as("qh")))
  }

  /** The fetch + kernel + top-k tail every served re-rank shares:
    * shortlist candidate ids collected to a driver IN-list pushed onto
    * the doc_id-sorted token frame (row-group seeks — candidate-count
    * cost), broadcast shortlist/query joins, native kernel on exactly
    * the shortlist pairs, bounded-heap top-20. One definition for the
    * one-shot serves (a29/a32/a33/a34) and the per-batch streamed
    * serve ([[maxSimRerankServedBatch]] → s28). */
  private def maxSimRerankTail(t: DataFrame, shortlist: DataFrame,
      q: DataFrame, ordered: Boolean = true): DataFrame = {
    import graft.expressions.TopKByScore
    // shortlist arrives pinned as a driver-local relation: a bare
    // projection folds to the driver (ConvertToLocalRelation), so the
    // id fetch costs zero jobs; dedup/sort run in Scala
    val candIds = shortlist.select(col("doc_id"))
      .collect().map(_.getLong(0)).distinct.sorted.toSeq
    val out = t.filter(col("doc_id").isin(candIds: _*))
      .join(broadcast(shortlist), Seq("doc_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("ms", graft.expressions.MaxSim(col("qh"), col("th")))
      .groupBy(col("query_id"))
      .agg(TopKByScore(col("ms"), col("doc_id"), 20).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("ms_score"))
    // ordered = false for batch-keyed landings whose readback re-sorts
    if (ordered) out.orderBy(col("query_id"), col("rank")) else out
  }

  /** a29's served re-rank restricted to ONE batch of query docs
    * (doc_id, text) — the per-micro-batch unit of the streamed serve
    * twin s28: the keyword shortlist probes only this batch's terms,
    * the token-table query slice is the batch's pushed IN-list, and
    * pins are ledgered under the s28 tag so the serving loop holds
    * one generation of checkpoint blocks, not one per batch. Every
    * step is per-query (shortlist, fetch, kernel, rank), so the union
    * of batch serves ≡ the one-shot a29 — its oracle gates s28
    * unchanged. */
  private[graft] def maxSimRerankServedBatch(spark: SparkSession, dir: String,
      qdocs: DataFrame): DataFrame = {
    val kwStage = keywordIndexStage(spark, dir)
    val qt = qdocs.select(col("doc_id").as("query_id"),
      explode(TF.words(col("text"))).as("term")).distinct()
    ServingPins.openGeneration(s"s28:$dir")
    val shortlist = ServingPins.pin(s"s28:$dir", spark,
      kwPrunedSearchFor(spark, qt,
        spark.read.parquet(s"$kwStage/terms")
          .select(col("term"), col("term_id"), col("df")),
        spark.read.parquet(s"$kwStage/postings"), outK = MaxSimShortlist,
        ordered = false) // pinned set-valued shortlist
        .select(col("query_id"), col("doc_id")))
    val ids = qdocs.select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val t = spark.read.parquet(s"${tokenHashStage(spark, dir)}/tokens")
    maxSimRerankTail(t, shortlist,
      t.filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id").as("query_id"), col("th").as("qh")),
      ordered = false) // batch landing: the post-stream readback re-sorts
  }

  /** The COMPOSED modern serving stack, hop by hop: keyword
    * shortlist (stored inverted index, depth [[MaxSimShortlist]]) →
    * reciprocal-rank fusion with the stored IVF-PQ vector ranks → MMR
    * diversification over the fused head → MaxSim re-rank of the
    * diversified picks from the stored token-hash table.
    * Each stage localCheckpoints its output — the materialization
    * choice a production stack makes between stages: every
    * intermediate frame is RESULT-scale (≤ queries×50 rows, corpus-
    * independent by each stage's own serving discipline), so
    * checkpointing costs nothing and keeps a stage's lineage from
    * re-executing inside the next stage's plan. Stages must run in
    * order; outputs thread through the captured vars. */
  private[graft] def servingStackStages(spark: SparkSession, dir: String)
      : Seq[(String, () => DataFrame)] =
    servingStackStagesFor(spark, dir,
      Tables.documents(spark, dir).filter(col("doc_id") < 10)
        .select(col("doc_id"), col("text")))

  /** The same staged composition over an EXPLICIT query-doc frame
    * (doc_id, text) — so a streamed serving loop (s26) can run the
    * whole stack per micro-batch of queries against the four frozen
    * indexes, exactly as s20 does for the bare keyword channel. The
    * query-id list is collected once (query-BATCH-scale, ≤ the
    * micro-batch size) and drives every per-channel query predicate:
    * the vector probes, the MMR relevance slice, and the token-hash
    * query fetch all push `vec_id/doc_id IN (batch)` onto their
    * stored artifacts. Every stage is per-query decomposable, so the
    * union of per-batch results ≡ the one-shot run — a31's oracle
    * gates s26 unchanged. */
  private[graft] def servingStackStagesFor(spark: SparkSession, dir: String,
      qdocs: DataFrame, finalOrdered: Boolean = true): Seq[(String, () => DataFrame)] =
    servingStackPrepared(spark, dir)(qdocs, finalOrdered)

  /** The stack with its FROZEN-artifact resolution hoisted (r17): a
    * serving loop (s26) resolves the four stage paths, their reader
    * frames and the IVF meta ONCE at loop start — the daemon's startup
    * reads — and then builds a per-micro-batch stage list from them.
    * Re-resolving per batch cost one `.head` job plus ~10 driver
    * footer/listing reads per batch (guide §1: the per-batch fixed
    * costs were the query). One-shot callers go through
    * [[servingStackStagesFor]], same body. */
  private[graft] def servingStackPrepared(spark: SparkSession, dir: String)
      : (DataFrame, Boolean) => Seq[(String, () => DataFrame)] = {
    import graft.expressions.TopKByScore
    val kwSt = keywordIndexStage(spark, dir)
    val kwTerms = spark.read.parquet(s"$kwSt/terms")
      .select(col("term"), col("term_id"), col("df"))
    val kwPostings = spark.read.parquet(s"$kwSt/postings")
    // frozen IVF-PQ serving context, resolved ONCE per loop (r17):
    // meta + (probes, L), plus coarse centroids and codebooks collected
    // as driver-local relations so per-batch broadcast builds over them
    // are job-free and their scans leave the per-batch plans
    val ivfCtx = ivfServeCtx(spark, dir)
    val tokens = spark.read.parquet(s"${tokenHashStage(spark, dir)}/tokens")
    (qdocs: DataFrame, finalOrdered: Boolean) => {
    // every hop is pinned as a driver-local relation (ServingPins r17):
    // intermediates are query-batch-scale (≤ queries×50 rows), so the
    // pin is one collect, and a stage's lineage never re-executes
    // inside the next stage's plan while downstream broadcasts of the
    // pinned frame are job-free.
    ServingPins.openGeneration(s"stack:$dir")
    def pin(df: DataFrame): DataFrame = ServingPins.pin(s"stack:$dir", spark, df)
    lazy val queryIds: Seq[Long] = qdocs.select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    var kwShort: DataFrame = null
    var fused: DataFrame = null
    var picked: DataFrame = null
    Seq(
      ("kw shortlist d50", () => {
        kwShort = pin(kwPrunedSearchFor(spark,
          qdocs.select(col("doc_id").as("query_id"),
              explode(TF.words(col("text"))).as("term"))
            .distinct(),
          kwTerms, kwPostings, outK = MaxSimShortlist,
          ordered = false)) // pinned set-valued shortlist
        kwShort
      }),
      ("hybrid RRF top-20", () => {
        val vec = ivfSearchWith(ivfCtx, spark, dir,
            queryFilter = col("vec_id").isin(queryIds: _*),
            ordered = false) // joined into the fuse: order unobserved
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rank").as("vec_rank"))
        fused = pin(kwShort.select(col("query_id"), col("doc_id"), col("kw_rank"))
          .join(vec, Seq("query_id", "doc_id"), "full_outer")
          .withColumn("rrf_score", expr(
            "CAST(coalesce(1000000 DIV (60 + kw_rank), 0) + " +
              "coalesce(1000000 DIV (60 + vec_rank), 0) AS BIGINT)"))
          .groupBy(col("query_id"))
          .agg(TopKByScore(col("rrf_score"), col("doc_id"), 20).as("top"))
          .select(col("query_id"), posexplode(col("top")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
            col("col.id").as("doc_id")))
        fused
      }),
      (s"MMR diversify $MmrShortlist->$MmrSelect", () => {
        picked = pin(mmrOverShortlist(spark, dir,
          fused.filter(col("rank") <= MmrShortlist)
            .select(col("query_id"), col("doc_id").as("cand_id")),
          col("vec_id").isin(queryIds: _*)))
        picked
      }),
      ("MaxSim re-rank picks", () => {
        val ids = picked.select(col("selected_id"))
          .collect().map(_.getLong(0)).distinct.sorted.toSeq
        val q = tokens.filter(col("doc_id").isin(queryIds: _*))
          .select(col("doc_id").as("query_id"), col("th").as("qh"))
        val out = tokens.filter(col("doc_id").isin(ids: _*))
          .join(broadcast(picked
            .select(col("query_id"), col("selected_id").as("doc_id"))), Seq("doc_id"))
          .join(broadcast(q), Seq("query_id"))
          .withColumn("ms", graft.expressions.MaxSim(col("qh"), col("th")))
          .groupBy(col("query_id"))
          .agg(TopKByScore(col("ms"), col("doc_id"), MmrSelect).as("top"))
          .select(col("query_id"), posexplode(col("top")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
            col("col.id").as("doc_id"), col("col.score").as("ms_score"))
        // finalOrdered = false when this stage feeds a batch-keyed
        // landing whose readback re-sorts (s26); true for the one-shot
        // a31, whose returned frame IS the declared sorted output
        if (finalOrdered) out.orderBy(col("query_id"), col("rank")) else out
      }))
    }
  }

  /** The a30 CORPUS-HALF token-hash base stage — a28's layout built
    * from the even doc_ids only (the a12/a20 even/odd increment
    * protocol replayed on the late-interaction index): the frozen base
    * an append-only token index updates against. Unlike the keyword
    * channel there are NO cross-document statistics here — a token-
    * hash row is a pure per-doc function — so appends carry zero
    * approximation (no idf drift, no segment-local dictionary): base ∪
    * increment is EXACTLY the full-corpus index, which is why a30
    * hash-gates against a27's inline oracle. */
  def a30TokenBaseStage(spark: SparkSession, dir: String): String =
    stageTokenTable(spark, dir, "a30th", col("doc_id") % 2 === 0,
      partitions = 4)

  /** a30 — APPEND-ONLY token-hash index update + search: the index
    * lifecycle the late-interaction channel was missing (every other
    * persisted index has one — a12 PQ codes, a20 keyword postings,
    * p27 z-order generations, m09→s24 image hashes). The increment
    * (odd doc_ids) is tokenized at APPEND time — the only moment text
    * is touched — and unioned with the frozen stored base at search;
    * stored rows are never rewritten (AnalyticsSpec pins the base
    * parquet byte-identical across updates). Because a token-hash row
    * is a pure per-doc function, base ∪ increment ≡ the full inline
    * index EXACTLY — a30 hash-gates against a27's oracle, the
    * strongest gate in the family (a20 tolerates frozen-idf drift by
    * construction; a30 tolerates nothing). Search is a28's brute tail
    * here to gate the whole union; the pruned serving form over an
    * appended index is a29's step 2 verbatim (IN-list over base and
    * increment alike). */
  def a30TokenIndexUpdate(spark: SparkSession, dir: String): DataFrame = {
    val stage = a30TokenBaseStage(spark, dir)
    val inc = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), tokHashes(col("text")).as("th"))
    val t = spark.read.parquet(s"$stage/tokens").unionByName(inc)
    maxSimTail(
      t.select(col("doc_id"), col("th").as("dh")),
      t.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("th").as("qh")))
  }

  /** The a32 increment SEGMENT stage: the odd-id token hashes
    * persisted as their own doc_id-sorted segment BESIDE the frozen
    * a30 base — the landed form an append actually leaves on disk
    * (a20's segment protocol on the token channel; a30 tokenizes the
    * increment inline to gate the layout algebra, this stage is the
    * persisted artifact serving reads). Keyed by a content
    * fingerprint of documents.parquet. */
  private[queries] def stageA32IncrementSegment(spark: SparkSession, dir: String): String =
    stageTokenTable(spark, dir, "a32seg", col("doc_id") % 2 === 1,
      partitions = 2)

  /** a32 — the shortlist re-rank SERVED FROM THE APPENDED token
    * index: a29's exact composition reading base ∪ increment segment
    * instead of the monolithic a28 table — the serving form a30's
    * scaladoc defers ("the pruned serving form over an appended index
    * is a29's step 2 verbatim: IN-list over base and increment
    * alike"), now a query. Catalyst pushes the candidate IN-list and
    * the query doc_id slice into BOTH union branches (PlanAuditSpec
    * pins both scans carry the pushed filter), so serving cost stays
    * candidate-count-shaped no matter how many generations the index
    * has accumulated — appends never force a re-index and never
    * degrade the serve path. Hash-gated with a29's ORACLE: monolithic
    * or generational layout must be output-indistinguishable. */
  def a32RerankAppended(spark: SparkSession, dir: String): DataFrame =
    maxSimRerankServed(spark, dir,
      spark.read.parquet(s"${a30TokenBaseStage(spark, dir)}/tokens")
        .unionByName(
          spark.read.parquet(s"${stageA32IncrementSegment(spark, dir)}/tokens")))

  /** The a33 compaction stage for the GENERATIONAL token-hash layout:
    * a15's segment-merge economics replayed on the token channel. The
    * frozen a30 base (4 files) and the landed a32 increment segment
    * (2 files) are re-merged into ONE doc_id-range-partitioned, sorted
    * token table — exactly [[stageTokenTable]]'s fresh-build layout,
    * so the compacted table is content-identical to the a28 monolith
    * (AnalyticsSpec pins it row for row: compaction of a generational
    * index ≡ a fresh full build). No re-tokenization: compaction reads
    * only stored token rows (a token-hash row is a pure per-doc
    * function — nothing to recompute), costs one linear rewrite of
    * ~72 B/doc index bytes, and buys every subsequent serve fewer
    * files, larger row groups, and one scan instead of a union.
    * File counts before/after recorded in meta (written LAST — the
    * completeness-marker protocol, StagingProtocolSpec). */
  def a33CompactedStage(spark: SparkSession, dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
    val stage = PipelineQueries.staging("a33th", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val basePath = s"${a30TokenBaseStage(spark, dir)}/tokens"
      val segPath = s"${stageA32IncrementSegment(spark, dir)}/tokens"
      def dataFiles(p: String): Long = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
        var n = 0L
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }
      val before = dataFiles(basePath) + dataFiles(segPath)
      spark.read.parquet(basePath).unionByName(spark.read.parquet(segPath))
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(s"$stage/tokens")
      spark.read.parquet(s"$stage/tokens").agg(count(lit(1)).as("n"))
        .withColumn("files_before", lit(before))
        .withColumn("files_after", lit(dataFiles(s"$stage/tokens")))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** a33 — the shortlist re-rank served from the COMPACTED token
    * index: the lifecycle step after append-only generations (a32),
    * completing the token channel's a15 treatment. The base ∪ segment
    * union is re-merged into one doc_id-sorted table and the serve
    * reads ONLY it — no union of generation scans, no re-tokenize
    * (PlanAuditSpec pins one stored layout in the plan with the
    * candidate IN-list and query slice still pushed: compaction must
    * IMPROVE the serve path, never degrade pushdown). Hash-gated with
    * a29's ORACLE: monolithic, generational, or compacted layout —
    * one answer; compaction is a pure layout change. */
  def a33CompactedRerank(spark: SparkSession, dir: String): DataFrame =
    maxSimRerankServed(spark, dir,
      spark.read.parquet(s"${a33CompactedStage(spark, dir)}/tokens"))

  /** The a34 delete stage for the token channel: a16's tombstone
    * treatment on the generational token-hash layout. A retracted-doc
    * id table (doc_id ≡ 3 mod 7 — ids falling in BOTH generations:
    * even ids land in the a30 base, odd ids in the a32 segment) is
    * persisted beside the index, plus the PURGED table the next
    * delete-applying compaction produces (compacted tokens minus
    * tombstoned rows, re-range-partitioned). Meta written last;
    * live/deleted counts recorded so the spec can pin coverage. */
  def a34DeleteStage(spark: SparkSession, dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/documents.parquet")
    val stage = PipelineQueries.staging("a34del", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/tombstones")
      val tombs = spark.read.parquet(s"$stage/tombstones")
      spark.read.parquet(s"${a33CompactedStage(spark, dir)}/tokens")
        .join(tombs, Seq("doc_id"), "left_anti")
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(s"$stage/purged")
      Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
        .crossJoin(tombs.agg(count(lit(1)).as("n_tomb")))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** Test hook: the a34 re-rank over the PURGED token table (the
    * post-compaction hard-delete form — no anti-join in the plan).
    * The spec pins it row-identical to [[a34TombstoneRerank]]. */
  def a34PurgedRerank(spark: SparkSession, dir: String): DataFrame =
    maxSimRerankServed(spark, dir,
      spark.read.parquet(s"${a34DeleteStage(spark, dir)}/purged"))

  /** a34 — tombstone DELETES on the generational token index,
    * completing the channel's lifecycle (build a28 → append a30/a32 →
    * stream-ingest s25 → compact a33 → delete a34): the tombstone id
    * list is consulted as a broadcast anti-join on the base ∪ segment
    * union — a deleted doc can never be fetched or scored, with NO
    * rewrite of either generation at delete time, and the tombstone
    * set spans generations (ids ≡ 3 mod 7 hit even base ids and odd
    * segment ids alike). Deletion is TOTAL for a doc: its token rows
    * are gone, so it is neither a candidate NOR a queryable
    * representation (query doc 3 vanishes from the output — a
    * retracted document cannot keep serving as a query vector).
    * The keyword shortlist still runs over the unpurged inverted
    * index, so tombstoned candidates waste their shortlist slots
    * until that index's own compaction (which exists: a35's
    * re-statting merge + a36's purge) — the real asymmetry of
    * store-level deletes, priced honestly here and replayed by the
    * oracle (shortlist over the full corpus, tombstone filter at the
    * fetch join). At 100 TB the tombstone set is ids-only
    * (8 B/delete), always broadcastable; [[a34PurgedRerank]] is the
    * physical purge the next compaction applies, pinned
    * row-identical. */
  def a34TombstoneRerank(spark: SparkSession, dir: String): DataFrame = {
    val stage = a34DeleteStage(spark, dir)
    val t = spark.read.parquet(s"${a30TokenBaseStage(spark, dir)}/tokens")
      .unionByName(spark.read.parquet(s"${stageA32IncrementSegment(spark, dir)}/tokens"))
      .join(broadcast(spark.read.parquet(s"$stage/tombstones")),
        Seq("doc_id"), "left_anti")
    maxSimRerankServed(spark, dir, t)
  }

  /** a31 — the COMPOSED modern serving stack as ONE oracle-gated
    * query: keyword shortlist (stored inverted index, depth
    * [[MaxSimShortlist]]) → reciprocal-rank fusion with the stored
    * IVF-PQ ranks (a21's integer RRF) → MMR diversification over the
    * fused top-[[MmrShortlist]] (a25/a26's greedy, λ=0.5) → MaxSim
    * re-rank of the [[MmrSelect]] picks from the stored token-hash
    * table. This is exactly [[servingStackStages]] run hop by hop,
    * promoted to a gated query: the oracle replays the ENTIRE stack
    * inline (a19's pruned tf/df/impact chain at depth 50, a13's full
    * IVF-PQ CTE chain, the RRF fusion, the unrolled 4-step greedy over
    * exact cosines, and the MaxSim arithmetic on the picks), so four stored indexes
    * + three materialization hops + two driver-built IN-list probes
    * must together be output-indistinguishable from the composition
    * of the definitions. Scale: every stage past the keyword probe
    * shuffles candidate-scale rows (PERF.md's per-stage
    * shuffle-record table); nothing here is corpus-coupled except
    * the probe's Σ df(kept terms). */
  def a31StackServed(spark: SparkSession, dir: String): DataFrame = {
    val stages = servingStackStages(spark, dir)
    stages.dropRight(1).foreach(_._2()) // materialize each hop in order
    stages.last._2()
  }

  /** This family's slice of the oracle-SQL map (split from the
    * single oracleSqlBase literal; composed back in
    * [[AnalyticsQueries.oracleSqlBase]]). */
  private[queries] lazy val lateOracles: Map[String, String] = Map(
    // a13's ENTIRE serving chain (coarse cells, probes, ADC, exact
    // re-rank) extended with the same unrolled greedy — the stored-
    // index MMR must select exactly what the greedy picks over the
    // index's own top-12
    // the full late-interaction arithmetic replayed: hash-embedding
    // synthesis per token, the 8x8 token dot matrix, per-query-token
    // max, sum, and the (score DESC, doc_id) top-20 — all integer, so
    // the gate is exact
    "a27_maxsim_rerank" ->
      s"""WITH tk AS (SELECT doc_id,
         |    list_transform(${words("text")}[1:8], _mt -> ${polyHash("_mt")}) AS hs
         |  FROM documents),
         |q AS (SELECT doc_id AS query_id, hs AS qh FROM tk WHERE doc_id < 10),
         |p AS (SELECT q.query_id, d.doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(q.qh, _mq ->
         |        list_max(list_transform(d.hs, _md ->
         |          list_reduce(list_prepend(CAST(0 AS BIGINT),
         |            list_transform(range(1, 17), _mj ->
         |              ((_mq*_mj + _mj*_mj) % 1001 - 500)
         |                * ((_md*_mj + _mj*_mj) % 1001 - 500))),
         |            (_ma,_mb) -> _ma + _mb))))),
         |      (_na,_nb) -> _na + _nb) AS ms
         |  FROM tk d CROSS JOIN q WHERE d.doc_id <> q.query_id),
         |r AS (SELECT query_id, doc_id, ms,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ms DESC, doc_id)
         |      AS rank FROM p)
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, ms AS ms_score
         |FROM r WHERE rank <= 20 ORDER BY query_id, rank""".stripMargin,
    // the whole re-rank stack replayed inline: a19's pruned-keyword
    // chain (tf/df/impact, top-8-rarest pruning) run to shortlist
    // depth, then the full MaxSim arithmetic on EXACTLY the shortlist
    // pairs — the stored keyword index, the stored token-hash table,
    // and both pushed IN-list probes must together be output-
    // indistinguishable from the inline definition
    "a29_maxsim_served" ->
      s"""WITH t AS (SELECT doc_id, unnest(${words("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
         |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |idf AS (SELECT term, df,
         |    CAST(floor(10000.0 * n.n / df) AS BIGINT) AS idf
         |  FROM dft CROSS JOIN n),
         |idx AS (SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS impact
         |  FROM tf JOIN idf USING (term)),
         |qt AS (SELECT DISTINCT doc_id AS query_id, term FROM tf WHERE doc_id < 10),
         |qk AS (SELECT query_id, term FROM (
         |  SELECT qt.query_id, qt.term, ROW_NUMBER() OVER (
         |      PARTITION BY qt.query_id ORDER BY idf.df ASC, qt.term ASC) AS trk
         |  FROM qt JOIN idf USING (term)) WHERE trk <= $KwKeepTerms),
         |kw AS (SELECT qk.query_id, idx.doc_id,
         |    CAST(SUM(idx.impact) AS BIGINT) AS kw_score
         |  FROM idx JOIN qk USING (term) WHERE idx.doc_id <> qk.query_id
         |  GROUP BY 1, 2),
         |sl AS (SELECT query_id, doc_id FROM (
         |  SELECT query_id, doc_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY kw_score DESC, doc_id) AS kw_rank
         |  FROM kw) WHERE kw_rank <= $MaxSimShortlist),
         |tk AS (SELECT doc_id,
         |    list_transform(${words("text")}[1:8], _mt -> ${polyHash("_mt")}) AS hs
         |  FROM documents),
         |q AS (SELECT doc_id AS query_id, hs AS qh FROM tk WHERE doc_id < 10),
         |p AS (SELECT sl.query_id, sl.doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(q.qh, _mq ->
         |        list_max(list_transform(d.hs, _md ->
         |          list_reduce(list_prepend(CAST(0 AS BIGINT),
         |            list_transform(range(1, 17), _mj ->
         |              ((_mq*_mj + _mj*_mj) % 1001 - 500)
         |                * ((_md*_mj + _mj*_mj) % 1001 - 500))),
         |            (_ma,_mb) -> _ma + _mb))))),
         |      (_na,_nb) -> _na + _nb) AS ms
         |  FROM sl JOIN tk d ON d.doc_id = sl.doc_id
         |  JOIN q ON q.query_id = sl.query_id),
         |r AS (SELECT query_id, doc_id, ms,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ms DESC, doc_id)
         |      AS rank FROM p)
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, ms AS ms_score
         |FROM r WHERE rank <= 20 ORDER BY query_id, rank""".stripMargin,
    // a29's full re-rank replay with store-level deletes applied where
    // the STORE applies them: the keyword shortlist runs over the
    // unpurged inverted index (tombstoned docs still burn their
    // shortlist slots — the honest asymmetry of tombstones), while the
    // token-table fetch and the query slice exclude doc_id ≡ 3 mod 7 —
    // a deleted doc is neither a scorable candidate nor a queryable
    // representation, across BOTH generations
    "a34_tombstone_rerank" ->
      s"""WITH t AS (SELECT doc_id, unnest(${words("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
         |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |idf AS (SELECT term, df,
         |    CAST(floor(10000.0 * n.n / df) AS BIGINT) AS idf
         |  FROM dft CROSS JOIN n),
         |idx AS (SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS impact
         |  FROM tf JOIN idf USING (term)),
         |qt AS (SELECT DISTINCT doc_id AS query_id, term FROM tf WHERE doc_id < 10),
         |qk AS (SELECT query_id, term FROM (
         |  SELECT qt.query_id, qt.term, ROW_NUMBER() OVER (
         |      PARTITION BY qt.query_id ORDER BY idf.df ASC, qt.term ASC) AS trk
         |  FROM qt JOIN idf USING (term)) WHERE trk <= $KwKeepTerms),
         |kw AS (SELECT qk.query_id, idx.doc_id,
         |    CAST(SUM(idx.impact) AS BIGINT) AS kw_score
         |  FROM idx JOIN qk USING (term) WHERE idx.doc_id <> qk.query_id
         |  GROUP BY 1, 2),
         |sl AS (SELECT query_id, doc_id FROM (
         |  SELECT query_id, doc_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY kw_score DESC, doc_id) AS kw_rank
         |  FROM kw) WHERE kw_rank <= $MaxSimShortlist),
         |tk AS (SELECT doc_id,
         |    list_transform(${words("text")}[1:8], _mt -> ${polyHash("_mt")}) AS hs
         |  FROM documents),
         |q AS (SELECT doc_id AS query_id, hs AS qh FROM tk
         |  WHERE doc_id < 10 AND doc_id % 7 <> 3),
         |p AS (SELECT sl.query_id, sl.doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(q.qh, _mq ->
         |        list_max(list_transform(d.hs, _md ->
         |          list_reduce(list_prepend(CAST(0 AS BIGINT),
         |            list_transform(range(1, 17), _mj ->
         |              ((_mq*_mj + _mj*_mj) % 1001 - 500)
         |                * ((_md*_mj + _mj*_mj) % 1001 - 500))),
         |            (_ma,_mb) -> _ma + _mb))))),
         |      (_na,_nb) -> _na + _nb) AS ms
         |  FROM sl JOIN tk d ON d.doc_id = sl.doc_id AND d.doc_id % 7 <> 3
         |  JOIN q ON q.query_id = sl.query_id),
         |r AS (SELECT query_id, doc_id, ms,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ms DESC, doc_id)
         |      AS rank FROM p)
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, ms AS ms_score
         |FROM r WHERE rank <= 20 ORDER BY query_id, rank""".stripMargin,
    // the ENTIRE composed serving stack replayed inline: a13's full
    // IVF-PQ CTE chain (reused verbatim), a19's pruned keyword chain
    // at shortlist depth, a21's integer RRF fusion, the a25/a26
    // unrolled 4-step greedy over exact cosines on the fused top-12,
    // and the MaxSim arithmetic on the picks — four stored indexes +
    // three materialization hops + two pushed IN-list probes must
    // compose to exactly this definition
    "a31_stack_served" ->
      s"""${ivfPqRankedCtes(PqM, PqSubDim, PqK, IvfPqProbes, PqL)},
         |t AS (SELECT doc_id, unnest(${words("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
         |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |idf AS (SELECT term, df,
         |    CAST(floor(10000.0 * n.n / df) AS BIGINT) AS idf
         |  FROM dft CROSS JOIN n),
         |idx AS (SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS impact
         |  FROM tf JOIN idf USING (term)),
         |qt AS (SELECT DISTINCT doc_id AS query_id, term FROM tf WHERE doc_id < 10),
         |qk AS (SELECT query_id, term FROM (
         |  SELECT qt.query_id, qt.term, ROW_NUMBER() OVER (
         |      PARTITION BY qt.query_id ORDER BY idf.df ASC, qt.term ASC) AS trk
         |  FROM qt JOIN idf USING (term)) WHERE trk <= $KwKeepTerms),
         |kw AS (SELECT qk.query_id, idx.doc_id,
         |    CAST(SUM(idx.impact) AS BIGINT) AS kw_score
         |  FROM idx JOIN qk USING (term) WHERE idx.doc_id <> qk.query_id
         |  GROUP BY 1, 2),
         |kwt AS (SELECT query_id, doc_id, kw_rank FROM (
         |  SELECT query_id, doc_id, CAST(ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY kw_score DESC, doc_id) AS INT) AS kw_rank
         |  FROM kw) WHERE kw_rank <= $MaxSimShortlist),
         |vt AS (SELECT query_id, neighbor_id AS doc_id, CAST(rank AS INT) AS vec_rank
         |  FROM r WHERE rank <= 5 AND query_id < 10),
         |f AS (SELECT COALESCE(kwt.query_id, vt.query_id) AS query_id,
         |    COALESCE(kwt.doc_id, vt.doc_id) AS doc_id,
         |    COALESCE(1000000 // (60 + kwt.kw_rank), 0) +
         |      COALESCE(1000000 // (60 + vt.vec_rank), 0) AS rrf_score
         |  FROM kwt FULL OUTER JOIN vt
         |    ON kwt.query_id = vt.query_id AND kwt.doc_id = vt.doc_id),
         |z AS (SELECT query_id, doc_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
         |  FROM f),
         |sl AS (SELECT z.query_id, z.doc_id AS cand_id,
         |    ${cosine(dot("qv9.embedding", "cv9.embedding"), "qv9.nsq", "cv9.nsq")} AS rel
         |  FROM z JOIN ev qv9 ON qv9.vec_id = z.query_id
         |  JOIN ev cv9 ON cv9.vec_id = z.doc_id
         |  WHERE z.rank <= $MmrShortlist),
         |pc AS (SELECT a.query_id, a.cand_id AS ai, b.cand_id AS bi,
         |    ${cosine(dot("ea.embedding", "eb.embedding"), "ea.nsq", "eb.nsq")} AS sim
         |  FROM sl a JOIN sl b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
         |  JOIN ev ea ON ea.vec_id = a.cand_id JOIN ev eb ON eb.vec_id = b.cand_id),
         |$mmrStepCtes,
         |picks AS (SELECT query_id, sel FROM s1
         |  UNION ALL SELECT query_id, sel FROM s2
         |  UNION ALL SELECT query_id, sel FROM s3
         |  UNION ALL SELECT query_id, sel FROM s4),
         |tk9 AS (SELECT doc_id,
         |    list_transform(${words("text")}[1:8], _mt -> ${polyHash("_mt")}) AS hs
         |  FROM documents),
         |p9 AS (SELECT picks.query_id, picks.sel AS doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(qd.hs, _mq ->
         |        list_max(list_transform(dd.hs, _md ->
         |          list_reduce(list_prepend(CAST(0 AS BIGINT),
         |            list_transform(range(1, 17), _mj ->
         |              ((_mq*_mj + _mj*_mj) % 1001 - 500)
         |                * ((_md*_mj + _mj*_mj) % 1001 - 500))),
         |            (_ma,_mb) -> _ma + _mb))))),
         |      (_na,_nb) -> _na + _nb) AS ms
         |  FROM picks JOIN tk9 dd ON dd.doc_id = picks.sel
         |  JOIN tk9 qd ON qd.doc_id = picks.query_id),
         |r9 AS (SELECT query_id, doc_id, ms,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ms DESC, doc_id)
         |      AS rank FROM p9)
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, ms AS ms_score
         |FROM r9 ORDER BY query_id, rank""".stripMargin,
  )

}
