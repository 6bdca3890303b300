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

/** Vector ANN lifecycle family (a01-a18 + PQ/IVF machinery) — one slice of [[AnalyticsQueries]], split along
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
private[queries] trait VectorAnnFamily { this: AnalyticsQueries.type =>

  import Sql._

  /** a01 — brute-force cosine top-5 neighbors for the first 20 vectors
    * (the exactness baseline; 1M codegen'd fold evaluations at sf0.1).
    *
    * Scale shape: the ≤20-row QUERY side is the broadcast build side
    * and the corpus streams past it — never the reverse (a corpus
    * broadcast is an executor OOM at 100 TB). Per-query top-k runs
    * through the bounded-heap [[graft.expressions.TopKByScore]]
    * aggregate keyed by [[graft.expressions.DoubleSortKey]] (an
    * order-preserving double→long map, so ranks — ties included — are
    * bit-identical to ranking the double itself): each map task
    * reduces its corpus slice to ≤ k pairs per query before the
    * exchange, so the post-scan shuffle is queries×k rows, not a
    * per-query window sort over n·queries scored rows. */
  def a01BruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{DoubleSortKey, TopKByScore}
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), Vectors.normSq(col("embedding")).as("nsq"))
    val q = e.filter(col("vec_id") < 20).toDF("query_id", "qe", "qn")
    val c = e.toDF("neighbor_id", "ce", "cn")
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Vectors.cosine(col("qe"), col("ce"), col("qn"), col("cn")))
      .groupBy(col("query_id"))
      .agg(TopKByScore(DoubleSortKey(col("sim")), col("neighbor_id"), 5).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col").getField("id").as("neighbor_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** a02 — LSH-bucketed ANN (8 random hyperplanes → 256 buckets): the
    * scale path; candidates = same-bucket vectors only. */
  def a02LshAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        Vectors.normSq(col("embedding")).as("nsq"),
        Vectors.lshBucket(col("embedding"), 8).as("bucket"))
    val q = e.filter(col("vec_id") < 20).toDF("query_id", "qe", "qn", "bucket")
    val c = e.toDF("neighbor_id", "ce", "cn", "bucket")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Vectors.cosine(col("qe"), col("ce"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Multi-probe width for a03: each query searches its 4 nearest
    * cells instead of only its own. Keep in sync with the oracle SQL. */
  lazy val IvfProbes = 4

  /** a03 — IVF-flat ANN, the inverted-file scale path:
    *
    *   - **coarse quantizer**: k = min(⌈√n⌉, 64) centroids, sampled
    *     deterministically as the k lowest vec_ids (ids carry no order
    *     information in this corpus, so first-k is a uniform sample).
    *     Trained k-means centroids are deliberately NOT used: grouped
    *     float averaging has engine-dependent summation order, which
    *     would break the bitwise cross-engine parity that makes the
    *     ranking oracle exact — and a sampled quantizer is the standard
    *     IVF-flat bootstrap anyway. k is CONSTANT in corpus size
    *     (capped), so assignment compute is O(n·k), not O(n²/100).
    *   - **index build**: nearest-centroid assignment via ONE
    *     map-side-combined shuffle — the n·k candidate pairs are
    *     generated narrowly under a broadcast nested-loop join and
    *     collapse to one row per vector by partial `max_by` before the
    *     exchange, so shuffle volume is n rows, not n·k.
    *   - **search**: each query probes its top-`IvfProbes` cells
    *     (multi-probe recovers the recall single-probe IVF loses on
    *     weakly-clustered data) and the probe list is BROADCAST onto
    *     the index — the corpus never shuffles at query time. */
  def a03IvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), Vectors.normSq(col("embedding")).as("nsq"))
    val k = math.min(math.ceil(math.sqrt(e.count().toDouble)).toLong, 64L)
    val cent = e.orderBy(col("vec_id")).limit(k.toInt)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("nsq").as("cnsq"))
    val pairs = e.join(broadcast(cent), lit(true))
      .withColumn("csim", Vectors.cosine(col("embedding"), col("cemb"), col("nsq"), col("cnsq")))
    // inverted file: nearest centroid per vector (ties → lowest cid);
    // max_by over (csim, -cid) == argmax csim with lowest-cid tiebreak
    val cells = pairs.groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("csim"), (-col("cid")).as("tie"))).as("cid"),
        first(col("embedding")).as("ce"), first(col("nsq")).as("cn"))
      .select(col("vec_id").as("neighbor_id"), col("cid"), col("ce"), col("cn"))
    val wProbe = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    val probes = pairs.filter(col("vec_id") < 20)
      .withColumn("crk", row_number().over(wProbe))
      .filter(col("crk") <= IvfProbes)
      .select(col("vec_id").as("query_id"), col("cid"),
        col("embedding").as("qe"), col("nsq").as("qn"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(probes).join(cells, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Vectors.cosine(col("qe"), col("ce"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** a05 — scalar-quantized (int8-style) similarity search: embeddings
    * quantize once to `array<int>` codes in [-127,127] (native
    * [[graft.expressions.QuantizeI8]]), and candidate scoring runs on
    * exact integer dot products ([[graft.expressions.IntDot]]) — the
    * FAISS-SQ8 memory-bandwidth lever: a 100 TB float corpus becomes
    * 25 TB of codes and every comparison moves 4× less data. Top-3 by
    * quantized cosine for the first 20 queries; the oracle replays the
    * identical quantization (floor(x·s+0.5) — the one rounding with
    * equal JVM/DuckDB semantics), so ranks are hash-exact. Recall vs
    * the float-exact a01 is pinned in AnalyticsSpec.
    *
    * Scale shape (this IS the claimed 100 TB path, so the plan has to
    * earn it): the ≤20-row query side is broadcast, the quantized
    * corpus only streams — scan → broadcast-NLJ against 20 rows →
    * partial top-k heaps → a queries×k shuffle. No corpus broadcast,
    * no window sort; [[graft.expressions.DoubleSortKey]] makes the
    * double ranking ride the long-keyed [[graft.expressions.TopKByScore]]
    * with bit-identical order. */
  def a05QuantizedAnn(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{DoubleSortKey, IntDot, QuantizeI8, TopKByScore}
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), QuantizeI8(col("embedding")).as("q"))
      .withColumn("qn", IntDot(col("q"), col("q")))
      .filter(col("qn") > 0)
    val q = e.filter(col("vec_id") < 20).toDF("query_id", "qq", "qqn")
    val c = e.toDF("neighbor_id", "cq", "cqn")
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("qsim", IntDot(col("qq"), col("cq")).cast("double") /
        (sqrt(col("qqn").cast("double")) * sqrt(col("cqn").cast("double"))))
      .groupBy(col("query_id"))
      .agg(TopKByScore(DoubleSortKey(col("qsim")), col("neighbor_id"), 3).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col").getField("id").as("neighbor_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** a06 — per-label centroid + outlier over QUANTIZED codes: the
    * embedding-analytics companion to a05. Centroids are fixed-point
    * integer means per dimension (⌊10⁴·Σq/n⌋ — grouped float averaging
    * would be summation-order-dependent and break cross-engine parity;
    * integer sums are exact in any order), and each member's distance
    * to its label centroid uses the algebraic identity
    * Σ(10⁴·q − m)² = 10⁸·⟨q,q⟩ + ⟨m,m⟩ − 2·10⁴·⟨q,m⟩ — three native
    * [[graft.expressions.IntDot]] calls, zero per-element lambdas. The
    * per-label argmax runs through [[graft.expressions.TopKByScore]]
    * (k=1), so the whole query is scan → one (label,dim) hash-agg →
    * broadcast centroids back → one top-k agg. Output: each label's
    * population and its farthest member (the mislabeled-cluster /
    * outlier-mining primitive). */
  def a06QuantizedCentroids(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{IntDot, QuantizeI8, TopKByScore}
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), QuantizeI8(col("embedding")).as("q"))
    // per-(label, dim) integer sums → fixed-point centroid coordinate
    val byDim = q.select(col("label"), posexplode(col("q")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .withColumn("m4", floor(lit(10000.0) * col("s") / col("n")).cast("long"))
    // centroid vector per label, dimension-ordered (collect_list has no
    // order guarantee — sort the (dim, m4) structs, then project)
    val cent = byDim.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m4")))),
        e => e.getField("m4").cast("int")).as("m"))
    val dist = q.join(broadcast(cent), Seq("label"))
      .withColumn("dist",
        lit(100000000L) * IntDot(col("q"), col("q")) + IntDot(col("m"), col("m"))
          - lit(20000L) * IntDot(col("q"), col("m")))
    dist.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        TopKByScore(col("dist"), col("vec_id"), 1).as("top"))
      .select(col("label"), col("n_vecs"),
        col("top").getItem(0).getField("id").as("outlier_id"),
        col("top").getItem(0).getField("score").as("dist"))
      .orderBy(col("label"))
  }

  /** a07 — SEMANTIC decontamination, the embedding companion to the
    * shingle-based d09: flag every corpus vector whose cosine to ANY
    * held-out eval vector (vec_id < 20, the benchmark stand-in) is
    * ≥ 0.30 — the paraphrased-leak sweep a token-overlap check misses.
    * Scale shape: the tiny eval side broadcasts, the corpus only
    * streams past it, output is linear in matches — a scan, no
    * shuffle of corpus data at all. Thresholding on a FLOAT is safe
    * here and only here because both engines compute bit-identical
    * sims (strict ascending-index IEEE fold on both sides — the same
    * parity d05/a01 rankings rely on), so `sim >= τ` is exact, not
    * approximate. */
  def a07SemanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), Vectors.normSq(col("embedding")).as("nsq"))
    val q = e.filter(col("vec_id") < 20).toDF("eval_id", "qe", "qn")
    val c = e.filter(col("vec_id") >= 20).toDF("corpus_id", "ce", "cn")
    c.join(broadcast(q), lit(true))
      .withColumn("sim", Vectors.cosine(col("qe"), col("ce"), col("qn"), col("cn")))
      .filter(col("sim") >= 0.30)
      .select(col("corpus_id"), col("eval_id"))
      .orderBy(col("corpus_id"), col("eval_id"))
  }

  /** a08 — distributed k-means over QUANTIZED embeddings (two Lloyd
    * iterations, corpus-scaled k = ⌈√n⌉ clamped to [8,64], see
    * [[scaledK]]): the clustering primitive behind SemDeDup-style
    * semantic dedup and IVF index builds, in the engine-exact integer
    * form. Init = the k lowest-id int8 codes lifted to the 10⁴
    * fixed-point domain; assignment = argmin of the exact integer
    * distance algebra `10⁸·q·q + m·m − 2·10⁴·q·m` (a06's identity)
    * taken with the bounded top-1 heap (ties → lower centroid id);
    * update = per-(cluster, dim) integer sums → ⌊10⁴·mean⌋ — order-
    * independent, so cross-engine exact with no float accumulation
    * anywhere. Scale shape per iteration: centroids BROADCAST (k·dim
    * ints), the corpus only streams past them, the top-1 heap is
    * partial-aggregated so the exchange carries one (vec, cluster)
    * pair per vector, and the update is one map-side-combined
    * hash-agg. Nothing quadratic, no driver-side data but the k·dim
    * centroid table itself. */
  def a08KmeansQuantized(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{IntDot, QuantizeI8, TopKByScore}
    val k = scaledK(spark, dir)
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), QuantizeI8(col("embedding")).as("q"))
    val c0 = q.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"),
        transform(col("q"), x => x * lit(10000)).as("m"))
    def assign(cent: DataFrame): DataFrame =
      q.join(broadcast(cent), lit(true))
        .withColumn("dist",
          lit(100000000L) * IntDot(col("q"), col("q")) + IntDot(col("m"), col("m"))
            - lit(20000L) * IntDot(col("q"), col("m")))
        .groupBy(col("vec_id"))
        .agg(TopKByScore((-col("dist")).cast("long"), col("cid").cast("long"), 1).as("top"))
        .select(col("vec_id"),
          col("top").getItem(0).getField("id").as("cid"),
          (-col("top").getItem(0).getField("score")).as("dist"))
    def update(assigned: DataFrame): DataFrame =
      assigned.select(col("vec_id"), col("cid")).join(q, Seq("vec_id"))
        .select(col("cid"), posexplode(col("q")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .withColumn("m4", floor(lit(10000.0) * col("s") / col("n")).cast("long"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m4")))),
          e => e.getField("m4").cast("int")).as("m"))
    val a2 = assign(update(assign(c0)))
    a2.select(col("vec_id"), col("cid").as("cluster"), col("dist"))
      .orderBy(col("vec_id"))
  }

  /** Corpus-scaled cluster count for the k-means family (a08 clustering,
    * a10's coarse quantizer, d12's SemDeDup scope): k = ⌈√n⌉ clamped to
    * [8, 64] — the standard √n heuristic, so cluster populations and the
    * d12 Σ cluster² pair bound both grow like √n instead of n. The
    * oracle computes the identical value via the `kp` scalar CTE
    * (GREATEST/LEAST over ceil(sqrt(COUNT(*)))), so the hash gate pins
    * the scaling itself. IEEE sqrt/ceil are correctly-rounded in both
    * engines — no boundary drift. */
  private[queries] def scaledK(spark: SparkSession, dir: String): Int = {
    val n = Tables.embeddings(spark, dir).count()
    math.max(8L, math.min(64L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
  }

  /** a10's probe count grows with the cell count (probe ~k/8 cells,
    * floor [[IvfPqProbes]]) — a fixed probe count over √n cells would
    * shrink the probed corpus fraction as n grows. Oracle mirror:
    * GREATEST($p, ceil(k/8.0)) over the same kp CTE. */
  private[queries] def scaledProbes(k: Int): Int =
    math.max(IvfPqProbes, math.ceil(k / 8.0).toInt)

  /** a09's PQ geometry, shared by the Spark program and the generated
    * DuckDB oracle so the two can never drift: M subspaces of subDim
    * dims each (M·subDim = the embedding dim), K centroids per
    * subspace — K^M = 65536 addressable cells. */
  private[queries] lazy val PqM = 4
  private[queries] lazy val PqSubDim = 16
  private[queries] lazy val PqK = 16

  /** ADC shortlist FLOOR per query before the exact re-rank. The
    * effective size scales with the corpus — `max(PqL, n/20)`, i.e.
    * at least 5% of corpus rows — because a fixed shortlist's recall
    * decays as the corpus grows past it (measured at 10× corpus,
    * PERF.md: 0.86 → 0.46 with a hard L=100). Both engines compute the
    * same size: Spark from `count()`, the oracle from a
    * `GREATEST(L, (SELECT COUNT(*) ...) // 20)` scalar subquery. */
  private[queries] lazy val PqL = 100

  private[queries] def pqShortlistSize(spark: SparkSession, dir: String): Int =
    math.max(PqL.toLong, Tables.embeddings(spark, dir).count() / 20).toInt

  /** a10: coarse cells probed per query (of the 8 k-means cells). */
  private[queries] lazy val IvfPqProbes = 3

  /** a09 — PRODUCT-QUANTIZED ANN (Jégou et al. TPAMI'11 / FAISS PQ,
    * public), the billion-scale memory lever past a05's SQ8: the
    * 64-dim space splits into [[PqM]] subspaces; each subspace trains
    * its own [[PqK]]-centroid codebook (one Lloyd iteration of the a08
    * integer machinery over per-subvector int8 codes) and every corpus
    * vector compresses to M centroid IDs — one byte per subspace
    * instead of 256 float bytes. Search is ASYMMETRIC (ADC): the uncompressed
    * query's subcodes score against each corpus vector's reconstructed
    * centroids, distance = Σₘ intDist(queryₘ, centroid[codeₘ]) — exact
    * integer algebra end to end, so shortlists are engine-identical.
    * The scoring is the production ADC-lookup form: per subspace, a
    * queries×K table of query-to-centroid integer distances is
    * precomputed and broadcast, so a corpus row is scored with M
    * hash-lookups + M adds on its one-byte codes — centroid arrays
    * never ride corpus rows. Search is the FAISS two-stage refine
    * shape: ADC prunes the corpus to the [[PqL]]-candidate shortlist
    * per query (bounded heap, shuffle queries×L), then ONLY shortlist
    * rows fetch their float vectors (shortlist broadcasts back onto
    * the corpus scan) for an exact-cosine top-5 re-rank — at 100 TB
    * the float corpus is touched for L/n of its rows, the rest is
    * scored on 4 one-byte codes. Both stages are deterministic (ties
    * break on vec_id; the re-rank cosine folds in strict ascending
    * index order, a01's parity), so the full top-5 table hash-gates.
    * Plan pinned in PlanAuditSpec; recall vs the float-exact a01
    * pinned in AnalyticsSpec at both unit and bench scale. */
  def a09PqAnn(spark: SparkSession, dir: String): DataFrame =
    pqAdcSearch(spark, dir, buildPqIndex(spark, dir))

  /** The a09 search stages over an already-built [[PqIndex]]: ADC
    * scoring via broadcast LUT equi-joins, per-query top-L shortlist
    * (bounded heap, ties on vec_id — lockstep with the oracle's
    * ROW_NUMBER(d, vec_id)), exact-cosine re-rank. Shared by a09
    * (inline build) and a12 (corpus-trained build). */
  private[queries] def pqAdcSearch(spark: SparkSession, dir: String, ix: PqIndex): DataFrame = {
    import graft.expressions.TopKByScore
    var scored = ix.corpus.join(broadcast(ix.luts(0)), Seq("cid0"))
    (1 until PqM).foreach { m =>
      scored = scored.join(broadcast(ix.luts(m)), Seq(s"cid$m", "query_id"))
    }
    val shortlist = scored.filter(col("query_id") =!= col("vec_id"))
      .withColumn("d", (0 until PqM).map(m => col(s"d$m")).reduce(_ + _))
      .groupBy(col("query_id"))
      .agg(TopKByScore((-col("d")).cast("long"), col("vec_id"),
        pqShortlistSize(spark, dir)).as("top"))
      .select(col("query_id"), explode(col("top")).as("c"))
      .select(col("query_id"), col("c").getField("id").as("vec_id"))
    pqExactRerank(spark, dir, shortlist)
  }

  /** The a12 CORPUS index: the persisted artifact an increment appends
    * to — codebooks trained on the corpus half only (even vec_ids —
    * the stand-in for "yesterday's data", d13's convention), the
    * corpus half's one-byte codes encoded against them, and meta(n)
    * written LAST as the completeness marker (n = the FULL table count,
    * so search sizes its shortlist without a rescan). Same
    * content-fingerprint keying as [[stagePqIndex]]. */
  def a12CorpusIndexStage(spark: SparkSession, dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/embeddings.parquet")
    val stage = PipelineQueries.staging("a12pq", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val ix = buildPqIndex(spark, dir, trainCorpusOnly = true)
      ix.corpus.filter(col("vec_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$stage/codes")
      ix.cbs.zipWithIndex
        .map { case (cb, m) => cb.withColumn("m", lit(m)) }
        .reduce(_ union _)
        .write.mode("overwrite").parquet(s"$stage/codebooks")
      Tables.embeddings(spark, dir).agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** a12 — INCREMENTAL PQ index update, append-only (the FAISS `add`
    * path, and the ANN analogue of p10/d13's corpus-index increments):
    * the CORPUS half lives in a persisted index ([[a12CorpusIndexStage]] —
    * stored one-byte codes + frozen codebooks trained on the corpus
    * only), and the increment (odd vec_ids) is ENCODED at update time
    * against those frozen codebooks — [[pqEncodeAgainst]], M
    * argmin-over-K assignments per increment row — then UNIONED with
    * the stored corpus codes. No retraining, and the corpus is never
    * re-encoded: the stored code rows are read, not recomputed
    * (pinned byte-identical across updates in AnalyticsSpec; the plan
    * contains no training checkpoints, pinned in PlanAuditSpec).
    * That is the 100 TB cost model for real: a daily increment pays
    * O(increment), not O(corpus). Search runs the full a09 ADC +
    * re-rank over corpus∪increment codes, so the oracle hash pins
    * that increment rows are findable through corpus-trained
    * codebooks. Quantization drift (codebooks slowly going stale as
    * the distribution shifts) is the documented trade — FAISS
    * re-trains offline on a schedule, same here. */
  def a12PqIndexUpdate(spark: SparkSession, dir: String): DataFrame = {
    val stage = a12CorpusIndexStage(spark, dir)
    val corpusCodes = spark.read.parquet(s"$stage/codes")
    val cbAll = spark.read.parquet(s"$stage/codebooks")
    val n = spark.read.parquet(s"$stage/meta").head.getAs[Long]("n")
    val emb = Tables.embeddings(spark, dir)
    val incCodes = pqEncodeAgainst(
      pqSubcodes(emb.filter(col("vec_id") % 2 === 1)), cbAll)
    val codes = corpusCodes.unionByName(incCodes)
    val qside = pqSubcodes(emb.filter(col("vec_id") < 20))
      .withColumnRenamed("vec_id", "query_id")
    pqAdcTail(spark, dir, codes, pqLutsFrom(qside, cbAll),
      math.max(PqL.toLong, n / 20).toInt)
  }

  /** The integer ADC distance algebra shared by every quantized query:
    * `10⁸·q·q + mm·mm − 2·10⁴·q·mm` ∝ ‖10⁴·q − mm‖². */
  private[queries] def pqDist(q: Column, mm: Column): Column = {
    import graft.expressions.IntDot
    lit(100000000L) * IntDot(q, q) + IntDot(mm, mm) - lit(20000L) * IntDot(q, mm)
  }

  /** Shared PQ index (a09 / a10): per-subspace int8 codes `sub`,
    * per-subspace codebooks `cbs`, corpus one-byte code columns
    * `corpus(vec_id, cid0..cidM-1)`, and the per-query broadcast ADC
    * lookup tables `luts(m)(query_id, cidm, dm)`. */
  private[queries] final case class PqIndex(
      sub: DataFrame, cbs: Seq[DataFrame], corpus: DataFrame, luts: Seq[DataFrame])

  /** Per-subspace int8 subcodes `(vec_id, q0..qM-1)` of an embedding
    * frame — the quantization every PQ stage shares (training input,
    * corpus encoding, query-side LUT building). */
  private[queries] def pqSubcodes(df: DataFrame): DataFrame = {
    import graft.expressions.QuantizeI8
    df.select(col("vec_id") +: (0 until PqM).map(m =>
      QuantizeI8(slice(col("embedding"), lit(m * PqSubDim + 1), lit(PqSubDim))).as(s"q$m")): _*)
  }

  /** Encode subcode rows into M one-byte codes against a FROZEN
    * codebook union `cbAll(m, cid, mm)` — melt to a row per (vector,
    * subspace), argmin over the broadcast codebooks, pivot the M codes
    * back to columns. This is the FAISS `add` path: NO training, one
    * pass over exactly the input rows — what a daily increment pays
    * (a12), and what the one-time corpus encode pays at build time
    * (a09/a11's stage). Two tiny-row exchanges instead of M
    * per-subspace joins stitched on vec_id. */
  private[queries] def pqEncodeAgainst(sub: DataFrame, cbAll: DataFrame): DataFrame = {
    import graft.expressions.TopKByScore
    val assigned = sub
      .select(col("vec_id"), posexplode(array((0 until PqM).map(m => col(s"q$m")): _*)))
      .toDF("vec_id", "m", "q")
      .join(broadcast(cbAll.select(col("m"), col("cid"), col("mm"))), Seq("m"))
      .withColumn("d", pqDist(col("q"), col("mm")))
      .groupBy(col("vec_id"), col("m"))
      .agg(TopKByScore((-col("d")).cast("long"), col("cid").cast("long"), 1).as("top"))
      .select(col("vec_id"), col("m"), col("top").getItem(0).getField("id").as("cid"))
    val codeCols = (0 until PqM).map(m => max(when(col("m") === m, col("cid"))).as(s"cid$m"))
    assigned.groupBy(col("vec_id")).agg(codeCols.head, codeCols.tail: _*)
  }

  /** Per-subspace broadcast ADC lookup tables from a codebook union
    * table: queries×K integer distances per subspace, so scoring a
    * code row is M hash-lookups + M adds. `qside` must carry
    * `(query_id, q0..qM-1)`. */
  private[queries] def pqLutsFrom(qside: DataFrame, cbAll: DataFrame): Seq[DataFrame] = {
    // ONE melted plan (query subcodes exploded per subspace × broadcast
    // codebooks) instead of M independently-planned cross-joins: the
    // result is queries×K×M integer distances — metadata-scale —
    // collected once and re-planned as M driver-local LUT relations, so
    // every downstream broadcast(luts(m)) build is job-free and the M
    // per-subspace codebook scans collapse into one (r17 §1: the ADC
    // executions' broadcast-build jobs were a top fixed cost per serve)
    val spark = qside.sparkSession
    val melted = qside
      .select(col("query_id"),
        posexplode(array((0 until PqM).map(m => col(s"q$m")): _*)))
      .toDF("query_id", "m", "qq")
      .join(broadcast(cbAll.select(col("m"), col("cid"), col("mm"))), Seq("m"))
      .select(col("m"), col("query_id"), col("cid"),
        pqDist(col("qq"), col("mm")).as("d"))
    val rows = melted.collect()
    (0 until PqM).map { m =>
      val sub = rows.filter(_.getInt(0) == m).map(r =>
        org.apache.spark.sql.Row(r.get(1), r.get(2), r.get(3)))
      spark.createDataFrame(java.util.Arrays.asList(sub: _*),
        org.apache.spark.sql.types.StructType(Seq(
          melted.schema("query_id"),
          melted.schema("cid").copy(name = s"cid$m"),
          melted.schema("d").copy(name = s"d$m"))))
    }
  }

  /** The shared ADC search tail: LUT equi-joins over a code table
    * (optionally pre-joined with a probe list that already carries
    * `query_id` — a13's IVF case), per-query top-L shortlist (bounded
    * heap, ties on vec_id), exact-cosine re-rank. */
  private[queries] def pqAdcTail(spark: SparkSession, dir: String, codes: DataFrame,
      luts: Seq[DataFrame], shortlistL: Int, outK: Int = 5,
      ordered: Boolean = true): DataFrame = {
    import graft.expressions.TopKByScore
    val firstKeys =
      if (codes.columns.contains("query_id")) Seq("cid0", "query_id") else Seq("cid0")
    var scored = codes.join(broadcast(luts(0)), firstKeys)
    (1 until PqM).foreach { m =>
      scored = scored.join(broadcast(luts(m)), Seq(s"cid$m", "query_id"))
    }
    val shortlist = scored.filter(col("query_id") =!= col("vec_id"))
      .withColumn("d", (0 until PqM).map(m => col(s"d$m")).reduce(_ + _))
      .groupBy(col("query_id"))
      .agg(TopKByScore((-col("d")).cast("long"), col("vec_id"), shortlistL).as("top"))
      .select(col("query_id"), explode(col("top")).as("c"))
      .select(col("query_id"), col("c").getField("id").as("vec_id"))
    pqExactRerank(spark, dir, shortlist, outK, ordered)
  }

  private[queries] def buildPqIndex(spark: SparkSession, dir: String,
      trainCorpusOnly: Boolean = false): PqIndex = {
    import graft.expressions.TopKByScore
    val M = PqM; val K = PqK
    // a12's increment semantics: codebooks train on the corpus half
    // (even vec_ids) only; init = the K lowest corpus ids (even ids
    // below 2K — ids are dense from 0, the same assumption the vec_id<K
    // init already makes). Encoding covers ALL rows here (a09's
    // stateless inline form); the append-only split stages even-id
    // codes once and encodes odd ids per call — see a12CorpusIndexStage.
    val trainPred: Column =
      if (trainCorpusOnly) col("vec_id") % 2 === 0 else lit(true)
    val initCut: Long = if (trainCorpusOnly) 2L * K else K.toLong
    // per-subspace int8 codes; checkpointed once — training, encoding,
    // and query scoring all consume it
    val sub = pqSubcodes(Tables.embeddings(spark, dir)).localCheckpoint()
    def argminAssign(q: DataFrame, cent: DataFrame): DataFrame =
      q.join(broadcast(cent), lit(true))
        .withColumn("d", pqDist(col("q"), col("mm")))
        .groupBy(col("vec_id"))
        .agg(TopKByScore((-col("d")).cast("long"), col("cid").cast("long"), 1).as("top"))
        .select(col("vec_id"), col("top").getItem(0).getField("id").as("cid"))
    // K-centroid codebook for subspace m: init = first K TRAINING
    // subcodes lifted to the 10⁴ domain, one integer-mean update
    // (a08's step) over the training population
    def codebook(m: Int): DataFrame = {
      val q = sub.filter(trainPred).select(col("vec_id"), col(s"q$m").as("q"))
      val c0 = q.filter(col("vec_id") < initCut)
        .select(col("vec_id").as("cid"), transform(col("q"), x => x * lit(10000)).as("mm"))
      argminAssign(q, c0).join(q, Seq("vec_id"))
        .select(col("cid"), posexplode(col("q")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .withColumn("m4", floor(lit(10000.0) * col("s") / col("n")).cast("long"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m4")))),
          x => x.getField("m4").cast("int")).as("mm"))
    }
    // corpus → M one-byte codes in ONE corpus pass against the frozen
    // union of all M codebooks ([[pqEncodeAgainst]]). Scoring never
    // touches centroid arrays again; it goes through the per-query ADC
    // lookup table.
    val cbs = (0 until M).map(m => codebook(m).localCheckpoint())
    val cbAll = cbs.zipWithIndex
      .map { case (cb, m) => cb.withColumn("m", lit(m)) }.reduce(_ union _)
    val corpus = pqEncodeAgainst(sub, cbAll)
    // ADC lookup tables: queries×K rows per subspace (here 20×16), each
    // the exact integer distance from a query subcode to a centroid —
    // broadcast, so scoring a corpus row is M hash-lookups + M adds
    val qside = sub.filter(col("vec_id") < 20)
    val luts = (0 until M).map { m =>
      qside.select(col("vec_id").as("query_id"), col(s"q$m").as("qq"))
        .join(broadcast(cbs(m)), lit(true))
        .select(col("query_id"), col("cid").as(s"cid$m"),
          pqDist(col("qq"), col("mm")).as(s"d$m"))
    }
    PqIndex(sub, cbs, corpus, luts)
  }

  /** Stage 2 shared by a09/a10: exact-cosine re-rank of a
    * `(query_id, vec_id)` shortlist into the ranked top-5 table. The
    * ≤ queries×L shortlist broadcasts back onto the float corpus scan
    * (the corpus streams; only shortlisted rows survive the join). */
  private[queries] def pqExactRerank(spark: SparkSession, dir: String,
      shortlist: DataFrame, outK: Int = 5, ordered: Boolean = true): DataFrame = {
    import graft.expressions.{DoubleSortKey, TopKByScore}
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), Vectors.normSq(col("embedding")).as("nsq"))
    val qe = e.filter(col("vec_id") < 20).toDF("query_id", "qemb", "qn")
    val out = e.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(qe), Seq("query_id"))
      .withColumn("sim", Vectors.cosine(col("qemb"), col("embedding"), col("qn"), col("nsq")))
      .groupBy(col("query_id"))
      .agg(TopKByScore(DoubleSortKey(col("sim")), col("vec_id"), outK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col").getField("id").as("neighbor_id"))
    // ordered = false when the ranked table is joined/diversified
    // downstream (order unobserved) — drops a range exchange + sample
    if (ordered) out.orderBy(col("query_id"), col("rank")) else out
  }

  /** a10 — IVF-PQ ANN (FAISS IVFPQ, Jégou et al., public): the
    * composition that actually runs billion-scale production search.
    * a03's IVF bounds WHICH vectors a query scores (probe the top
    * ~k/8 (floor [[IvfPqProbes]]) of the k coarse cells, k = ⌈√n⌉
    * clamped — a08's integer k-means is the
    * coarse quantizer verbatim); a09's PQ bounds WHAT each scored
    * vector costs (M one-byte codes through broadcast ADC lookup
    * tables). Search: probes (queries×P rows) broadcast onto the
    * cell-keyed code index, candidates in probed cells ADC-score via
    * the LUT equi-joins, the per-query top-[[PqL]] shortlist re-ranks
    * on exact float cosine. Scale: per query the corpus contributes
    * only its probed cells (P/k of rows at balanced cells), each
    * candidate costs M adds, floats are fetched for L rows — index
    * build is the only full-corpus work (one coarse join at build
    * time, documented). All integer until the re-rank, ties on ids —
    * hash-gated end to end against the generated DuckDB twin. Recall
    * vs a01 trades against a09 by exactly the unprobed-cell mass;
    * pinned in AnalyticsSpec. */
  def a10IvfPqAnn(spark: SparkSession, dir: String): DataFrame = {
    // coarse quantizer = a08's corpus-scaled integer k-means
    // ([[buildCoarseQuantizer]]): cell list per corpus vector
    // (build-time full pass + one build-time join onto the code index
    // below); probe list per query vector
    val k = scaledK(spark, dir)
    val (c1, cells) = buildCoarseQuantizer(spark, dir, k)
    val probes = ivfProbes(spark, dir, c1, scaledProbes(k))
    val ix = buildPqIndex(spark, dir)
    // candidate set: only (corpus row, query) pairs whose cell the
    // query probes — the probe table is queries×P rows, broadcast
    var scored = ix.corpus.join(cells, Seq("vec_id"))
      .join(broadcast(probes), Seq("cell"))
    scored = scored.join(broadcast(ix.luts(0)), Seq("cid0", "query_id"))
    (1 until PqM).foreach { m =>
      scored = scored.join(broadcast(ix.luts(m)), Seq(s"cid$m", "query_id"))
    }
    import graft.expressions.TopKByScore
    val shortlist = scored.filter(col("query_id") =!= col("vec_id"))
      .withColumn("d", (0 until PqM).map(m => col(s"d$m")).reduce(_ + _))
      .groupBy(col("query_id"))
      .agg(TopKByScore((-col("d")).cast("long"), col("vec_id"),
        pqShortlistSize(spark, dir)).as("top"))
      .select(col("query_id"), explode(col("top")).as("c"))
      .select(col("query_id"), col("c").getField("id").as("vec_id"))
    pqExactRerank(spark, dir, shortlist)
  }

  /** Persisted PQ index (a11): the build/search split production ANN
    * actually runs — FAISS trains once and serves forever, while a09
    * re-pays codebook training + corpus encoding on every call
    * (measured, PERF.md: one-shot PQ 4× SLOWER than brute force
    * because build dominates). The index is three parquet tables, the
    * same persistable-artifact pattern as d13's band index and p10's
    * fingerprint index:
    *   codes(vec_id, cid0..cidM-1)  — 1 byte/subspace per corpus row
    *   codebooks(m, cid, mm)        — M×K centroid arrays (tiny)
    *   meta(n)                      — corpus size, so search derives
    *                                  the corpus-scaled shortlist
    *                                  without rescanning the corpus
    * Built once per (source dir, INPUT CONTENT, staging format
    * version): the staging key folds in a (name, size, mtime)
    * fingerprint of the embeddings parquet, so a corpus rewritten in
    * place under the same path or a bumped
    * [[PipelineQueries.StagingFormatVersion]] keys a fresh stage
    * instead of silently serving a stale index against a fresh oracle. */
  private[queries] def stagePqIndex(spark: SparkSession,
      dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/embeddings.parquet")
    val stage = PipelineQueries.staging("a11pq", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // meta is written LAST — its presence marks a complete index
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val ix = buildPqIndex(spark, dir)
      ix.corpus.write.mode("overwrite").parquet(s"$stage/codes")
      ix.cbs.zipWithIndex
        .map { case (cb, m) => cb.withColumn("m", lit(m)) }
        .reduce(_ union _)
        .write.mode("overwrite").parquet(s"$stage/codebooks")
      Tables.embeddings(spark, dir).agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** a11 — PQ ANN over the PERSISTED index (search half of the
    * build/search split; same Jégou/FAISS algebra as a09, identical
    * output — the oracle is a09's). What search touches: the one-byte
    * code table, the M×K codebooks, the incoming query vectors, and —
    * only for the L-row shortlist — the float corpus for the exact
    * re-rank. What it never touches: corpus text/floats for scoring,
    * codebook training, corpus encoding. At 100 TB this is the
    * difference between a query batch costing (corpus × M adds) and
    * costing (corpus × M adds + full corpus re-encode): the index
    * build is one-time, amortized across every later batch, exactly
    * like d13's band index amortizes dedup. Measured (PERF.md):
    * amortized search ≪ one-shot a09 and ≪ a01 at 10× corpus. The
    * shortlist is L = max(PqL, n/20), so the oracle hash pins it. */
  def a11PqSearchPrebuilt(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagePqIndex(spark, dir)
    val n = spark.read.parquet(s"$stage/meta").head.getAs[Long]("n")
    val codes = spark.read.parquet(s"$stage/codes")
    val cbAll = spark.read.parquet(s"$stage/codebooks")
    // query side: subcodes for the INCOMING batch only (vec_id < 20 is
    // the demo batch; the filter pushes to the scan) — queries are not
    // part of the index
    val qside = pqSubcodes(Tables.embeddings(spark, dir).filter(col("vec_id") < 20))
      .withColumnRenamed("vec_id", "query_id")
    pqAdcTail(spark, dir, codes, pqLutsFrom(qside, cbAll),
      math.max(PqL.toLong, n / 20).toInt)
  }

  /** The a10/a13 coarse quantizer — a08's corpus-scaled integer
    * k-means re-derived in lockstep with the shared kmeansCtes oracle
    * (init first-k, one integer-mean Lloyd step, argmin ties → lower
    * cid). Returns the centroid table `c1(cid, mm)` (checkpointed —
    * both consumers iterate it) and the corpus cell assignment
    * `cells(vec_id, cell)`. */
  private[queries] def buildCoarseQuantizer(spark: SparkSession, dir: String,
      k: Int): (DataFrame, DataFrame) = {
    import graft.expressions.{QuantizeI8, TopKByScore}
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), QuantizeI8(col("embedding")).as("q"))
    val c0 = q.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), transform(col("q"), x => x * lit(10000)).as("mm"))
    def top1(cent: DataFrame): DataFrame =
      q.join(broadcast(cent), lit(true))
        .withColumn("d", pqDist(col("q"), col("mm")))
        .groupBy(col("vec_id"))
        .agg(TopKByScore((-col("d")).cast("long"), col("cid").cast("long"), 1).as("top"))
        .select(col("vec_id"), col("top").getItem(0).getField("id").as("cid"))
    val c1 = top1(c0).join(q, Seq("vec_id"))
      .select(col("cid"), posexplode(col("q")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .withColumn("m4", floor(lit(10000.0) * col("s") / col("n")).cast("long"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m4")))),
        x => x.getField("m4").cast("int")).as("mm"))
      .localCheckpoint()
    (c1, top1(c1).withColumnRenamed("cid", "cell"))
  }

  /** Top-P probe cells per query vector against a (stored or inline)
    * coarse centroid table — the query-side half of IVF: queries×P
    * rows, broadcastable onto any cell-keyed index. */
  private[queries] def ivfProbes(spark: SparkSession, dir: String, coarse: DataFrame,
      p: Int, queryFilter: Column = col("vec_id") < 20): DataFrame = {
    import graft.expressions.{QuantizeI8, TopKByScore}
    Tables.embeddings(spark, dir).filter(queryFilter)
      .select(col("vec_id"), QuantizeI8(col("embedding")).as("q"))
      .join(broadcast(coarse), lit(true))
      .withColumn("d", pqDist(col("q"), col("mm")))
      .groupBy(col("vec_id"))
      .agg(TopKByScore((-col("d")).cast("long"), col("cid").cast("long"), p).as("top"))
      .select(col("vec_id").as("query_id"), explode(col("top")).as("c"))
      .select(col("query_id"), col("c").getField("id").as("cell"))
  }

  /** Persisted IVF-PQ index (a13), staged beside (and built FROM) the
    * a11 PQ tables —
    *   codes_cells(cell, vec_id, cid0..cidM-1)
    *                     — the stored a11 code table joined onto its
    *                       coarse cell assignment ONCE at build time:
    *                       FAISS's inverted-list layout, so search
    *                       needs zero corpus-side joins — probes hit
    *                       the cell column directly
    *   coarse(cid, mm)   — the k = ⌈√n⌉-clamped centroid table (tiny;
    *                       search broadcasts it for probing)
    *   meta(n, k)        — written LAST as the completeness marker, so
    *                       search derives the shortlist size and probe
    *                       count without rescanning the corpus
    * The build consumes the persisted a11 codes (production shape:
    * the IVF index is derived from the existing PQ artifact, the
    * corpus is re-read only for the coarse k-means). Same
    * content-fingerprint keying as [[stagePqIndex]]: an in-place
    * corpus rewrite or a format-version bump keys a fresh stage. */
  private[queries] def stageIvfIndex(spark: SparkSession,
      dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/embeddings.parquet")
    val stage = PipelineQueries.staging("a13ivf", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val k = scaledK(spark, dir)
      val (c1, cells) = buildCoarseQuantizer(spark, dir, k)
      val codes = spark.read.parquet(s"${stagePqIndex(spark, dir)}/codes")
      // the filterable metadata attribute is DENORMALIZED into the
      // stored code rows (the attribute-filtered-search layout real
      // vector stores use): a14's predicate then prunes the index
      // parquet scan itself instead of joining a corpus-sized
      // attribute table at search time
      codes.join(cells, Seq("vec_id"))
        .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")),
          Seq("vec_id"))
        .write.mode("overwrite").parquet(s"$stage/codes_cells")
      c1.write.mode("overwrite").parquet(s"$stage/coarse")
      Tables.embeddings(spark, dir).agg(count(lit(1)).as("n"))
        .withColumn("k", lit(k))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** a13 — IVF-PQ search over PERSISTED artifacts only: the
    * billion-scale serving shape (FAISS IVFPQ after `train`+`add`).
    * a11 split build from search for the FLAT PQ scan; a13 completes
    * the split for the composed index a10 demonstrates inline — search
    * reads four stored tables (codebooks from the a11 stage; the
    * cell-keyed inverted-list code table, coarse centroids, and meta
    * from the a13 stage) and touches the float corpus only for the
    * L-row re-rank. Per query batch the
    * work is: probe assignment against the broadcast stored centroids
    * (queries×k integer distances), ADC scoring of the probed cells'
    * code rows (M adds each), exact re-rank of L rows. What never
    * runs at search time: k-means, codebook training, corpus encoding,
    * cell assignment — all one-time build cost amortized across every
    * later batch ([[stageIvfIndex]]/[[stagePqIndex]]). Output is
    * identical to a10 (same integer algebra over the same persisted
    * artifacts the inline form derives), so a10's oracle hash-gates
    * it; PlanAuditSpec pins the no-training property structurally. */
  def a13IvfPqSearchPrebuilt(spark: SparkSession, dir: String): DataFrame =
    a13SearchFor(spark, dir, col("vec_id") < 20)

  /** a13's search for an EXPLICIT query slice — the hook the streamed
    * vector twin (s27) serves micro-batches through: the batch's ids
    * push as a filter onto the query-side embedding scan and drive the
    * probe assignment, while (probes, L) stay the corpus-scaled
    * defaults the gated a13 pins. Restricting the query slice touches
    * nothing corpus-side (probes, ADC, re-rank are all per-query), so
    * a batch's answer IS the full run's answer restricted — the
    * decomposability s27's gate rides on. */
  def a13SearchFor(spark: SparkSession, dir: String,
      queryFilter: Column): DataFrame =
    // ctx-derived (probes, L): one meta read, not two
    ivfSearchWith(ivfServeCtx(spark, dir), spark, dir, queryFilter)

  /** The FROZEN IVF-PQ serving context: stage paths resolved, meta read,
    * and the two frozen metadata-scale artifacts — coarse centroids
    * (k = ⌈√n⌉ rows) and codebooks (M×K rows) — collected ONCE as
    * driver-local relations. A serving loop (s26 stage 2, s27) builds
    * this at loop start — the daemon's startup reads — so each
    * micro-batch's broadcast builds over them are job-free and their
    * parquet scans leave the per-batch plans (r17 §1.2: per-batch fixed
    * jobs dominate the serve keys; one-shot callers pay the same collect
    * they previously paid as a broadcast build). Both collects stay
    * metadata-scale at any corpus size by the index geometry (√n and
    * M×K), the same contract the ADC LUT pre-pass already rides. */
  private[graft] case class IvfServeCtx(codesCells: DataFrame,
      coarse: DataFrame, cbAll: DataFrame, probesN: Int, shortlistL: Int)

  /** Collect a FROZEN metadata-scale artifact (coarse centroids — ⌈√n⌉
    * rows, codebooks — M×K rows) once and re-plan it as a driver-local
    * relation: every downstream `broadcast(frame)` build becomes
    * job-free and the artifact's parquet scan leaves the consuming
    * plans — the move a serving LOOP makes at startup so its per-batch
    * plans carry no frozen-artifact jobs (r17 §1.2). */
  private[graft] def localFrozen(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private[graft] def ivfServeCtx(spark: SparkSession, dir: String): IvfServeCtx = {
    val pqStage = stagePqIndex(spark, dir)
    val ivfStage = stageIvfIndex(spark, dir)
    val meta = spark.read.parquet(s"$ivfStage/meta").head
    IvfServeCtx(
      spark.read.parquet(s"$ivfStage/codes_cells"),
      localFrozen(spark, spark.read.parquet(s"$ivfStage/coarse")),
      localFrozen(spark, spark.read.parquet(s"$pqStage/codebooks")),
      scaledProbes(meta.getAs[Int]("k")),
      math.max(PqL.toLong, meta.getAs[Long]("n") / 20).toInt)
  }

  /** a13's search over a resolved [[IvfServeCtx]] — the per-batch body
    * of the streamed serves, at the ctx's corpus-scaled (probes, L). */
  private[graft] def ivfSearchWith(ctx: IvfServeCtx, spark: SparkSession,
      dir: String, queryFilter: Column, outK: Int = 5,
      ordered: Boolean = true): DataFrame = {
    val codesCells = ctx.codesCells
    val cbAll = ctx.cbAll
    val probes = ivfProbes(spark, dir, ctx.coarse, ctx.probesN, queryFilter)
    val qside = pqSubcodes(Tables.embeddings(spark, dir).filter(queryFilter))
      .withColumnRenamed("vec_id", "query_id")
    // candidate set: only (code row, query) pairs whose cell the query
    // probes — probes broadcast onto the stored inverted-list layout;
    // no corpus-side join exists at search time at all
    val candidates = codesCells.join(broadcast(probes), Seq("cell"))
    pqAdcTail(spark, dir, candidates, pqLutsFrom(qside, cbAll),
      ctx.shortlistL, outK, ordered)
  }

  /** a14's metadata predicate: corpus labels below this survive. A
    * plain comparison (not an expression) so the predicate reaches the
    * parquet row-group stats of the STORED INDEX scan — PlanAuditSpec
    * pins the pushdown. */
  private[queries] lazy val FilteredAnnLabelMax = 5

  /** a14 — attribute-FILTERED ANN over the prebuilt IVF-PQ index: the
    * filtered-vector-search serving shape ("nearest neighbors among
    * documents WHERE <metadata predicate>"). The build denormalized the
    * filterable attribute into the stored code rows
    * ([[stageIvfIndex]]), so the predicate is evaluated as a pushed
    * parquet filter ON THE INDEX SCAN itself — PRE-filtering, the shape
    * that keeps recall under selective predicates (post-filtering a
    * fixed top-k can return < k survivors), with zero search-time joins
    * against any attribute table. Everything downstream of the filter
    * is a13's search verbatim: broadcast probes onto the inverted-list
    * layout, ADC scoring of surviving code rows, bounded-heap top-L,
    * exact re-rank. At 100 TB the filter prunes row groups before
    * decode (min/max stats on the attribute column), so a selective
    * predicate makes search CHEAPER, not costlier — the failure mode
    * this shape avoids is the join-then-filter plan that scores the
    * whole corpus first. Queries are unfiltered; only corpus rows are
    * constrained, mirroring "search the licensed subset" semantics. */
  def a14FilteredAnnPrebuilt(spark: SparkSession, dir: String): DataFrame = {
    val pqStage = stagePqIndex(spark, dir)
    val ivfStage = stageIvfIndex(spark, dir)
    val meta = spark.read.parquet(s"$ivfStage/meta").head
    val codesCells = spark.read.parquet(s"$ivfStage/codes_cells")
      .filter(col("label") < FilteredAnnLabelMax)
      .drop("label")
    val cbAll = spark.read.parquet(s"$pqStage/codebooks")
    val coarse = spark.read.parquet(s"$ivfStage/coarse")
    val probes = ivfProbes(spark, dir, coarse, scaledProbes(meta.getAs[Int]("k")))
    val qside = pqSubcodes(Tables.embeddings(spark, dir).filter(col("vec_id") < 20))
      .withColumnRenamed("vec_id", "query_id")
    val candidates = codesCells.join(broadcast(probes), Seq("cell"))
    pqAdcTail(spark, dir, candidates, pqLutsFrom(qside, cbAll),
      math.max(PqL.toLong, meta.getAs[Long]("n") / 20).toInt)
  }

  /** The a15 compaction stage: starts from the a12 CORPUS index, adds
    * the accumulated increment deltas (odd ids encoded against the
    * frozen codebooks, written as four small delta files — the state
    * s14's streamed ingest leaves behind), then COMPACTS corpus+delta
    * into one vec_id-range-partitioned code table of two files. Meta
    * written last as the completeness marker; file counts before/after
    * recorded in meta so the spec can pin the compaction actually
    * shrank the file population. */
  def a15CompactedStage(spark: SparkSession, dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/embeddings.parquet")
    val stage = PipelineQueries.staging("a15pq", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val a12 = a12CorpusIndexStage(spark, dir)
      val cbAll = spark.read.parquet(s"$a12/codebooks")
      pqEncodeAgainst(
        pqSubcodes(Tables.embeddings(spark, dir).filter(col("vec_id") % 2 === 1)), cbAll)
        .repartition(4)
        .write.mode("overwrite").parquet(s"$stage/delta")
      val corpusCodes = spark.read.parquet(s"$a12/codes")
      val deltaCodes = spark.read.parquet(s"$stage/delta")
      def dataFiles(p: String): Long = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
        var n = 0L
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }
      val before = dataFiles(s"$a12/codes") + dataFiles(s"$stage/delta")
      corpusCodes.unionByName(deltaCodes)
        .repartitionByRange(2, col("vec_id"))
        .sortWithinPartitions(col("vec_id"))
        .write.mode("overwrite").parquet(s"$stage/codes")
      cbAll.write.mode("overwrite").parquet(s"$stage/codebooks")
      Tables.embeddings(spark, dir).agg(count(lit(1)).as("n"))
        .withColumn("files_before", lit(before))
        .withColumn("files_after", lit(dataFiles(s"$stage/codes")))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** a15 — ANN index COMPACTION, the lifecycle step after append-only
    * updates (a12) and streamed ingest (s14): accumulated small delta
    * files are merged with the stored corpus codes into one
    * vec_id-range-partitioned, sorted code table, and search reads
    * ONLY the compacted table — no union of corpus+delta scans, no
    * re-encode, no retraining (codebooks are copied frozen). This is
    * the Lucene segment-merge / FAISS merge_into economics: compaction
    * costs one linear rewrite of code bytes (4 B/vector here), paid
    * once, and buys every subsequent search fewer files, larger row
    * groups, and a clustered sort order. The search result is
    * hash-gated ≡ a12's (same codes, same algebra), pinning that
    * compaction is a pure LAYOUT change — contents untouched. */
  def a15CompactedSearch(spark: SparkSession, dir: String): DataFrame = {
    val stage = a15CompactedStage(spark, dir)
    val codes = spark.read.parquet(s"$stage/codes")
    val cbAll = spark.read.parquet(s"$stage/codebooks")
    val n = spark.read.parquet(s"$stage/meta").head.getAs[Long]("n")
    val qside = pqSubcodes(Tables.embeddings(spark, dir).filter(col("vec_id") < 20))
      .withColumnRenamed("vec_id", "query_id")
    pqAdcTail(spark, dir, codes, pqLutsFrom(qside, cbAll),
      math.max(PqL.toLong, n / 20).toInt)
  }

  /** The a16 delete stage: a tombstone id table (vec_id ≡ 3 mod 7 —
    * the stand-in for "these documents were retracted") persisted
    * beside the index, plus the PURGED code table a delete-applying
    * compaction would produce (a15's compacted codes minus tombstoned
    * rows, re-range-partitioned). Meta written last; live/deleted
    * counts recorded so the spec can pin coverage. */
  def a16DeleteStage(spark: SparkSession, dir: String): String = synchronized {
    val fp = PipelineQueries.contentFingerprint(s"$dir/embeddings.parquet")
    val stage = PipelineQueries.staging("a16del", s"$dir#$fp")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/meta"))) {
      val a15 = a15CompactedStage(spark, dir)
      Tables.embeddings(spark, dir)
        .filter(pmod(col("vec_id"), lit(7)) === 3).select(col("vec_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/tombstones")
      val tombs = spark.read.parquet(s"$stage/tombstones")
      spark.read.parquet(s"$a15/codes")
        .join(tombs, Seq("vec_id"), "left_anti")
        .repartitionByRange(2, col("vec_id"))
        .sortWithinPartitions(col("vec_id"))
        .write.mode("overwrite").parquet(s"$stage/purged")
      Tables.embeddings(spark, dir).agg(count(lit(1)).as("n"))
        .crossJoin(tombs.agg(count(lit(1)).as("n_tomb")))
        .write.mode("overwrite").parquet(s"$stage/meta")
    }
    stage
  }

  /** Test hook: the a16 search algebra over the PURGED code table (the
    * post-compaction form — no anti-join in the plan). The spec pins it
    * row-identical to [[a16TombstoneSearch]]. */
  def a16PurgedSearch(spark: SparkSession, dir: String): DataFrame = {
    val stage = a16DeleteStage(spark, dir)
    val a15 = a15CompactedStage(spark, dir)
    val cbAll = spark.read.parquet(s"$a15/codebooks")
    val n = spark.read.parquet(s"$a15/meta").head.getAs[Long]("n")
    val qside = pqSubcodes(Tables.embeddings(spark, dir).filter(col("vec_id") < 20))
      .withColumnRenamed("vec_id", "query_id")
    pqAdcTail(spark, dir, spark.read.parquet(s"$stage/purged"),
      pqLutsFrom(qside, cbAll), math.max(PqL.toLong, n / 20).toInt)
  }

  /** a16 — tombstone DELETES on the stored ANN index, completing the
    * lifecycle (build a11 → append a12 → stream-ingest s14 → compact
    * a15 → delete a16): a retracted-document id list is persisted as a
    * tombstone table beside the index, and search consults it as a
    * broadcast anti-join on the code scan — deleted vectors can never
    * be candidates, with NO rewrite of the stored codes at delete time.
    * This is Lucene's live-docs bitmap / FAISS remove_ids economics:
    * a delete costs one id-row append, search pays one broadcast
    * Bloom-sized probe per code row, and the next compaction purges
    * physically ([[a16PurgedSearch]] — pinned row-identical, so the
    * soft-delete window is provably invisible to results). At 100 TB
    * the tombstone set is ids-only (8 B/delete), always broadcastable;
    * the full-corpus rewrite happens once per compaction cycle, not
    * per delete. */
  def a16TombstoneSearch(spark: SparkSession, dir: String): DataFrame = {
    val stage = a16DeleteStage(spark, dir)
    val a15 = a15CompactedStage(spark, dir)
    val codes = spark.read.parquet(s"$a15/codes")
      .join(broadcast(spark.read.parquet(s"$stage/tombstones")), Seq("vec_id"), "left_anti")
    val cbAll = spark.read.parquet(s"$a15/codebooks")
    val n = spark.read.parquet(s"$a15/meta").head.getAs[Long]("n")
    val qside = pqSubcodes(Tables.embeddings(spark, dir).filter(col("vec_id") < 20))
      .withColumnRenamed("vec_id", "query_id")
    pqAdcTail(spark, dir, codes, pqLutsFrom(qside, cbAll),
      math.max(PqL.toLong, n / 20).toInt)
  }

  /** a18 — ANN recall EVALUATION harness, the measurement every index
    * deployment runs before (and after) switching serving to a new
    * build: recall@5 of the stored IVF-PQ index (a13 — the amortized
    * serving path) against exact brute-force ground truth (a01), per
    * query and in integer basis points. This is the cross-pipeline
    * consistency gate the family was missing: a13's own oracle proves
    * stored-search ≡ inline algebra, a01's proves the ground truth —
    * a18's proves the INTERSECTION of the two rankings, so a drift in
    * either pipeline (or in how they tie-break) surfaces as a recall
    * delta the hash gate catches. Scale shape: ground truth runs over
    * a SAMPLED query set (here the 20-query eval slice — at 100 TB you
    * sample, you never brute-force the corpus per query uncached), the
    * index side is the already-amortized stored search, and the
    * reconciliation is a 100-row join. Output: per-query hit count +
    * recall_bp (hits·2000 — exact integers, no float recall). */
  def a18AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val idx = a13IvfPqSearchPrebuilt(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val exact = a01BruteForceTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(idx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(5).as("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) * 2000).as("recall_bp"))
      .orderBy(col("query_id"))
  }

  /** a04 — single-pass top-k per group via the native
    * [[graft.expressions.TopKByScore]] TypedImperativeAggregate: top-5
    * longest docs per language. Unlike the window form (q13/a01–a03
    * style), each map task reduces its slice to ≤ k pairs per group
    * BEFORE the exchange — shuffle volume is groups×k, independent of
    * corpus size, and nothing is ever sorted. The oracle is the
    * equivalent window SQL: same rows, radically different physical
    * plan (pinned in PlanAuditSpec). */
  def a04TopkAgg(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("score"))
    scored.groupBy(col("lang"))
      .agg(graft.expressions.TopKByScore(col("score"), col("doc_id"), 5).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy(col("lang"), col("rank"))
  }

}
