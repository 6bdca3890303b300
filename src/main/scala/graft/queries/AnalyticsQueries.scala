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
  * the driver's hash gate checks real semantics, not just row counts.
  *
  * The implementation lives in one trait per family (r10 verdict ask:
  * split the 6.3k-line object along COVERAGE.md's family boundaries),
  * all mixed back into this single facade so every existing call site
  * (`AnalyticsQueries.xyz`) is unchanged. */
object AnalyticsQueries
    extends DedupFamily
    with VectorAnnFamily
    with RetrievalFamily
    with LateInteractionFamily
    with TextFamily
    with MultimodalFamily
    with PipelineLayoutFamily
    with VectorOracleSql
    with RetrievalOracleSql
    with LifecycleFamily
    with OccFamily
    with PipelineLogFamily {

  /** DuckDB-SQL twins of the Scala/Catalyst primitives. Fold order and
    * integer arithmetic must stay in lockstep with TextFunctions /
    * Vectors — that equivalence is what the oracle checks. */
  object Sql {
    val P = "1000000007"

    /** Lambda variables here are deliberately obscure (_pc, _pa, _pb):
      * these snippets get embedded inside other lambdas (e.g. the
      * shingle enumeration's `i ->`), and DuckDB resolves the INNERMOST
      * binding — a shared name silently shadows the outer variable and
      * corrupts every embedded reference. */
    def charCodes(s: String): String =
      s"list_transform(range(1, length($s)+1), _pc -> unicode(substring($s, _pc, 1)))"

    def polyHash(s: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), ${charCodes(s)}), (_pa,_pb) -> (_pa*31+_pb) % $P)"

    def words(text: String): String =
      s"string_split_regex(trim($text), '\\s+')"

    /** Distinct n-word shingles at positions 1..len-n. */
    def shingles(text: String, n: Int): String =
      s"list_distinct(list_transform(range(1, len(${words(text)})-${n - 1}), " +
        s"i -> array_to_string(${words(text)}[i:i+${n - 1}], ' ')))"

    def dot(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x,y) -> x+y)"

    def normSq(a: String): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x,y) -> x+y)"

    def cosine(dotE: String, na: String, nb: String): String =
      s"$dotE / (sqrt($na) * sqrt($nb))"

    /** m07's arithmetic mirror of the decoded synthPng(16,16) pixels:
      * integer gray of source pixel (x, y) — channel c is
      * (id·7 + (y·16+x)·3 + c) mod 256, gray = floor(mean of 3). */
    def m07Gray(x: String, y: String): String = {
      val base = s"(doc_id*7 + (($y)*16 + ($x))*3)"
      s"((($base) % 256 + (($base) + 1) % 256 + (($base) + 2) % 256) // 3)"
    }

    /** aHash block `_pi` (0–63): floor-mean gray of the 2×2 source
      * block at (2·(_pi mod 8), 2·(_pi div 8)). */
    def m07Block: String = {
      val mx = "(_pi % 8)"
      val my = "(_pi // 8)"
      s"((${m07Gray(s"2*$mx", s"2*$my")} + ${m07Gray(s"2*$mx + 1", s"2*$my")} + " +
        s"${m07Gray(s"2*$mx", s"2*$my + 1")} + ${m07Gray(s"2*$mx + 1", s"2*$my + 1")}) // 4)"
    }

    /** a06/a08's exact integer distance algebra between an int8 code
      * list `q` and a 10⁴ fixed-point centroid list `m`:
      * `10⁸·q·q + m·m − 2·10⁴·q·m` (∝ squared Euclidean distance). */
    def intDist(q: String, m: String): String =
      s"100000000 * list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform($q, _qa -> _qa * _qa)), (_x, _y) -> _x + _y)" +
        s" + list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform($m, _qb -> _qb * _qb)), (_x, _y) -> _x + _y)" +
        s" - 20000 * list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range(1, len($q)+1), _qi -> $q[_qi] * $m[_qi])), " +
        s"(_x, _y) -> _x + _y)"

    /** `n`-plane sign bits over the `embedding` column — the DuckDB
      * twin of Vectors.lshBucket (outer lambda binds j, inner binds i;
      * distinct names so DuckDB's innermost-binding rule is safe). */
    def lshBits(n: Int): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, $n), j -> " +
        "CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * " +
        "(CASE WHEN (xor((i-1)*73856093, j*19349663) >> 6) & 1 = 0 " +
        "THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END))), " +
        "(x,y) -> x+y) >= 0 " +
        "THEN CAST(power(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)), (x,y) -> x+y)"
  }

  /** One entry per gated query; each def lives in its family trait
    * (DedupFamily, VectorAnnFamily, RetrievalFamily,
    * LateInteractionFamily, TextFamily, MultimodalFamily,
    * PipelineLayoutFamily, LifecycleFamily — split along COVERAGE.md's
    * boundaries). */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p16_domain_mixture" -> p16DomainMixture _,
    "p17_temperature_mixture" -> p17TemperatureMixture _,
    "p18_shuffled_shards" -> p18ShuffledShards _,
    "p19_incremental_shards" -> p19IncrementalShards _,
    "p20_export_manifest" -> p20ExportManifest _,
    "p21_pagerank"      -> p21PageRank _,
    "p22_leakage_safe_split" -> p22LeakageSafeSplit _,
    "p24_perplexity_buckets" -> p24PerplexityBuckets _,
    "p26_zorder_scan"   -> p26ZOrderScan _,
    "p27_zorder_increment" -> p27ZOrderIncrement _,
    "d01_exact_dedup"   -> d01ExactDedup _,
    "d02_ngram_jaccard" -> d02NgramJaccard _,
    "d03_minhash_lsh"   -> d03MinhashLsh _,
    "d04_simhash"       -> d04Simhash _,
    "d06_simhash_pairs" -> d06SimhashPairs _,
    "d07_dup_clusters"  -> d07DupClusters _,
    "d11_dedup_apply"   -> d11DedupApply _,
    "p10_incremental_dedup" -> p10IncrementalDedup _,
    "p11_cdc_merge"     -> p11CdcMerge _,
    "p12_schema_evolution" -> p12SchemaEvolution _,
    "d05_embedding_dup" -> d05EmbeddingDup _,
    "d08_embedding_lsh" -> d08EmbeddingLsh _,
    "d09_contamination" -> d09Contamination _,
    "d10_dup_spans"     -> d10DupSpans _,
    "d14_bloom_decontam" -> d14BloomDecontam _,
    "a01_bruteforce_topk" -> a01BruteForceTopK _,
    "a02_lsh_ann"       -> a02LshAnn _,
    "a03_ivf_ann"       -> a03IvfAnn _,
    "a04_topk_agg"      -> a04TopkAgg _,
    "a05_quantized_ann" -> a05QuantizedAnn _,
    "a06_quantized_centroids" -> a06QuantizedCentroids _,
    "a07_semantic_decontam" -> a07SemanticDecontam _,
    "a08_kmeans_quantized" -> a08KmeansQuantized _,
    "a09_pq_ann"        -> a09PqAnn _,
    "a10_ivfpq_ann"     -> a10IvfPqAnn _,
    "a11_pq_search_prebuilt" -> a11PqSearchPrebuilt _,
    "a12_pq_index_update" -> a12PqIndexUpdate _,
    "a13_ivfpq_search_prebuilt" -> a13IvfPqSearchPrebuilt _,
    "a14_filtered_ann_prebuilt" -> a14FilteredAnnPrebuilt _,
    "a15_compacted_search" -> a15CompactedSearch _,
    "a16_tombstone_search" -> a16TombstoneSearch _,
    "a17_hybrid_search" -> a17HybridSearch _,
    "a18_ann_recall"    -> a18AnnRecall _,
    "a19_keyword_search_prebuilt" -> a19KeywordSearchPrebuilt _,
    "a20_keyword_index_update" -> a20KeywordIndexUpdate _,
    "a21_hybrid_search_prebuilt" -> a21HybridSearchPrebuilt _,
    "a22_passage_search" -> a22PassageSearch _,
    "a23_passage_search_prebuilt" -> a23PassageSearchPrebuilt _,
    "a24_knn_classify" -> a24KnnClassify _,
    "a25_mmr_rerank"   -> a25MmrRerank _,
    "a26_mmr_prebuilt" -> a26MmrPrebuilt _,
    "a27_maxsim_rerank" -> a27MaxSimRerank _,
    "a28_maxsim_prebuilt" -> a28MaxSimPrebuilt _,
    "a29_maxsim_served" -> a29MaxSimServed _,
    "a30_token_index_update" -> a30TokenIndexUpdate _,
    "a31_stack_served" -> a31StackServed _,
    "a32_rerank_appended" -> a32RerankAppended _,
    "a33_compacted_rerank" -> a33CompactedRerank _,
    "a34_tombstone_rerank" -> a34TombstoneRerank _,
    "a35_keyword_compacted" -> a35KeywordCompacted _,
    "a36_keyword_tombstones" -> a36TombstoneSearch _,
    "a37_keyword_lifecycle" -> a37KeywordLifecycle _,
    "a38_token_lifecycle" -> a38TokenLifecycle _,
    "a39_vector_lifecycle" -> a39VectorLifecycle _,
    "a40_index_time_travel" -> a40IndexTimeTravel _,
    "a41_vector_time_travel" -> a41VectorTimeTravel _,
    "p28_index_vacuum"  -> p28IndexVacuum _,
    "p30_vector_vacuum" -> p30VectorVacuum _,
    "p31_concurrent_commits" -> p31ConcurrentCommits _,
    "p32_occ_maintained_index" -> p32OccMaintainedIndex _,
    "p34_stats_skipping" -> p34StatsSkipping _,
    "p35_occ_table_commits" -> p35OccTableCommits _,
    "p36_schema_evolution_log" -> p36SchemaEvolutionLog _,
    "p37_concurrent_optimize" -> p37ConcurrentOptimize _,
    "p38_atomic_update" -> p38AtomicUpdate _,
    "p39_stats_after_optimize" -> p39StatsAfterOptimize _,
    "p40_bloom_skipping" -> p40BloomSkipping _,
    "p41_change_data_feed" -> p41ChangeDataFeed _,
    "p42_zorder_stats" -> p42ZorderStats _,
    "p43_timestamp_travel" -> p43TimestampTravel _,
    "p44_check_constraints" -> p44CheckConstraints _,
    "m13_image_lifecycle" -> m13ImageLifecycle _,
    "d12_semdedup"      -> d12SemDedup _,
    "d13_incremental_neardup" -> d13IncrementalNearDup _,
    "d16_editdist_neardup" -> d16EditDistanceDup _,
    "t01_token_stats"   -> t01TokenStats _,
    "t02_quality"       -> t02Quality _,
    "t03_lang_id"       -> t03LangId _,
    "t04_fingerprint"   -> t04Fingerprint _,
    "t05_bpe_tokens"    -> t05BpeTokens _,
    "t06_tfidf"         -> t06Tfidf _,
    "t07_redact"        -> t07Redact _,
    "t08_repetition"    -> t08Repetition _,
    "t09_quality_filter" -> t09QualityFilter _,
    "t10_unigram_lm"    -> t10UnigramLm _,
    "t11_seq_pack"      -> t11SeqPack _,
    "t12_boilerplate_removal" -> t12BoilerplateRemoval _,
    "t13_bigram_lm"     -> t13BigramLm _,
    "t14_bpe_merges"    -> t14BpeMerges _,
    "t15_bpe_encode"    -> t15BpeEncode _,
    "t16_quality_classifier" -> t16QualityClassifier _,
    "t17_classifier_apply" -> t17ClassifierApply _,
    "t18_chunking"      -> t18Chunking _,
    "t19_normalize"     -> t19Normalize _,
    "t20_novelty"       -> t20Novelty _,
    "m01_multimodal"    -> m01Multimodal _,
    "m02_frame_sample"  -> m02FrameSample _,
    "m03_resize"        -> m03Resize _,
    "m04_image_decode"  -> m04ImageDecode _,
    "m05_audio_energy"  -> m05AudioEnergy _,
    "m06_keyframes"     -> m06KeyFrames _,
    "m07_image_neardup" -> m07ImageNearDup _,
    "m09_image_neardup_prebuilt" -> m09ImageNearDupPrebuilt _,
    "m10_image_neardup_appended" -> m10ImageNearDupAppended _,
    "m11_compacted_neardup" -> m11CompactedNearDup _,
    "m12_tombstone_neardup" -> m12TombstoneNearDup _,
    "m08_audio_resample" -> m08AudioResample _,
    "p06_hash_sample"   -> p06HashSample _,
    "p07_data_prep"     -> p07DataPrep _,
    "p09_stratified_sample" -> p09StratifiedSample _,
  )

  /** The family oracle fragments composed back into one map (keys are
    * disjoint by construction — each family carries its own queries). */
  private val oracleSqlBase: Map[String, String] =
    dedupOracles ++ vectorOracles ++ retrievalOracles ++ lateOracles ++
      textOracles ++ multimodalOracles ++ pipelineOracles ++ lifecycleOracles ++
      tableLogOracles

  /** Aliased oracles: serving twins whose results must be
    * INDISTINGUISHABLE from their inline builders' — same SQL, same
    * hash. m09 reads the persisted hash index; decode-or-index must
    * leave no trace in the output. */
  val oracleSql: Map[String, String] = oracleSqlBase +
    ("m09_image_neardup_prebuilt" -> oracleSqlBase("m07_image_neardup")) +
    // a perceptual hash is a pure per-media function, so the
    // generational base ∪ segment layout is EXACTLY the monolithic
    // index — m07's oracle pins all four arrival shapes to one answer
    ("m10_image_neardup_appended" -> oracleSqlBase("m07_image_neardup")) +
    // generational clustering must be output-indistinguishable from
    // the single-copy layout (and from no layout at all)
    ("p27_zorder_increment" -> oracleSqlBase("p26_zorder_scan")) +
    // serving from the persisted token-hash table must be
    // indistinguishable from tokenizing inline
    ("a28_maxsim_prebuilt" -> oracleSqlBase("a27_maxsim_rerank")) +
    // base ∪ increment must be EXACTLY the full inline index — token-
    // hash rows are pure per-doc functions, so the append-only update
    // tolerates zero drift (the strongest gate in the index-update
    // family; a20 by contrast freezes idf by design)
    ("a30_token_index_update" -> oracleSqlBase("a27_maxsim_rerank")) +
    // the generational (base ∪ segment) layout must serve the re-rank
    // exactly as the monolithic table does — same SQL, same hash
    ("a32_rerank_appended" -> oracleSqlBase("a29_maxsim_served")) +
    // compaction is a pure layout change: the re-merged single table
    // must serve exactly what the monolith (and the generations) serve
    ("a33_compacted_rerank" -> oracleSqlBase("a29_maxsim_served")) +
    // same on the image channel: compacted base ∪ segment must be
    // output-indistinguishable from every other arrival shape
    ("m11_compacted_neardup" -> oracleSqlBase("m07_image_neardup")) +
    // keyword compaction is a RE-STAT (cross-document df/idf), and a
    // re-stat over base ∪ segment is definitionally a fresh full
    // build — a19's oracle pins it exactly
    ("a35_keyword_compacted" -> oracleSqlBase("a19_keyword_search_prebuilt")) +
    // the lifecycle cycles: token rows are pure per-doc functions and
    // a38's deletion is total, so two merge rounds with an interleaved
    // purge must serve exactly a34's one-shot soft delete
    ("a38_token_lifecycle" -> oracleSqlBase("a34_tombstone_rerank")) +
    // frozen codebooks for the whole loop: the twice-merged, purged
    // code table must serve exactly a16's single soft-delete step
    ("a39_vector_lifecycle" -> oracleSqlBase("a16_tombstone_search")) +
    // deletion precedes the cluster aggregate either way, so survivors
    // re-elect and recount exactly as m12's one-shot deletes
    ("m13_image_lifecycle" -> oracleSqlBase("m12_tombstone_neardup")) +
    // vacuum reclaims HISTORY only: the current snapshot it serves
    // afterwards must be exactly the twice-merged survivor index —
    // a37's fresh-build-over-survivors oracle gates it unchanged
    ("p28_index_vacuum" -> oracleSqlBase("a37_keyword_lifecycle")) +
    // vector-channel vacuum: p28's reclaim operator
    // (OccCommitLog.vacuum) on the owned a41 log — the serve after
    // reclaim must be exactly the purged twice-merged table's, a16's one-shot soft
    // delete, codebooks untouched
    ("p30_vector_vacuum" -> oracleSqlBase("a16_tombstone_search")) +
    // optimistic-concurrency commits: whatever version assignment the
    // three-writer race produced, the commit SET is deterministic and
    // the delete-applying re-stat over what the log names must be a
    // fresh build over the survivors — a37's oracle, arbitration
    // leaving no trace in the index
    ("p31_concurrent_commits" -> oracleSqlBase("a37_keyword_lifecycle")) +
    // the maintained OCC log: writer, vacuum, and checkpoint racing on
    // one log of real artifacts must leave the head serve exactly the
    // twice-merged survivor index — maintenance is invisible in the
    // present, a37's oracle once more
    ("p32_occ_maintained_index" -> oracleSqlBase("a37_keyword_lifecycle")) +
    // the doc table through the OCC protocol: whatever version
    // assignment the writer race produced, membership (inserts minus
    // the delete list) is deterministic, and checkpoint + vacuum must
    // leave the head serve exactly p33's single-writer log's —
    // p33's oracle, one answer however the log is written
    ("p35_occ_table_commits" ->
      PipelineQueries.oracleSql("p33_table_checkpoint_vacuum")) +
    // asking by instant and asking by version must be indistinguishable:
    // instant 3500 resolves to the update's version, p38's answer
    ("p43_timestamp_travel" -> oracleSqlBase("p38_atomic_update")) +
    // policing writes must leave no trace in what a valid history
    // serves: every doc inserted (validated), ids ≡ 0 mod 3 deleted —
    // s44's membership body, the same answer the OPTIMIZE daemon gates
    ("p44_check_constraints" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 3 <> 0
        |ORDER BY doc_id""".stripMargin)
}
