package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.queries.{PipelineQueries, Relational}

/** Scale-discipline audit: these tests pin the PHYSICAL PLAN shapes
  * that make the engine viable at 100 TB — filter/column pushdown to
  * the scan, broadcast joins for dimensions, top-k without a global
  * sort, partition pruning. A regression here is a silent 100× at
  * cluster scale even while results stay correct. */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(cores = 4)
  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: predicate AND column pruning reach the parquet scan") {
    val p = planOf(Relational.q02FilterPushdown(spark, dir))
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("l_shipdate"), "shipdate filter not pushed")
    // projection pruning: the scan must not read unused columns
    assert(!p.contains("l_orderkey"), "scan reads columns the query never uses")
  }

  test("q04: dimension joins are broadcast, not shuffled") {
    val p = planOf(Relational.q04BroadcastJoin(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to sort-merge")
  }

  test("q05: top-k uses TakeOrderedAndProject, not a global sort") {
    val p = planOf(Relational.q05SortLimit(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q01: aggregate is two-phase (map-side partial)") {
    val p = planOf(Relational.q01AggSum(spark, dir))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final hash aggregate:\n$p")
  }

  test("p01: partition filters prune the Hive layout") {
    // build the pruned read the query performs and inspect its scan
    PipelineQueries.p01PartitionPrune(spark, dir).collect() // materialize staging
    val staged = PipelineQueries.staging("p01", dir)
    val pruned = spark.read.parquet(staged)
      .filter(col("event_type") === "click" && col("day").cast("string") === "2024-01-01")
    val p = planOf(pruned)
    assert(p.contains("PartitionFilters: ["), s"no partition filters:\n$p")
    assert(p.contains("event_type"), "partition filter on event_type missing")
  }

  test("a03: IVF search broadcasts probes; index never sort-merges") {
    val p = planOf(graft.queries.AnalyticsQueries.a03IvfAnn(spark, dir))
    // probe list (queries × IvfProbes rows) must broadcast onto the
    // cell-partitioned index — the corpus must not shuffle at search time
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"IVF search fell back to sort-merge:\n$p")
    // nearest-centroid assignment collapses n·k pairs map-side; max_by
    // with a struct ordering buffer plans as SortAggregate, and
    // partial+final means the exchange moves n rows, not n·k
    assert("(Sort|Hash|ObjectHash)Aggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final max_by aggregate:\n$p")
  }

  test("d08: LSH blocking joins on band buckets — never a cartesian product") {
    val p = planOf(graft.queries.AnalyticsQueries.d08EmbeddingLsh(spark, dir))
    // the whole point of LSH blocking is an equi-join on (band, bucket);
    // a cartesian/nested-loop here means candidates degraded to n²
    assert(!p.contains("CartesianProduct"), s"LSH candidates went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"LSH candidates went nested-loop:\n$p")
  }

  test("a04: top-k agg is partial+final ObjectHashAggregate, no window sort") {
    val p = planOf(graft.queries.AnalyticsQueries.a04TopkAgg(spark, dir))
    // partial aggregation caps each map task's output at k pairs/group
    // BEFORE the exchange — the 100 TB property the window form lacks
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final object-hash aggregate:\n$p")
    assert(!p.contains("Window"), s"top-k agg must not plan a window:\n$p")
  }

  test("a01/a05: query side broadcasts, corpus streams; top-k is agg, not window") {
    // the int8 path is SOLD as the 100 TB plan: the ≤20-row query side
    // must be the broadcast build side (a corpus broadcast OOMs an
    // executor long before 100 TB), and per-query top-k must be the
    // bounded-heap aggregate — shuffle queries×k — not a window sort
    // over every scored candidate
    Seq(
      graft.queries.AnalyticsQueries.a01BruteForceTopK(spark, dir),
      graft.queries.AnalyticsQueries.a05QuantizedAnn(spark, dir)
    ).foreach { df =>
      val p = planOf(df)
      assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
        s"query side (right) must be the broadcast build side:\n$p")
      assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
      assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
        s"expected partial+final bounded-heap top-k aggregate:\n$p")
    }
  }

  test("a07: eval side broadcasts; corpus decontamination is a pure scan") {
    val p = planOf(graft.queries.AnalyticsQueries.a07SemanticDecontam(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"eval set (right) must be the broadcast build side:\n$p")
    // matches stream straight out of the scan — no shuffle of corpus
    // rows at all (the final presentation sort is driver-bound output)
    assert(!p.contains("Window"), s"no window expected:\n$p")
  }

  test("d09/d10/p07: vocabulary joins stay equi-joins on hash keys") {
    // contamination / dup-span / prep-pipeline all join exploded docs
    // against a hash vocabulary — a cartesian or nested-loop here is
    // the n² failure mode the design exists to avoid
    Seq(
      graft.queries.AnalyticsQueries.d09Contamination(spark, dir),
      graft.queries.AnalyticsQueries.d10DupSpans(spark, dir),
      graft.queries.AnalyticsQueries.p07DataPrep(spark, dir),
      graft.queries.AnalyticsQueries.t10UnigramLm(spark, dir),
      graft.queries.AnalyticsQueries.t12BoilerplateRemoval(spark, dir),
      graft.queries.AnalyticsQueries.t13BigramLm(spark, dir),
      graft.queries.AnalyticsQueries.d13IncrementalNearDup(spark, dir)
    ).foreach { df =>
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), s"vocabulary join went cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"vocabulary join went nested-loop:\n$p")
    }
  }

  test("a06: centroids broadcast back onto members (corpus never sort-merges)") {
    val p = planOf(graft.queries.AnalyticsQueries.a06QuantizedCentroids(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast centroid join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"centroid join fell back to sort-merge:\n$p")
  }

  test("a08: every k-means iteration broadcasts centroids; corpus never sort-merges") {
    val p = planOf(graft.queries.AnalyticsQueries.a08KmeansQuantized(spark, dir))
    // both assignment passes stream the corpus past broadcast centroids
    assert("BroadcastNestedLoopJoin BuildRight".r.findAllIn(p).length >= 2,
      s"centroid tables must be the broadcast build side in both iterations:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must never sort-merge:\n$p")
    // argmin is the bounded top-1 heap, partial-aggregated — no window
    assert(!p.contains("Window"), s"assignment must not plan a window sort:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final top-1 heap aggregate:\n$p")
  }

  test("a09: PQ search — LUTs broadcast, corpus never sort-merges, top-k is agg not window") {
    val p = planOf(graft.queries.AnalyticsQueries.a09PqAnn(spark, dir))
    // the corpus must only ever stream: codes are assigned against a
    // broadcast codebook union, ADC scoring joins broadcast per-query
    // lookup tables on the one-byte codes, and the re-rank fetch
    // broadcasts the shortlist back onto the corpus scan
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled into a sort-merge join:\n$p")
    assert(!p.contains("CartesianProduct"), s"PQ search went cartesian:\n$p")
    // nested-loop appears only for tiny centroid tables, and only as
    // the broadcast build side — never with the corpus as build side
    assert(!p.contains("BroadcastNestedLoopJoin BuildLeft"),
      s"corpus became a nested-loop build side:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast ADC-LUT joins:\n$p")
    // shortlist and final top-5 are bounded heaps, partial-aggregated
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 4,
      s"expected partial+final bounded-heap aggregates:\n$p")
  }

  test("a11: prebuilt-index search never rebuilds — no codebook training in the plan") {
    val p = planOf(graft.queries.AnalyticsQueries.a11PqSearchPrebuilt(spark, dir))
    // search half of the build/search split: the stored code table
    // streams past broadcast ADC LUTs; nothing sort-merges, nothing
    // trains (training's signature is the posexplode melt — absent)
    assert(!p.contains("SortMergeJoin"), s"prebuilt search shuffled into a sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"prebuilt search went cartesian:\n$p")
    // the build's codebook training runs through eager localCheckpoints,
    // which surface as ExistingRDD scans — a search plan containing one
    // has rebuilt the index instead of reading the stored tables
    assert(!p.contains("ExistingRDD"), s"search plan contains build-time checkpoints:\n$p")
    assert(p.contains("graft_a11pq"), s"search must scan the persisted index tables:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast ADC-LUT joins:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
  }

  test("a13: prebuilt IVF-PQ search — stored artifacts only, no training, no joins but broadcasts") {
    val p = planOf(graft.queries.AnalyticsQueries.a13IvfPqSearchPrebuilt(spark, dir))
    // the serving shape: probes + ADC LUTs + re-rank shortlist all
    // broadcast onto stored tables. The inverted-list layout
    // (codes_cells) was joined at BUILD time, so unlike a10 not even
    // one sort-merge join is allowed anywhere in the search plan
    assert(!p.contains("SortMergeJoin"), s"prebuilt IVF-PQ search sort-merged:\n$p")
    assert(!p.contains("CartesianProduct"), s"prebuilt IVF-PQ search went cartesian:\n$p")
    // training (k-means, codebooks, corpus encode) runs through eager
    // localCheckpoints that surface as ExistingRDD scans — a search
    // plan containing one has rebuilt an index instead of reading it
    assert(!p.contains("ExistingRDD"), s"search plan contains build-time work:\n$p")
    assert(p.contains("graft_a13ivf"), s"search must scan the persisted IVF stage:\n$p")
    // r17: the ADC LUTs are a metadata pre-pass — the codebooks are
    // read there (queries×K×M integer distances collected) and join
    // back as driver-local relations, so each broadcast LUT build is
    // job-free and the codebook table leaves the serve plan
    assert(p.contains("LocalTableScan"),
      s"pre-resolved LUT relations missing from the serve plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe/LUT joins:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
  }

  test("a26: stored-index MMR — a13's serving pins hold through the " +
    "diversified tail; no training, no window, no sort-merge") {
    // the diversified serving path must inherit a13's shape: stored
    // artifacts only, probes/LUTs/shortlist broadcast, and the greedy
    // runs as per-query-local flatMapGroups (no window sort, no
    // cartesian anywhere)
    val p = planOf(graft.queries.AnalyticsQueries.a26MmrPrebuilt(spark, dir))
    assert(!p.contains("SortMergeJoin"), s"stored-index MMR sort-merged:\n$p")
    assert(!p.contains("CartesianProduct"), s"stored-index MMR went cartesian:\n$p")
    assert(!p.contains("ExistingRDD"), s"plan contains build-time work:\n$p")
    assert(p.contains("graft_a13ivf"), s"must scan the persisted IVF stage:\n$p")
    assert(!p.contains("Window"), s"top-k or greedy degraded to a window:\n$p")
    assert(p.contains("MapGroups"), s"expected the per-query local greedy:\n$p")
  }

  test("a14: filtered search — predicate PUSHED to the stored index scan, no training") {
    val p = planOf(graft.queries.AnalyticsQueries.a14FilteredAnnPrebuilt(spark, dir))
    // the filtered-vector-search shape: the metadata predicate is a
    // pushed parquet filter on the codes_cells scan (row-group min/max
    // pruning at 100 TB), NOT a search-time join against an attribute
    // table and NOT a post-filter on the top-k output
    assert(p.contains("LessThan(label,5)"),
      s"metadata predicate not pushed to the stored index scan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"filtered search shuffled into a sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"filtered search went cartesian:\n$p")
    assert(!p.contains("ExistingRDD"), s"search plan contains build-time work:\n$p")
    assert(p.contains("graft_a13ivf"), s"search must scan the persisted IVF stage:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe/LUT joins:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
  }

  test("a19: prebuilt keyword search — kept-term IN-list pushed to stored postings, no corpus rebuild") {
    val p = planOf(graft.queries.AnalyticsQueries.a19KeywordSearchPrebuilt(spark, dir))
    // the serving shape (r17): kept-term resolution runs as a bounded
    // metadata PRE-PASS (dictionary × pushed doc_id<10 query slice,
    // ≤ queries×KwKeepTerms rows collected — its own job, so the
    // subtree executes once instead of once per consumer); the SERVED
    // plan then reads ONLY the stored postings with the kept IN-list
    // pushed (row-group pruning = posting-list seeks) and the kept set
    // joined back as a driver-local relation — ZERO corpus scans in
    // the serve plan at all
    assert(p.contains("graft_a19kw"), s"search must scan the persisted keyword index:\n$p")
    assert(p.contains("In(term_id"), s"kept-term IN-list not pushed to the postings scan:\n$p")
    assert(p.contains("LocalTableScan"),
      s"kept-term set must join as a driver-local relation:\n$p")
    assert("documents\\.parquet".r.findAllIn(p).isEmpty,
      s"corpus scanned inside the serve plan — inline tf/df rebuild detected:\n$p")
    assert(!p.contains("SortMergeJoin"), s"keyword search shuffled into a sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"keyword search went cartesian:\n$p")
    assert(!p.contains("ExistingRDD"), s"search plan contains build-time work:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast query-side joins:\n$p")
  }

  test("a23: prebuilt passage search — IN-list pushed to stored chunk postings, no chunking in plan") {
    val p = planOf(graft.queries.AnalyticsQueries.a23PassageSearchPrebuilt(spark, dir))
    // the RAG serving shape: kept-term IN-list pushed onto the stored
    // passage postings (term_id-sorted → row-group pruning), self-doc
    // exclusion on the DENORMALIZED doc_id column of the index scan,
    // and the only corpus scan is the pushed doc_id<10 query slice — a
    // second documents scan would mean search-time re-chunking (a22's
    // inline shape)
    assert(p.contains("graft_a23pi"), s"search must scan the persisted passage index:\n$p")
    assert(p.contains("In(term_id"), s"kept-term IN-list not pushed to the postings scan:\n$p")
    // r17: kept-term resolution is a metadata pre-pass (see the a19
    // pin); the serve plan joins a driver-local kept relation and
    // scans no corpus text at all
    assert(p.contains("LocalTableScan"),
      s"kept-term set must join as a driver-local relation:\n$p")
    assert("documents\\.parquet".r.findAllIn(p).isEmpty,
      s"corpus scanned inside the serve plan — search-time chunking detected:\n$p")
    assert(!p.contains("SortMergeJoin"), s"passage search shuffled into a sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"passage search went cartesian:\n$p")
    assert(!p.contains("ExistingRDD"), s"search plan contains build-time work:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast query-side joins:\n$p")
  }

  test("a19/a13 serving skew: hot posting lists and hot cells never funnel into one reducer") {
    // the stored postings/cells tables are Zipf-skewed BY CONSTRUCTION
    // (a stopword's df ~ n; a popular IVF cell holds a constant
    // fraction of the corpus). Skew is harmless iff a hot key's rows
    // never serialize through one reducer. Two structural facts make
    // that true, pinned here: (1) the probe joins BROADCAST the tiny
    // query side, so the skewed stored table streams through
    // scan-partitioned tasks — a hot posting list is split across
    // parquet row groups like any other rows; (2) every downstream
    // exchange keys on query_id / (query_id, doc_id) / vec_id —
    // composites that SCATTER a hot term's postings — never on the
    // bare term_id or cell. An `Exchange hashpartitioning(term_id…` /
    // `(cell…` appearing in a serving plan is the regression this
    // test exists to catch.
    val kw = planOf(graft.queries.AnalyticsQueries.a19KeywordSearchPrebuilt(spark, dir))
    assert(!kw.contains("hashpartitioning(term_id"),
      s"a19 shuffles on the bare skewed term_id:\n$kw")
    assert(kw.contains("BroadcastHashJoin [term_id"),
      s"a19's postings probe is not a broadcast join:\n$kw")
    val vec = planOf(graft.queries.AnalyticsQueries.a13IvfPqSearchPrebuilt(spark, dir))
    assert(!vec.contains("hashpartitioning(cell"),
      s"a13 shuffles on the bare skewed cell id:\n$vec")
    assert(vec.contains("BroadcastHashJoin [cell"),
      s"a13's cell probe is not a broadcast join:\n$vec")
  }

  test("m09: prebuilt image near-dup — stored hash table only, ZERO decode in the search plan") {
    val p = planOf(graft.queries.AnalyticsQueries.m09ImageNearDupPrebuilt(spark, dir))
    // the media serving shape: the search plan is a bare parquet scan
    // of the persisted 24-byte (media_id, hash_hi, hash_lo) rows into
    // the cluster-aggregate + banded self-join tail. Decode is an
    // object-boundary mapPartitions (ImageIO inside aHash8) — ANY
    // object boundary in this plan means the corpus is being
    // re-decoded at search time (m07's inline shape, ~36 s of 45 s on
    // a ×100 corpus, PERF.md)
    assert(p.contains("graft_m09ih"), s"search must scan the persisted hash index:\n$p")
    assert(!p.contains("MapPartitions"), s"decode (object boundary) in the search plan:\n$p")
    assert(!p.contains("DeserializeToObject"), s"object boundary in the search plan:\n$p")
    assert(!p.contains("payload"), s"search plan touches media payload bytes:\n$p")
    assert(!p.contains("documents.parquet"), s"search plan scans the source corpus:\n$p")
    assert(!p.contains("ExistingRDD"), s"search plan contains build-time work:\n$p")
    assert(!p.contains("CartesianProduct"), s"banded near-dup join went cartesian:\n$p")
  }

  test("m10: generational image near-dup — both generation scans, ZERO decode at serve time") {
    val p = planOf(graft.queries.AnalyticsQueries.m10ImageNearDupAppended(spark, dir))
    // the generational media layout: base and increment segment are
    // separate parquet roots under a union, and the serve plan must
    // read BOTH as bare 24-byte hash scans — decode happened once per
    // generation at ITS ingest. There is no per-query IN-list here
    // (near-dup is an index-level self-join, every hash row
    // participates); the scale discipline is the cluster
    // pre-aggregation bounding the banded join, per generation alike.
    assert(p.contains("graft_m10ihbase"), s"serve must scan the frozen base generation:\n$p")
    assert(p.contains("graft_m10ihseg"), s"serve must scan the landed increment segment:\n$p")
    assert(!p.contains("graft_m09ih"), s"generational serve leaning on the monolith:\n$p")
    assert(!p.contains("MapPartitions"), s"decode (object boundary) in the serve plan:\n$p")
    assert(!p.contains("DeserializeToObject"), s"object boundary in the serve plan:\n$p")
    assert(!p.contains("payload"), s"serve plan touches media payload bytes:\n$p")
    assert(!p.contains("documents.parquet"), s"serve plan scans the source corpus:\n$p")
    assert(!p.contains("ExistingRDD"), s"serve plan contains build-time work:\n$p")
    assert(!p.contains("CartesianProduct"), s"banded near-dup join went cartesian:\n$p")
  }

  test("m11: compacted image near-dup — ONE stored layout, ZERO decode at serve time") {
    val p = planOf(graft.queries.AnalyticsQueries.m11CompactedNearDup(spark, dir))
    // compaction must leave the media serving shape intact: one bare
    // 24-byte hash scan (no generation union), and still zero object
    // boundaries — a re-merge that re-decoded would defeat the whole
    // decode-at-ingest economics
    assert(p.contains("graft_m11ih"), s"serve must scan the compacted stage:\n$p")
    assert(!p.contains("graft_m10ih"),
      s"compacted serve still reads the pre-compaction generations:\n$p")
    assert(!p.contains("MapPartitions"), s"decode (object boundary) in the serve plan:\n$p")
    assert(!p.contains("DeserializeToObject"), s"object boundary in the serve plan:\n$p")
    assert(!p.contains("payload"), s"serve plan touches media payload bytes:\n$p")
    assert(!p.contains("documents.parquet"), s"serve plan scans the source corpus:\n$p")
    assert(!p.contains("ExistingRDD"), s"serve plan contains build-time work:\n$p")
    assert(!p.contains("CartesianProduct"), s"banded near-dup join went cartesian:\n$p")
  }

  test("m12: tombstoned image near-dup — broadcast anti-join over both generations, ZERO decode") {
    val p = planOf(graft.queries.AnalyticsQueries.m12TombstoneNearDup(spark, dir))
    // deletes on the media index: the tombstone id set joins as a
    // broadcast anti onto the generation union BEFORE the cluster
    // aggregate — no shuffle of the hash table, no rewrite of either
    // generation, and still zero object boundaries
    assert(p.contains("graft_m10ihbase"), s"serve must scan the frozen base generation:\n$p")
    assert(p.contains("graft_m10ihseg"), s"serve must scan the landed increment segment:\n$p")
    assert(p.contains("graft_m12del"), s"serve must consult the tombstone table:\n$p")
    assert(p.contains("LeftAnti"), s"deletes must be a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"tombstones shuffled the hash table:\n$p")
    assert(!p.contains("MapPartitions"), s"decode (object boundary) in the serve plan:\n$p")
    assert(!p.contains("DeserializeToObject"), s"object boundary in the serve plan:\n$p")
    assert(!p.contains("payload"), s"serve plan touches media payload bytes:\n$p")
    assert(!p.contains("documents.parquet"), s"serve plan scans the source corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"banded near-dup join went cartesian:\n$p")
  }

  test("a28: prebuilt MaxSim — stored token-hash table only, no text in the serving plan") {
    val p = planOf(graft.queries.AnalyticsQueries.a28MaxSimPrebuilt(spark, dir))
    // the late-interaction serving shape: both sides of the score —
    // the corpus pass AND the query slice — come from the persisted
    // token-hash table, so the plan reads NO documents.parquet at
    // all; tokenization ran once, at ingest. The query side
    // broadcasts (10 rows) and the kernel is a scalar expression, so
    // nothing shuffles wider than groups×k.
    assert(p.contains("graft_a28th"), s"serving must scan the persisted token index:\n$p")
    assert(!p.contains("documents.parquet"), s"serving plan touches corpus text:\n$p")
    assert(p.contains("LessThan(doc_id,10)"),
      s"query slice must be a pushed doc_id filter on the stored table:\n$p")
    assert(!p.contains("SortMergeJoin"), s"serving shuffled into a sort-merge:\n$p")
    assert(!p.contains("ExistingRDD"), s"serving plan contains build-time work:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
  }

  test("a29: served re-rank — token fetch is a pushed IN-list; kernel sees only shortlist rows") {
    val df = graft.queries.AnalyticsQueries.a29MaxSimServed(spark, dir)
    val p = planOf(df)
    // the re-rank composition's serving shape (ColBERT §3.6): the
    // keyword channel generates candidates from ITS stored index, and
    // the token-hash fetch is a driver-built doc_id IN-list pushed
    // onto the doc_id-sorted stored token table — row-group seeks at
    // candidate cardinality, never a token-table scan. The only
    // corpus-text scan anywhere is the shortlist's pushed doc_id<10
    // query tokenization (a19's own shape).
    assert(p.contains("graft_a28th"), s"re-rank must fetch from the persisted token index:\n$p")
    assert(p.contains("In(doc_id"), s"candidate IN-list not pushed onto the token-table scan:\n$p")
    assert(p.contains("LessThan(doc_id,10)"),
      s"query token slice must be a pushed doc_id filter on the stored table:\n$p")
    // the serving plan reads NO corpus text at all: query tokenization
    // ran once inside the PINNED shortlist job (whose probe shape is
    // a19's own plan pin), and the shortlist enters this plan as a
    // materialized broadcast side
    assert(!p.contains("documents.parquet"),
      s"serving plan touches corpus text:\n$p")
    assert(!p.contains("SortMergeJoin"), s"re-rank shuffled into a sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"re-rank went cartesian:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
    // quantitative: execute and sum the post-filter row counts above
    // the token-index scans — the rows the MaxSim kernel can ever
    // see. Bounded by queries×shortlist candidates + the 10-row query
    // slice; a corpus-linear term here is the regression this pin
    // exists to catch (a28's brute shape).
    df.queryExecution.executedPlan.execute().count()
    // SQL metric accumulators land on task end; drain the async
    // listener bus rather than sleeping a fixed interval (flaky on a
    // loaded machine), then poll the summed metric until two
    // consecutive reads agree — the stability the assertion needs
    org.apache.spark.sql.graft.Internals.drainListenerBus(spark.sparkContext)
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(n: SparkPlan): Seq[SparkPlan] = n +: (n match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case o => o.children.flatMap(flatten)
    })
    val tokenFilters = flatten(df.queryExecution.executedPlan).collect {
      case f: FilterExec if f.collectLeaves().exists {
        case s: FileSourceScanExec =>
          s.metadata.getOrElse("Location", "").contains("a28th")
        case _ => false
      } => f
    }
    assert(tokenFilters.nonEmpty, s"no filtered token-index scan found in:\n$p")
    def visibleNow(): Long = tokenFilters.map(_.metrics("numOutputRows").value).sum
    val kernelVisible = Iterator.continually {
      val v = visibleNow(); Thread.sleep(50); (v, visibleNow())
    }.take(100).collectFirst { case (a, b) if a == b && a > 0 => a }
      .getOrElse(visibleNow())
    val bound = 10L * graft.queries.AnalyticsQueries.MaxSimShortlist + 10L
    assert(kernelVisible > 0 && kernelVisible <= bound,
      s"token rows surviving the pushed probes = $kernelVisible, bound $bound — " +
        "the re-rank is reading beyond the shortlist")
  }

  test("a32: appended-index re-rank — the IN-list pushes into BOTH generation scans") {
    val df = graft.queries.AnalyticsQueries.a32RerankAppended(spark, dir)
    val p = planOf(df)
    // the generational serving shape: base and increment segment are
    // separate parquet layouts under a union, and Catalyst must push
    // the candidate IN-list and the query doc_id slice into EACH
    // branch — an unfiltered branch means one generation is scanned
    // whole on every query, and serving degrades with index age
    assert(p.contains("graft_a30th"), s"re-rank must read the frozen base segment:\n$p")
    assert(p.contains("graft_a32seg"), s"re-rank must read the increment segment:\n$p")
    for (seg <- Seq("a30th", "a32seg")) {
      val scans = p.linesIterator.filter(l =>
        l.contains(s"graft_$seg") && l.contains("PushedFilters")).toSeq
      assert(scans.nonEmpty && scans.forall(l =>
        l.contains("In(doc_id") || l.contains("LessThan(doc_id,10)")),
        s"a $seg scan lacks the pushed doc_id probe:\n$p")
    }
    assert(!p.contains("documents.parquet"),
      s"serving plan touches corpus text (tokenization belongs in the pinned shortlist job):\n$p")
    assert(!p.contains("SortMergeJoin"), s"re-rank shuffled into a sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"re-rank went cartesian:\n$p")
  }

  test("a33: compacted re-rank — ONE stored layout, pushdown survives compaction") {
    val p = planOf(graft.queries.AnalyticsQueries.a33CompactedRerank(spark, dir))
    // compaction must IMPROVE the serve path: one token scan instead
    // of the generation union, with the candidate IN-list and the
    // query doc_id slice still pushed onto the compacted layout —
    // losing pushdown in a re-merge would trade files for row groups
    // and give back the point-lookup economics
    assert(p.contains("graft_a33th"), s"re-rank must read the compacted stage:\n$p")
    assert(!p.contains("graft_a30th") && !p.contains("graft_a32seg"),
      s"compacted serve still reads the pre-compaction generations:\n$p")
    val scans = p.linesIterator.filter(l =>
      l.contains("graft_a33th") && l.contains("PushedFilters")).toSeq
    assert(scans.nonEmpty && scans.forall(l =>
      l.contains("In(doc_id") || l.contains("LessThan(doc_id,10)")),
      s"a compacted scan lacks the pushed doc_id probe:\n$p")
    assert(!p.contains("documents.parquet"),
      s"serving plan touches corpus text:\n$p")
    assert(!p.contains("SortMergeJoin"), s"re-rank shuffled into a sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"re-rank went cartesian:\n$p")
  }

  test("a34: tombstoned re-rank — broadcast anti-join, pushdown still reaches both generations") {
    val p = planOf(graft.queries.AnalyticsQueries.a34TombstoneRerank(spark, dir))
    // deletes must not degrade the generational serve: the tombstone
    // set joins as a broadcast anti (never shuffles the token table),
    // and the candidate/query probes still push through it into BOTH
    // generation scans
    assert(p.contains("graft_a30th"), s"serve must read the frozen base segment:\n$p")
    assert(p.contains("graft_a32seg"), s"serve must read the increment segment:\n$p")
    assert(p.contains("graft_a34del"), s"serve must consult the tombstone table:\n$p")
    assert(p.contains("LeftAnti"), s"deletes must be a broadcast anti-join:\n$p")
    for (seg <- Seq("a30th", "a32seg")) {
      val scans = p.linesIterator.filter(l =>
        l.contains(s"graft_$seg") && l.contains("PushedFilters")).toSeq
      assert(scans.nonEmpty && scans.forall(l =>
        l.contains("In(doc_id") || l.contains("LessThan(doc_id,10)")),
        s"a $seg scan lost its pushed doc_id probe behind the anti-join:\n$p")
    }
    assert(!p.contains("SortMergeJoin"), s"tombstones shuffled the token table:\n$p")
    assert(!p.contains("CartesianProduct"), s"re-rank went cartesian:\n$p")
  }

  test("a35: compacted keyword search — ONE stored index, pushdown survives the re-stat merge") {
    val p = planOf(graft.queries.AnalyticsQueries.a35KeywordCompacted(spark, dir))
    // compaction-with-restat must leave a19's serving shape fully
    // intact: one postings layout (no base/segment union), kept-term
    // IN-list pushed, only the query-slice corpus scan — a second
    // documents scan would mean the merge leaked tokenization into
    // the serve plan (it must read index bytes only, at BUILD time)
    assert(p.contains("graft_a35kw"), s"search must scan the compacted index:\n$p")
    assert(!p.contains("graft_a20kw") && !p.contains("graft_a35seg"),
      s"compacted serve still reads the pre-merge base/segment:\n$p")
    assert(p.contains("In(term_id"), s"kept-term IN-list not pushed to the postings scan:\n$p")
    // r17: kept-term resolution is a metadata pre-pass (see the a19 pin)
    assert(p.contains("LocalTableScan"),
      s"kept-term set must join as a driver-local relation:\n$p")
    assert("documents\\.parquet".r.findAllIn(p).isEmpty,
      s"corpus scanned inside the serve plan — the merge leaked into it:\n$p")
    assert(!p.contains("SortMergeJoin"), s"keyword search shuffled into a sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"keyword search went cartesian:\n$p")
  }

  test("a36: tombstoned keyword search — broadcast anti-join, IN-list still pushed beneath it") {
    val p = planOf(graft.queries.AnalyticsQueries.a36TombstoneSearch(spark, dir))
    // deletes must not degrade the keyword serve: the tombstone set
    // joins as a broadcast anti (the postings table never shuffles for
    // it), and the kept-term probe still pushes through the anti-join
    // onto the term_id-sorted scan
    assert(p.contains("graft_a35kw"), s"search must scan the compacted index:\n$p")
    assert(p.contains("graft_a36del"), s"search must consult the tombstone table:\n$p")
    assert(p.contains("LeftAnti"), s"deletes must be a broadcast anti-join:\n$p")
    assert(p.contains("In(term_id"),
      s"kept-term IN-list lost beneath the anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"tombstones shuffled the postings scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"keyword search went cartesian:\n$p")
  }

  test("a37: twice-merged keyword search — pushdown survives the SECOND re-stat merge") {
    val p = planOf(graft.queries.AnalyticsQueries.a37KeywordLifecycle(spark, dir))
    // the lifecycle cycle's serve must be a19's shape over the final
    // layout ONLY: no intermediate generation, no segment, no
    // pre-cycle base in the plan — and the kept-term IN-list still
    // pushed onto the twice-merged postings scan (a merge operator
    // that lost sort order or pushdown on its own output would
    // degrade serving a little more every compaction round)
    assert(p.contains("graft_a37kw"), s"search must scan the final cycle layout:\n$p")
    assert(!p.contains("gen1"), s"serve still reads the intermediate merge:\n$p")
    assert(!p.contains("graft_a20kw") && !p.contains("graft_a37s1") &&
      !p.contains("graft_a37s2"),
      s"serve still reads a pre-merge base/segment:\n$p")
    assert(p.contains("In(term_id"), s"kept-term IN-list not pushed to the postings scan:\n$p")
    // r17: kept-term resolution is a metadata pre-pass (see the a19 pin)
    assert(p.contains("LocalTableScan"),
      s"kept-term set must join as a driver-local relation:\n$p")
    assert("documents\\.parquet".r.findAllIn(p).isEmpty,
      s"corpus scanned inside the serve plan — a merge leaked into it:\n$p")
    assert(!p.contains("SortMergeJoin"), s"keyword search shuffled into a sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"keyword search went cartesian:\n$p")
  }

  test("a40: epoch-2 as-of serve — IN-list pushed beneath the log-resolved anti-join") {
    // the soft-delete epoch is the one the commit log RESOLVES (layout
    // v1 + the v2 tombstone list merge-on-read): the kept-term IN-list
    // must stay a pushed parquet filter on gen1's postings UNDERNEATH
    // the broadcast tombstone anti-join, the tombstone side must
    // broadcast (ids-only), and the plan must reference no other
    // epoch's layout — a40's serve is a36's audited shape, arrived at
    // by log resolution instead of a dedicated query
    val p = planOf(graft.queries.AnalyticsQueries.a40ServeAsOf(spark, dir, 2))
    assert(p.contains("gen1"), s"epoch 2 must serve from the v1 layout:\n$p")
    assert(p.contains("tombstones"), s"epoch 2 must apply the tombstone list:\n$p")
    assert(!p.contains("graft_a20kw"), s"epoch 2 leaked the v0 base:\n$p")
    assert(p.contains("In(term_id"),
      s"kept-term IN-list not pushed beneath the anti-join:\n$p")
    // r17: kept-term resolution is a metadata pre-pass (see the a19 pin)
    assert(p.contains("LocalTableScan"),
      s"kept-term set must join as a driver-local relation:\n$p")
    assert("documents\\.parquet".r.findAllIn(p).isEmpty,
      s"corpus scanned inside an as-of serve plan:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"tombstone anti-join must broadcast the ids-only side:\n$p")
  }

  test("a38: twice-merged token re-rank — ONE layout, probes pushed after two merges") {
    val p = planOf(graft.queries.AnalyticsQueries.a38TokenLifecycle(spark, dir))
    assert(p.contains("graft_a38th"), s"re-rank must read the final cycle layout:\n$p")
    assert(!p.contains("gen1"), s"serve still reads the intermediate merge:\n$p")
    assert(!p.contains("graft_a30th") && !p.contains("graft_a38s1") &&
      !p.contains("graft_a38s2"),
      s"serve still reads a pre-merge base/segment:\n$p")
    val scans = p.linesIterator.filter(l =>
      l.contains("graft_a38th") && l.contains("PushedFilters")).toSeq
    assert(scans.nonEmpty && scans.forall(l =>
      l.contains("In(doc_id") || l.contains("LessThan(doc_id,10)")),
      s"a final-layout scan lacks the pushed doc_id probe:\n$p")
    assert(!p.contains("documents.parquet"),
      s"serving plan touches corpus text:\n$p")
    assert(!p.contains("SortMergeJoin"), s"re-rank shuffled into a sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"re-rank went cartesian:\n$p")
  }

  test("a39: twice-merged code search — one scan, frozen codebooks, no training") {
    val p = planOf(graft.queries.AnalyticsQueries.a39VectorLifecycle(spark, dir))
    assert(p.contains("graft_a39pq"), s"search must read the final cycle layout:\n$p")
    assert(!p.contains("gen1") && !p.contains("delta1") && !p.contains("delta2"),
      s"serve still reads an intermediate merge or delta:\n$p")
    assert(!p.contains("Union"), s"cycled search must be ONE code scan, not a union:\n$p")
    assert(!p.contains("ExistingRDD"), s"search plan contains training checkpoints:\n$p")
    assert(!p.contains("SortMergeJoin"), s"codes must stream past broadcast LUTs:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
  }

  test("m13: twice-merged image near-dup — ONE layout, ZERO decode after two merges") {
    val p = planOf(graft.queries.AnalyticsQueries.m13ImageLifecycle(spark, dir))
    assert(p.contains("graft_m13ih"), s"serve must scan the final cycle layout:\n$p")
    assert(!p.contains("gen1"), s"serve still reads the intermediate merge:\n$p")
    assert(!p.contains("graft_m10ih") && !p.contains("graft_m13s1") &&
      !p.contains("graft_m13s2"),
      s"serve still reads a pre-merge base/segment:\n$p")
    assert(!p.contains("MapPartitions"), s"decode (object boundary) in the serve plan:\n$p")
    assert(!p.contains("DeserializeToObject"), s"object boundary in the serve plan:\n$p")
    assert(!p.contains("payload"), s"serve plan touches media payload bytes:\n$p")
    assert(!p.contains("documents.parquet"), s"serve plan scans the source corpus:\n$p")
    assert(!p.contains("ExistingRDD"), s"serve plan contains build-time work:\n$p")
    assert(!p.contains("CartesianProduct"), s"banded near-dup join went cartesian:\n$p")
  }

  test("a20: append-only keyword update — stored postings read, corpus never re-tokenized") {
    val p = planOf(graft.queries.AnalyticsQueries.a20KeywordIndexUpdate(spark, dir))
    // the segment shape: stored corpus postings + dictionary are READ
    // (never rebuilt); the OOV segment dictionary is a driver-built
    // LocalRelation (materialized before this plan, increment-
    // vocabulary-sized), so the only documents scans are the pushed
    // doc_id<10 query slice and the single odd-id increment encode
    // pass — a third scan would mean the corpus half was re-tokenized
    assert(p.contains("graft_a20kw"), s"update must read the persisted corpus index:\n$p")
    assert(p.contains("In(term_id"), s"kept-term IN-list not pushed to stored postings:\n$p")
    // r17: the query-slice tokenization is a metadata pre-pass (see the
    // a19 pin), so the ONLY remaining documents scan is the single
    // odd-id increment encode pass
    assert(p.contains("LocalTableScan"),
      s"kept-term set must join as a driver-local relation:\n$p")
    assert("documents\\.parquet".r.findAllIn(p).length == 1,
      s"expected exactly one increment encode scan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"update shuffled into a sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"update went cartesian:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
    assert(!p.contains("ExistingRDD"), s"update plan contains build-time work:\n$p")
  }

  test("a21: prebuilt hybrid search — both channels read stored indexes, no build work") {
    val p = planOf(graft.queries.AnalyticsQueries.a21HybridSearchPrebuilt(spark, dir))
    // composition must INHERIT the serving shapes: the keyword channel
    // scans the persisted a19 index with the kept-term IN-list pushed,
    // the vector channel scans the persisted a13 inverted-list layout
    // plus the a11 codebooks, and nothing in the fused plan retrains or
    // re-tokenizes — the only corpus scan is the pushed doc_id<10
    // query slice. (The fusion's full-outer join and final rank window
    // run over ≤ 25 rows per query — metadata-scale, like a17's.)
    assert(p.contains("graft_a19kw"), s"keyword channel must scan the stored index:\n$p")
    assert(p.contains("graft_a13ivf"), s"vector channel must scan the stored IVF stage:\n$p")
    // r17: the ADC lookup tables and the kept-term set are metadata
    // pre-passes (the codebooks are read there, queries×K×M rows
    // collected); the fused plan joins driver-local relations instead
    assert(p.contains("LocalTableScan"),
      s"pre-resolved LUT/kept relations missing from the fused plan:\n$p")
    assert(p.contains("In(term_id"), s"kept-term IN-list not pushed to stored postings:\n$p")
    assert("documents\\.parquet".r.findAllIn(p).isEmpty,
      s"corpus scanned inside the fused serve plan:\n$p")
    assert(!p.contains("ExistingRDD"), s"fused plan contains build-time work:\n$p")
    assert(!p.contains("CartesianProduct"), s"fused search went cartesian:\n$p")
  }

  test("t15: BPE encode — one corpus scan, no joins, no training in the plan") {
    val p = planOf(graft.queries.AnalyticsQueries.t15BpeEncode(spark, dir))
    // the tokenizer-apply shape: the frozen merge table is driver-side
    // metadata (3 rules, collected before this plan exists), so encode
    // is ONE pushed corpus scan of pure codegen'd rewrites feeding one
    // map-side-combined per-doc aggregate — a second corpus scan or
    // any aggregate beyond the partial+final pair would mean the plan
    // re-ran pair counting (t14's training loop)
    assert("documents\\.parquet".r.findAllIn(p).length == 1,
      s"encode must scan the corpus exactly once:\n$p")
    assert("HashAggregate".r.findAllIn(p).length == 2,
      s"expected exactly partial+final per-doc aggregate:\n$p")
    assert(p.contains("graft_bpe_merge_pair"),
      s"encode must apply the codegen'd merge expression:\n$p")
    assert(!p.contains("Join"), s"encode plan must be join-free:\n$p")
    assert(!p.contains("Window"), s"encode plan must be window-free:\n$p")
    assert(!p.contains("ExistingRDD"), s"encode plan contains training work:\n$p")
  }

  test("t17: classifier apply — one scan, zero aggregates, no training in the plan") {
    val p = planOf(graft.queries.AnalyticsQueries.t17ClassifierApply(spark, dir))
    // the filter-fleet steady state: the frozen model is five driver
    // longs, so scoring is scan → codegen'd dot-product projection →
    // presentation sort. ANY aggregate in this plan means a gradient
    // round leaked into serving; any ExistingRDD means the feature
    // checkpoint (training-side machinery) leaked in.
    assert("documents\\.parquet".r.findAllIn(p).length == 1,
      s"apply must scan the corpus exactly once:\n$p")
    assert(!p.contains("HashAggregate"), s"apply plan must be aggregate-free:\n$p")
    assert(!p.contains("Join"), s"apply plan must be join-free:\n$p")
    assert(!p.contains("ExistingRDD"), s"apply plan contains training work:\n$p")
    assert(!p.contains("Window"), s"apply plan must be window-free:\n$p")
  }

  test("a12: append-only update — stored corpus codes read, never retrained") {
    val p = planOf(graft.queries.AnalyticsQueries.a12PqIndexUpdate(spark, dir))
    // the increment encode (odd ids against frozen broadcast codebooks)
    // is the only corpus-table work; codebook training and the corpus
    // encode live in the persisted stage. Training's eager
    // localCheckpoints surface as ExistingRDD — none may appear.
    assert(!p.contains("ExistingRDD"), s"update plan contains training checkpoints:\n$p")
    assert(p.contains("graft_a12pq"), s"update must read the persisted corpus index:\n$p")
    assert(!p.contains("CartesianProduct"), s"update went cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"), s"codes must stream past broadcast LUTs:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
  }

  test("a15: compacted search scans the merged table only — no delta union, no training") {
    val p = planOf(graft.queries.AnalyticsQueries.a15CompactedSearch(spark, dir))
    assert(p.contains("graft_a15pq"), s"search must read the compacted stage:\n$p")
    assert(!p.contains("graft_a12pq"), s"search still reads the pre-compaction index:\n$p")
    assert(!p.contains("Union"), s"compacted search must be ONE code scan, not a union:\n$p")
    assert(!p.contains("ExistingRDD"), s"search plan contains training checkpoints:\n$p")
    assert(!p.contains("SortMergeJoin"), s"codes must stream past broadcast LUTs:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
  }

  test("a16: delete set broadcast-anti-joined onto the stored code scan; no rewrite, no training") {
    val p = planOf(graft.queries.AnalyticsQueries.a16TombstoneSearch(spark, dir))
    assert(p.contains("graft_a15pq"), s"search must read the compacted stage:\n$p")
    assert(p.contains("graft_a16del"), s"search must consult the tombstone table:\n$p")
    assert(p.contains("LeftAnti"), s"deletes must be a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"tombstones shuffled the code scan:\n$p")
    assert(!p.contains("ExistingRDD"), s"search plan contains training checkpoints:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
  }

  test("p16: mixture rates broadcast back onto the corpus scan; no corpus shuffle join") {
    val p = planOf(graft.queries.AnalyticsQueries.p16DomainMixture(spark, dir))
    // the corpus is scanned twice (token totals, then membership) but
    // never shuffled for a join: the L-row rate table broadcasts
    assert(p.contains("BroadcastHashJoin"), s"rate table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled into a sort-merge join:\n$p")
    assert(!p.contains("CartesianProduct"), s"mixture derivation went cartesian:\n$p")
    // both aggregations are two-phase (map-side partial)
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"expected partial+final aggregates on both passes:\n$p")
  }

  test("s14: post-ingest search reads stored corpus codes + streamed codes, never retrains") {
    val p = planOf(graft.queries.StreamingQueries.s14StreamAnnIngest(spark, dir))
    // same contract as a12's pin: the returned search must read the
    // persisted corpus index and the streamed batch codes — training's
    // eager localCheckpoints (ExistingRDD) may not appear
    assert(!p.contains("ExistingRDD"), s"search plan contains training checkpoints:\n$p")
    assert(p.contains("graft_a12pq"), s"search must read the persisted corpus index:\n$p")
    assert(p.contains("graft_s14"), s"search must read the streamed ingest codes:\n$p")
    assert(!p.contains("CartesianProduct"), s"search went cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"), s"codes must stream past broadcast LUTs:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
  }

  test("s15: post-stream search anti-joins streamed tombstones onto stored codes, never retrains") {
    val p = planOf(graft.queries.StreamingQueries.s15StreamDeletes(spark, dir))
    assert(p.contains("graft_a15pq"), s"search must read the compacted stage:\n$p")
    assert(p.contains("graft_s15"), s"search must consult the streamed tombstones:\n$p")
    assert(p.contains("LeftAnti"), s"deletes must be a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"tombstones shuffled the code scan:\n$p")
    assert(!p.contains("ExistingRDD"), s"search plan contains training checkpoints:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
  }

  test("a10: IVF-PQ search path is all-broadcast; only the build join may sort-merge") {
    val p = planOf(graft.queries.AnalyticsQueries.a10IvfPqAnn(spark, dir))
    assert(!p.contains("CartesianProduct"), s"IVF-PQ search went cartesian:\n$p")
    assert(!p.contains("Window"), s"per-query top-k must not plan a window:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin BuildLeft"),
      s"corpus became a nested-loop build side:\n$p")
    // probes, ADC LUTs, and the re-rank fetch all broadcast
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe/LUT joins:\n$p")
    // exactly one sort-merge is allowed: the BUILD-time stitch of the
    // code index with the cell assignment, keyed on vec_id (it reuses
    // the pivot's hash partitioning; at search time nothing may SMJ)
    val smjs = "SortMergeJoin \\[(\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(smjs.forall(_ == "vec_id") && smjs.length <= 1,
      s"unexpected sort-merge joins on ${smjs.mkString(",")}:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 4,
      s"expected partial+final bounded-heap aggregates:\n$p")
  }

  test("d12: pair join is cluster-keyed — only the k-means centroid broadcasts nest-loop") {
    val p = planOf(graft.queries.AnalyticsQueries.d12SemDedup(spark, dir))
    assert(!p.contains("CartesianProduct"), s"pair enumeration went cartesian:\n$p")
    // the clustering is checkpointed, so no a08 subtree appears at all:
    // the pairwise cosine must ride an equi-join on the cluster id,
    // never an all-pairs nested loop
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair enumeration must not nest-loop:\n$p")
    assert(p.contains("Join [cluster") || p.contains("Join [coalesce(cluster"),
      s"pair join must be keyed on the cluster id:\n$p")
  }

  test("q32: bloom probe prunes the fact side below the join, and actually prunes") {
    val df = graft.queries.AdvancedQueries.q32BloomPrune(spark, dir)
    val p = planOf(df)
    // the probe must sit on the fact branch BELOW the join (plan text is
    // top-down, so the Filter line prints after its parent join line)
    val joinAt = p.indexOf("Join")
    val probeAt = p.indexOf("graft_bloom_contains")
    assert(joinAt >= 0 && probeAt > joinAt,
      s"bloom probe must filter the fact scan below the join:\n$p")
    // effectiveness: the probe keeps roughly the dimension's selectivity
    // (~1/5 of fact rows + fpp), never the full scan
    import graft.expressions.{BloomAgg, BloomContains}
    val dim = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    val f = dim.agg(BloomAgg(col("o_orderkey"), 1 << 20, 5)).head.getAs[Array[Byte]](0)
    val li = Tables.lineitem(spark, dir)
    val total = li.count()
    val kept = li.filter(BloomContains(lit(f), col("l_orderkey"))).count()
    assert(kept < total / 2, s"bloom probe kept $kept of $total fact rows — not pruning")
  }

  test("q33: EXISTS rewrites to one semi join, not a per-row subquery") {
    val p = planOf(graft.queries.AdvancedQueries.q33ExistsSubquery(spark, dir))
    assert(p.contains("LeftSemi"), s"expected a left semi join rewrite:\n$p")
    assert(!p.contains("CartesianProduct"), s"EXISTS went cartesian:\n$p")
  }

  test("p23: as-of reads plan ONLY that snapshot's files; deletes broadcast anti-join") {
    // time travel must be FILE pruning off the commit log, not a scan-
    // and-filter over history: the as-of-1 plan may reference only the
    // v0/v1 deltas (no v2 delta, no tombstones, no version predicate
    // doing runtime work), while the as-of-3 plan applies the delete
    // as a broadcast anti-join of the tombstone id list
    // inputFiles is the planned file set itself (the explain string
    // truncates InMemoryFileIndex path lists, so assert on the real set)
    val f1 = PipelineQueries.p23SnapshotAsOf(spark, dir, 1).inputFiles.toSeq
    assert(f1.exists(_.contains("delta_v0")) && f1.exists(_.contains("delta_v1")),
      s"as-of-1 must plan the v0+v1 deltas: $f1")
    assert(!f1.exists(_.contains("delta_v2")) && !f1.exists(_.contains("tombstones")),
      s"as-of-1 plan leaked post-snapshot files: $f1")
    val s3 = PipelineQueries.p23SnapshotAsOf(spark, dir, 3)
    val f3 = s3.inputFiles.toSeq
    assert(f3.exists(_.contains("delta_v2")) && f3.exists(_.contains("tombstones_v3")),
      s"as-of-3 must plan all deltas + tombstones: $f3")
    val p3 = planOf(s3)
    assert(p3.contains("BroadcastHashJoin") && p3.contains("LeftAnti"),
      s"merge-on-read delete must be a broadcast anti-join:\n$p3")
  }

  /** Spark jobs started while `build` runs, the async listener bus
    * drained on both sides so no earlier job leaks in or later one out. */
  private def jobsStartedBy(build: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.Internals
    val sc = spark.sparkContext
    Internals.drainListenerBus(sc)
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { build; Internals.drainListenerBus(sc); started.get }
    finally sc.removeSparkListener(listener)
  }

  test("p23: building the time-travel plan starts no Spark job — the log carries files and schemas") {
    PipelineQueries.p23SnapshotAsOf(spark, dir, 0) // stage the table once
    // the log read is a listing and every artifact is read under its
    // logged schema: no collect, no schema-inference job
    val jobs = jobsStartedBy(PipelineQueries.p23TimeTravel(spark, dir))
    assert(jobs == 0, s"building p23's plan started $jobs Spark jobs")
  }

  test("p29: building the change feed starts at most one job per artifact read") {
    PipelineQueries.p29LogChanges(spark, dir) // stage the table once
    // the triples come from the log listing; only the three in-range
    // artifacts' schemaless reads may infer a schema
    val jobs = jobsStartedBy(PipelineQueries.p29LogChanges(spark, dir))
    assert(jobs <= 3, s"building p29's feed started $jobs Spark jobs")
  }

  test("p38: building the head plan starts no Spark job") {
    import graft.queries.AnalyticsQueries
    AnalyticsQueries.p38AtomicUpdate(spark, dir).collect() // land + commit
    val logDir = s"${PipelineQueries.staging("p38occ", dir)}/log"
    val log = graft.operators.OccCommitLog.read(new org.apache.hadoop.fs.Path(logDir)
      .getFileSystem(spark.sessionState.newHadoopConf()), logDir)
    // every insert and delete is read under its logged schema: no
    // schema-inference job, and the delete rule is a plan, not a collect
    val jobs = jobsStartedBy(AnalyticsQueries.tableAsOfOrdered(spark, log, 2, logDir))
    assert(jobs == 0, s"building p38's head plan started $jobs Spark jobs")
  }

  test("loading every source table reads its schema from the footer: Spark's inferred schema, no job") {
    // events' nanos encoding needs nanosAsLong, which Tables.events sets
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (name <- Tables.all) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      var loaded: org.apache.spark.sql.DataFrame = null
      val jobs = jobsStartedBy { loaded = Tables.load(spark, dir, name) }
      assert(loaded.schema == inferred, s"$name: footer schema differs from Spark's inference")
      assert(jobs == 0, s"loading $name started $jobs Spark jobs")
    }
  }

  test("p38 end to end starts at most 8 jobs") {
    import graft.queries.AnalyticsQueries
    AnalyticsQueries.p38AtomicUpdate(spark, dir).collect() // warm
    // four artifact writes (landed together) and the head's collect;
    // the documents read takes its schema from the footer, no job
    val jobs = jobsStartedBy(AnalyticsQueries.p38AtomicUpdate(spark, dir).collect())
    assert(jobs <= 8, s"p38 end to end started $jobs Spark jobs")
  }

  /** Building `key`'s plan on a warm call (staged fixtures already
    * in place) starts at most `max` Spark jobs. */
  private def planJobsAtMost(key: String, max: Int): Unit = {
    val query = SparkEntry.queries(key)
    query(spark, dir).collect() // stage once
    val jobs = jobsStartedBy(query(spark, dir))
    assert(jobs <= max, s"building $key's plan started $jobs Spark jobs")
  }

  // the commit logs below are listings: the jobs left are the index
  // and table reads' own schema inference, none for reading a log
  test("a40: building the four-epoch plan starts at most 29 jobs") {
    planJobsAtMost("a40_index_time_travel", 29)
  }

  test("p33: building the checkpointed head plan starts at most 2 jobs") {
    planJobsAtMost("p33_table_checkpoint_vacuum", 2)
  }

  test("p34: building the stats-pruned plan starts at most 1 job") {
    planJobsAtMost("p34_stats_skipping", 1)
  }

  test("p40: building the bloom-pruned plan starts at most 1 job") {
    planJobsAtMost("p40_bloom_skipping", 1)
  }

  test("staging a replay stream starts at most 6 jobs") {
    import graft.streaming.ReplayMicroBatchStream
    val sp = spark
    import sp.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_audit_replay").toString
    (0 until 1000).map(i => (i.toLong, s"k${i % 3}", s"p$i"))
      .toDF("ts", "key", "payload").write.mode("overwrite").parquet(src)
    val opts = new java.util.HashMap[String, String]()
    Seq("path" -> src, "tsMillisExpr" -> "ts", "keyExpr" -> "key", "payloadExpr" -> "payload")
      .foreach { case (k, v) => opts.put(k, v) }
    val s = new ReplayMicroBatchStream(new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
    // the range-partitioned write, then the schedule's aggregate: the
    // snapshot is read under the projection's schema and the schedule
    // is sorted on the driver
    try {
      val jobs = jobsStartedBy(s.reportLatestOffset())
      assert(jobs <= 6, s"staging a replay stream started $jobs Spark jobs")
    } finally s.stop()
  }

  test("p13: sorted layout's row-group stats skip the month; insert order cannot") {
    import scala.jdk.CollectionConverters._
    PipelineQueries.p13SortLayout(spark, dir).collect() // materialize staging
    val conf = spark.sessionState.newHadoopConf()
    // (min, max) micros of l_shipdate per row group, straight from the
    // parquet footers — the stats a reader's row-group filter consults
    def bounds(path: String): Seq[(Long, Long)] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isFile) Seq(p)
        else fs.listStatus(p).toSeq.map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
      files.flatMap { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == "l_shipdate").get
          // normalize to micros — the driver testdata stores millis,
          // Spark writes micros
          val toMicros = c.getPrimitiveType.getLogicalTypeAnnotation match {
            case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit match {
                case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
                case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS => 1L
                case _ => fail(s"unexpected timestamp unit in $f")
              }
            case other => fail(s"unexpected l_shipdate type $other in $f")
          }
          val st = c.getStatistics
          (st.genericGetMin.asInstanceOf[Long] * toMicros,
            st.genericGetMax.asInstanceOf[Long] * toMicros)
        } finally r.close()
      }
    }
    def overlapFrac(bs: Seq[(Long, Long)]): Double = {
      val lo = java.time.LocalDate.of(1995, 3, 1).toEpochDay * 86400L * 1000000L
      val hi = java.time.LocalDate.of(1995, 4, 1).toEpochDay * 86400L * 1000000L
      bs.count { case (mn, mx) => mx >= lo && mn < hi }.toDouble / bs.size
    }
    val sorted = bounds(s"${PipelineQueries.staging("p13", dir)}/li_sorted")
    val original = bounds(s"$dir/lineitem.parquet")
    assert(overlapFrac(original) == 1.0,
      s"expected the insert-ordered layout to be unskippable, got ${overlapFrac(original)}")
    assert(overlapFrac(sorted) <= 0.25,
      s"sorted layout should let a reader skip ≥75% of row groups, " +
        s"got ${overlapFrac(sorted)} over ${sorted.size} groups")
  }

  test("p14: z-order row-group boxes prune on BOTH key dimensions") {
    import scala.jdk.CollectionConverters._
    PipelineQueries.p14ZOrderLayout(spark, dir).collect() // materialize staging
    val conf = spark.sessionState.newHadoopConf()
    // per row group: ((pkMin, pkMax), (skMin, skMax)) — the bounding
    // box a reader's row-group filter consults
    def boxes(path: String): Seq[((Long, Long), (Long, Long))] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isFile) Seq(p)
        else {
          // recurse: the z-ordered layout is zfile=N/part-*.parquet
          val it = fs.listFiles(p, true)
          val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
          while (it.hasNext) {
            val f = it.next().getPath
            if (f.getName.endsWith(".parquet")) buf += f
          }
          buf.toSeq
        }
      files.flatMap { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          def mm(name: String): (Long, Long) = {
            val st = b.getColumns.asScala
              .find(_.getPath.toDotString == name).get.getStatistics
            (st.genericGetMin.toString.toLong, st.genericGetMax.toString.toLong)
          }
          (mm("l_partkey"), mm("l_suppkey"))
        } finally r.close()
      }
    }
    // the p14 box predicate: l_partkey in [50, 80] AND l_suppkey in [2, 5]
    def hits(bs: Seq[((Long, Long), (Long, Long))]): Double =
      bs.count { case ((pkLo, pkHi), (skLo, skHi)) =>
        pkHi >= 50 && pkLo <= 80 && skHi >= 2 && skLo <= 5
      }.toDouble / bs.size
    val z = boxes(s"${PipelineQueries.staging("p14", dir)}/li_zorder")
    val original = boxes(s"$dir/lineitem.parquet")
    assert(hits(original) == 1.0,
      s"expected the insert-ordered layout to be unskippable, got ${hits(original)}")
    assert(hits(z) <= 0.5,
      s"z-ordered layout should let a reader skip >=half the row groups " +
        s"on a 2-D box, got ${hits(z)} over ${z.size} groups")
    // and the 2-D property itself: normalization must make BOTH
    // dimensions participate in the curve — some pair of row groups
    // must be disjoint in partkey AND some pair disjoint in suppkey
    // (a single-column sort gives only the former)
    def splitsOn(sel: ((Long, Long), (Long, Long)) => (Long, Long)): Boolean =
      z.exists { a => z.exists { b =>
        val (aLo, aHi) = sel(a._1, a._2); val (bLo, bHi) = sel(b._1, b._2)
        aHi < bLo || bHi < aLo
      } }
    assert(splitsOn((pk, _) => pk), "no row-group pair disjoint in partkey")
    assert(splitsOn((_, sk) => sk), "no row-group pair disjoint in suppkey — " +
      "the narrow dimension fell out of the curve (normalization broken)")
  }

  test("a17: both hybrid channels broadcast the query side; top-k is " +
    "bounded-heap agg; no cartesian anywhere") {
    val p = planOf(graft.queries.AnalyticsQueries.a17HybridSearch(spark, dir))
    // vector channel: 10-query side is the NLJ build side (a01's pin)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"vector-channel query side must broadcast:\n$p")
    // keyword channel: the query-terms probe into the corpus term
    // index must be a broadcast hash join on term, never a shuffle of
    // the index or a cartesian
    assert(p.contains("BroadcastHashJoin"),
      s"keyword-channel term probe must be a broadcast equi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in hybrid plan:\n$p")
    // each channel's per-query top-20 is the bounded heap (partial +
    // final per channel); the only window is the fusion ranking over
    // <=40 fused rows per query — metadata-scale by construction
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 4,
      s"expected bounded-heap top-k in both channels:\n$p")
  }

  test("q35: banded range join plans as an equi-join — the interval " +
    "predicate must not degrade to BNLJ") {
    val p = planOf(graft.queries.AdvancedQueries.q35RangeJoin(spark, dir))
    // the whole rewrite exists to put time into the join key: the
    // context join must hash/sort-merge on (user_id, bucket), with the
    // exact interval check as a residual condition inside it
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"interval predicate fell out of the join key (BNLJ):\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in range join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected an equi-join on (user_id, bucket):\n$p")
  }

  test("m07/p21: the batch additions never plan a cartesian; " +
    "their joins stay equi-joins") {
    // m07: band-bucket self-join over distinct hashes; p21: three
    // rank⋈edges iterations. A cartesian in either is the quadratic
    // the design exists to avoid; the join keys (band,key) / (src)
    // must survive as hash/sort-merge/broadcast equi-joins.
    Seq(
      graft.queries.AnalyticsQueries.m07ImageNearDup(spark, dir),
      graft.queries.AnalyticsQueries.p21PageRank(spark, dir)
    ).foreach { df =>
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ:\n$p")
    }
  }

  test("q40: UNPIVOT plans as a scan-local Expand — no join, no window") {
    // the melt must stay embarrassingly parallel: each input row emits
    // its 4 long-form rows inside the scan projection (Expand), then
    // one two-phase aggregate. A join or window here would turn a
    // column-to-row reshape into a shuffle of the whole fact table.
    val p = planOf(graft.queries.AdvancedQueries.q40Unpivot(spark, dir))
    assert(p.contains("Expand"), s"UNPIVOT must plan as Expand:\n$p")
    assert(!p.contains("Join"), s"melt must not join:\n$p")
    assert(!p.contains("Window"), s"melt must not window:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final aggregate over the melted rows:\n$p")
  }

  test("m08: audio decimation is a narrow 1:1 pass — no join, no " +
    "aggregate, no exchange before the presentation sort") {
    val p = planOf(graft.queries.AnalyticsQueries.m08AudioResample(spark, dir))
    assert(!p.contains("Join"), s"decimation must not join:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"decimation must not aggregate:\n$p")
    assert(p.contains("MapPartitions"), s"expected the 1:1 mapPartitions kernel:\n$p")
  }

  test("a25: MMR touches the corpus only via the shortlist heap scan — " +
    "bounded-heap top-k, broadcast re-fetch, no window, no cartesian") {
    val p = planOf(graft.queries.AnalyticsQueries.a25MmrRerank(spark, dir))
    assert(!p.contains("Window"), s"shortlist degraded to a window sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final heap aggregate for the shortlist:\n$p")
    // candidate embeddings come back via a broadcast equi-join of the
    // queries×L shortlist onto the corpus scan — never a corpus shuffle
    assert(p.contains("BroadcastHashJoin"), s"shortlist re-fetch must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the re-fetch:\n$p")
  }

  test("q41: heavy-hitter recount is the FUSED candidate-count " +
    "aggregate — no join, no window, no Generate over the corpus") {
    // the returned plan is the RECOUNT pass (the MG sketch pass runs
    // eagerly inside the builder); the ≤64-candidate exact counts fold
    // inside one partial+final aggregate (r17 §4), with the only
    // Generate the 64-row explode of the aggregate's own result — the
    // corpus-wide bigram Generate and the per-bigram rows are gone
    val p = planOf(graft.queries.AdvancedQueries.q41HeavyHitters(spark, dir))
    assert(!p.contains("Join"), s"candidate list degraded to a join:\n$p")
    assert(!p.contains("Window"), s"window in recount:\n$p")
    assert("partial_graft_bigram_candidate_counts".r.findAllIn(p).nonEmpty,
      s"expected the partial fused recount aggregate:\n$p")
    assert("(?<!partial_)graft_bigram_candidate_counts".r.findAllIn(p).nonEmpty,
      s"expected the final fused recount aggregate:\n$p")
    // the explode must sit ABOVE the aggregate (64 rows), not above the
    // corpus scan: in the formatted tree the Generate's child is the
    // final ObjectHashAggregate, never the parquet scan
    assert(!p.contains("Explode") || p.contains("ObjectHashAggregate"),
      s"recount still explodes the corpus:\n$p")
  }

  test("t20: novelty is the vocabulary MIN-aggregate plus equi-joins — " +
    "no window, no cartesian, partial+final agg") {
    // first-occurrence attribution must NOT become a per-shingle window
    // sort (that's a full sort of the corpus token stream); the
    // shingle→first-doc table is a map-side-combinable MIN.
    val p = planOf(graft.queries.AnalyticsQueries.t20Novelty(spark, dir))
    assert(!p.contains("Window"), s"novelty degraded to a window sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final MIN aggregate:\n$p")
  }

  test("t14: a training round's pair-count job is a two-phase hash-agg " +
    "over a narrow explode — no join, no window, no driver state") {
    // t14BpeMerges itself returns a driver-built LocalRelation (the
    // merge table IS the output), so auditing ITS plan is vacuous —
    // audit the job each round actually runs instead: pair counts over
    // the current symbol table.
    val words = graft.queries.AnalyticsQueries.t14InitialSymbols(spark, dir)
    val p = planOf(graft.queries.AnalyticsQueries.t14PairCounts(words))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"pair count must be partial+final hash aggregate:\n$p")
    assert(!p.contains("Join"), s"pair counting must not join:\n$p")
    assert(!p.contains("Window"), s"pair counting must not window:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("t18: chunking is scan-local — no join, no aggregate, " +
    "fan-out stays a row-local explode") {
    // chunking at 100 TB must stay embarrassingly parallel: tokenize →
    // posexplode of a row-local start list → project. The only
    // exchange allowed is the presentation sort's.
    val p = planOf(graft.queries.AnalyticsQueries.t18Chunking(spark, dir))
    assert(!p.contains("Join"), s"chunking must not join:\n$p")
    assert(!p.contains("Aggregate"), s"chunking must not aggregate:\n$p")
    assert(p.contains("Generate"), s"expected a row-local explode:\n$p")
  }

  test("q38: min-k sketch is a partial+final aggregate — " +
    "no window sort over the hash column") {
    // the KMV heap must reduce map-side (shuffle = groups×k longs);
    // a row_number window here would sort and shuffle every hash
    val p = planOf(graft.queries.AdvancedQueries.q38KmvDistinct(spark, dir))
    assert(!p.contains("Window"), s"sketch degraded to a window sort:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final min-k aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"sketch must not join:\n$p")
  }

  test("a22: passage search broadcasts the query terms; top-k is the " +
    "bounded heap; no cartesian") {
    val p = planOf(graft.queries.AnalyticsQueries.a22PassageSearch(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"query side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ:\n$p")
    assert(!p.contains("Window"), s"top-k degraded to a window sort:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final heap aggregate:\n$p")
  }

  test("whole-stage codegen covers the native hash expression") {
    val df = Tables.documents(spark, dir)
      .select(graft.expressions.PolyHash(col("text")).as("fp"))
    val p = planOf(df)
    assert(p.contains("graft_poly_hash") || p.contains("PolyHash") ||
      df.queryExecution.executedPlan.exists(_.getClass.getSimpleName.startsWith("WholeStageCodegen")),
      s"native expression not in codegen stage:\n$p")
  }

  /** LambdaRecord occurrences across every node of `plan`. */
  private def lambdaRecords[P <: org.apache.spark.sql.catalyst.plans.QueryPlan[P]](plan: P): Int =
    plan.collect { case n => n.expressions.map(_.collect {
      case l: graft.expressions.LambdaRecord => l }.size).sum }.sum

  private val ObjectNodes = Seq("MapPartitions", "DeserializeToObject", "SerializeFromObject")

  test("replay → lambda → to_json stream: one LambdaRecord, no object round trip, in codegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.LambdaTransform
    import spark.implicits._
    val doc = "<NS1:message xmlns:NS1=\"http://uptake.com/bhp/1/sensors\"><NS1:messagePayload>" +
      LambdaTransform.Attrs.map(a => s"<NS1:$a>x</NS1:$a>").mkString +
      "</NS1:messagePayload></NS1:message>"
    val payload = java.util.Base64.getEncoder.encodeToString(doc.getBytes("UTF-8"))
    val dir = java.nio.file.Files.createTempDirectory("graft_lambda_stream").toString
    (0 until 20).map(i => (i.toLong, s"k$i", payload)).toDF("ts", "key", "payload")
      .write.mode("overwrite").parquet(dir)
    // perfbench's paced shape
    val src = spark.readStream.format("graft-replay").option("path", dir)
      .option("tsMillisExpr", "ts").option("keyExpr", "key").option("payloadExpr", "payload")
      .option("stagingDir", java.nio.file.Files.createTempDirectory("graft_lambda_stage").toString)
      .load()
    val records = LambdaTransform.transform(src, col("payload"), keep = Seq(col("partition_key")))
      .select(col("partition_key"),
        to_json(struct(LambdaTransform.Columns.map(col): _*)).cast("binary"))
      .as[(String, Array[Byte])]
    val q = records.writeStream
      .foreach(new graft.streaming.KinesisSink.Writer(
        () => new graft.streaming.InMemoryRecordProducer(), "plan"))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_lambda_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.numInputRows).sum == 20)
    val ex = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
    val opt = ex.optimizedPlan
    val phys = ex.executedPlan
    ObjectNodes.foreach { n =>
      assert(!opt.exists(_.nodeName.contains(n)), s"$n in the optimized plan:\n$opt")
      assert(!phys.exists(_.nodeName.contains(n)), s"$n in the executed plan:\n$phys")
    }
    assert(lambdaRecords(opt) == 1, s"the parse must appear exactly once:\n$opt")
    assert(phys.collect { case w: WholeStageCodegenExec => lambdaRecords(w.child) }.sum == 1,
      s"the parse must run inside whole-stage codegen:\n$phys")
  }

  test("x06: the 13-column lambda select parses once — CollapseProject keeps the struct") {
    val df = graft.queries.XmlQueries.x06LambdaProjection(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    assert(lambdaRecords(opt) == 1, s"the parse must appear exactly once:\n$opt")
    ObjectNodes.foreach { n =>
      assert(!opt.exists(_.nodeName.contains(n)), s"$n in the optimized plan:\n$opt")
    }
  }
}
