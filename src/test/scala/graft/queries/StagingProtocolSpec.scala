package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.GraftSession

/** Failure injection for the meta-last completeness-marker protocol
  * that EVERY persisted index stage relies on (imageHashStage,
  * stageM10Generation, stagePqIndex, stageIvfIndex, the a28 token-hash
  * table, the p22/p26 layouts, ...): data dirs are written first and
  * `meta` is written LAST, so
  *
  *  - a crash mid-write leaves data but no `meta` → the next call must
  *    REBUILD rather than serve the truncated generation;
  *  - a present `meta` short-circuits → the stage is never rewritten
  *    once complete (serving stays read-only).
  *
  * One spec covers the family because every site is the same four
  * lines around the same `fs.exists($stage/meta)` test; this drives
  * the representative with the richest scaladoc (the m10 generational
  * image stage) through both halves of the contract. The truncated
  * state is injected for real: `hashes` is physically replaced by a
  * 1-row parquet, which is exactly what a crash between the two
  * writes can leave behind.
  */
class StagingProtocolSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(cores = 4)
  private val dir = "/root/testdata/sf0.001"

  test("meta marker short-circuits when present; its absence forces a rebuild") {
    val pred = col("media_id") % 2 === 1 // the m10 segment generation's shape
    // A DEDICATED test-only stage tag: the injection below physically
    // corrupts the stage on disk, and a failure/interrupt between the
    // injection and the half-2 rebuild would leave a truncated-but-
    // marked-complete stage that every later suite/bench run on this
    // machine silently serves (the fingerprint-keyed cache never
    // rebuilds it). Under its own tag the blast radius is this spec —
    // and force=true at entry re-arms it even after a prior crashed
    // run left the corrupted state behind.
    val stage = AnalyticsQueries.stageM10Generation(
      spark, dir, "m10ihspec", pred, force = true)
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val hashesPath = new Path(s"$stage/hashes")
    val metaPath = new Path(s"$stage/meta")
    assert(fs.exists(metaPath), "fresh build must end with the meta marker")
    val full = spark.read.parquet(s"$stage/hashes").count()
    assert(full > 1, s"fixture too small to distinguish truncation (n=$full)")

    // Inject a truncated generation: physically replace `hashes` with a
    // single row, exactly the state a crash mid-`hashes`-write (or a
    // partially-committed overwrite) can leave on disk.
    val one = spark.read.parquet(s"$stage/hashes").limit(1)
    val oneRows = one.collect().toSeq
    val schema = one.schema
    fs.delete(hashesPath, true)
    spark.createDataFrame(spark.sparkContext.parallelize(oneRows, 1), schema)
      .write.parquet(s"$stage/hashes")

    // Half 1 — marker present: the stage must short-circuit, i.e. the
    // builder trusts `meta` and does NOT rewrite. The injected 1-row
    // table surviving the call is the proof that `meta` (not the data
    // dir) is what gates the rebuild.
    AnalyticsQueries.stageM10Generation(spark, dir, "m10ihspec", pred)
    assert(spark.read.parquet(s"$stage/hashes").count() == 1,
      "a present meta marker must short-circuit: stage was rewritten")

    // Half 2 — the crash state: truncated data, NO marker. The next
    // call must detect the missing marker and rebuild the whole
    // generation instead of serving the 1-row truncation.
    fs.delete(metaPath, true)
    AnalyticsQueries.stageM10Generation(spark, dir, "m10ihspec", pred)
    assert(fs.exists(metaPath), "rebuild must restore the completeness marker")
    assert(spark.read.parquet(s"$stage/hashes").count() == full,
      "missing meta must force a full rebuild, not serve the truncation")
    val n = spark.read.parquet(s"$stage/meta").head.getAs[Long]("n")
    assert(n == full, "meta row count must match the rebuilt generation")
  }

  // ── the CYCLE shape (r13 verdict ask): the a37 staging block lands
  // gen1 (itself a terms+postings layout), tombstones, the final
  // layout, and meta IN SEQUENCE, with only the stage-level meta as
  // the completeness marker. A crash anywhere inside that window
  // leaves multi-artifact orphans — possibly TRUNCATED mid-write —
  // that the next force=false build must ignore wholesale, because
  // nothing below meta is individually trusted. This is exactly the
  // crash window a 100-TB compactor lives in. Both tests run under a
  // DEDICATED tag (same blast-radius argument as m10ihspec above),
  // re-armed by force=true at entry.

  private def sortedRows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  /** Physically replace `path` with a 1-row parquet of the same
    * schema — the state a crash mid-write can leave behind. */
  private def truncateToOneRow(path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val one = spark.read.parquet(path).limit(1)
    val rows = one.collect().toSeq
    val schema = one.schema
    fs.delete(new Path(path), true)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(path)
  }

  test("cycle staging: crash between merge 1 and merge 2 (truncated gen1, no marker) -> full rebuild") {
    val tag = "a37spec"
    val stage = AnalyticsQueries.a37KwCycleStageTagged(spark, dir, tag, force = true)
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val refTerms = sortedRows(s"$stage/terms")
    val refPostings = sortedRows(s"$stage/postings")
    val gen1Full = spark.read.parquet(s"$stage/gen1/postings").count()
    assert(gen1Full > 1, "fixture too small to distinguish truncation")
    // the crash state: merge 1's output landed but TRUNCATED mid-write;
    // tombstones never landed, merge 2 never ran, no marker
    truncateToOneRow(s"$stage/gen1/postings")
    Seq("tombstones", "terms", "postings", "meta").foreach(d =>
      fs.delete(new Path(s"$stage/$d"), true))
    AnalyticsQueries.a37KwCycleStageTagged(spark, dir, tag)
    assert(fs.exists(new Path(s"$stage/meta")),
      "rebuild must restore the completeness marker")
    assert(spark.read.parquet(s"$stage/gen1/postings").count() == gen1Full,
      "rebuild must overwrite the truncated merge-1 orphan, not resume from it")
    assert(sortedRows(s"$stage/terms") == refTerms,
      "post-crash rebuild drifted the cycle dictionary")
    assert(sortedRows(s"$stage/postings") == refPostings,
      "post-crash rebuild drifted the cycle postings")
  }

  test("cycle staging: crash between tombstone landing and merge 2 (truncated tombstones) -> full rebuild") {
    val tag = "a37spec2"
    val stage = AnalyticsQueries.a37KwCycleStageTagged(spark, dir, tag, force = true)
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val refTerms = sortedRows(s"$stage/terms")
    val refPostings = sortedRows(s"$stage/postings")
    val nTomb = spark.read.parquet(s"$stage/meta").head.getAs[Long]("n_tomb")
    assert(nTomb > 1, "fixture too small to distinguish truncation")
    // the crash state: gen1 complete, tombstones landed but TRUNCATED
    // mid-write, merge 2 never ran, no marker. A rebuild that trusted
    // the landed tombstone set would under-delete and inflate df/idf.
    truncateToOneRow(s"$stage/tombstones")
    Seq("terms", "postings", "meta").foreach(d =>
      fs.delete(new Path(s"$stage/$d"), true))
    AnalyticsQueries.a37KwCycleStageTagged(spark, dir, tag)
    assert(spark.read.parquet(s"$stage/meta").head.getAs[Long]("n_tomb") == nTomb,
      "rebuild must re-land the full delete set, not trust the truncated orphan")
    assert(sortedRows(s"$stage/terms") == refTerms,
      "post-crash rebuild drifted the cycle dictionary")
    assert(sortedRows(s"$stage/postings") == refPostings,
      "post-crash rebuild drifted the cycle postings")
  }

  test("p28 owned log: crash mid-copy (truncated v1, no marker) -> wholesale recopy") {
    val tag = "p28crash"
    val stage = AnalyticsQueries.p28OwnedLogStageTagged(spark, dir, tag, force = true)
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val refServe = AnalyticsQueries.kwServeAsOfLog(spark, dir, stage, 3)
      .collect().map(_.toString).toSeq
    val v1Full = spark.read.parquet(s"$stage/v1/postings").count()
    assert(v1Full > 1, "fixture too small to distinguish truncation")
    // the crash state: the v1 copy landed TRUNCATED mid-write, the
    // later copies and the marker never landed. A rebuild that trusted
    // the orphaned partial copies would serve a hole in history.
    truncateToOneRow(s"$stage/v1/postings")
    Seq("v3", "log", "done").foreach(d =>
      fs.delete(new Path(s"$stage/$d"), true))
    AnalyticsQueries.p28OwnedLogStageTagged(spark, dir, tag)
    assert(fs.exists(new Path(s"$stage/done")),
      "rebuild must restore the completeness marker")
    assert(spark.read.parquet(s"$stage/v1/postings").count() == v1Full,
      "rebuild must recopy the truncated epoch wholesale, not resume from it")
    assert(AnalyticsQueries.kwServeAsOfLog(spark, dir, stage, 3)
      .collect().map(_.toString).toSeq == refServe,
      "post-crash rebuild drifted the current snapshot's serve")
  }
}
