package graft.queries

import java.nio.file.Paths
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.OccCommitLog
import graft.sinks.CsvSink
import graft.sources.Partitions

/** Pipeline-shape queries: Hive-partitioned layout + pruned reads (S1),
  * the quote-all CSV sink/source roundtrip (K2/S6), and event
  * sessionization (the batch form of stateful stream processing). */
object PipelineQueries {

  /** Staged-fixture FORMAT VERSION, folded into every staging key
    * (paths, cross-JVM markers, q31's catalog table suffixes). Bump it
    * whenever any staged layout changes shape: dirs/markers/tables
    * written by older code then key differently and are never reused —
    * without this, a cross-JVM marker from an old commit would silently
    * serve an old-layout fixture to new code. (v3: the a13 stage's
    * cells table became the denormalized codes_cells inverted-list
    * layout — a live demonstration of why this constant exists.
    * v4: codes_cells gained the filterable `label` attribute column
    * for a14's metadata-filtered search. v5: the p26 z-ordered events
    * stage stopped filtering null-user rows — bounds and the staged
    * copy now cover the full table. v6: the a28 token-hash table is
    * now range-partitioned + sorted by doc_id so id predicates —
    * a28's query slice, a29's shortlist IN-list — prune row groups.
    * v7: the m11 compacted image-hash stage sizes its output file
    * count dynamically — half the input file population — instead of
    * a constant 2, so compaction provably shrinks files at every
    * scale. v8: every keyword-index stage now goes through the shared
    * stageKwIndexTable builder, whose meta carries max_term_id — the
    * a19kw meta gained that column. v9: the p23 versioned-table stage's
    * log is now an OccCommitLog under `log/` whose every action carries
    * its artifact's schema, replacing the one-file parquet log. v10: the
    * p41/p43/p44 stages' insert and delete actions carry a `schema`
    * token too; their readers have no inference fallback, so a v9
    * fixture without tokens must be rebuilt, never read. v11: the
    * a40/a41/p28/p30, p33, p34/p36/p39/p40/p42 stages keep their log
    * as an OccCommitLog under `log/` instead of a one-file parquet
    * table; the stats logs carry per-file stats as metadata tokens.) */
  val StagingFormatVersion = 11

  /** Full-width digest key for a staging identity. Replaces the old
    * 32-bit `String.hashCode`, which can collide two distinct dirs —
    * harmless while every run rebuilt its staging, but with memoized
    * staging (stageOnce / stagePqIndex) a collision would permanently
    * serve one dir's fixture to queries over the other. */
  def stagingKey(id: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"v$StagingFormatVersion:$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  /** Shared temp-staging convention (also used by PlanAuditSpec — keep
    * in one place so the pruning pin can't drift from the writer). */
  def staging(tag: String, dir: String): String =
    Paths.get(sys.props("java.io.tmpdir"), s"graft_${tag}_${stagingKey(dir)}").toString

  /** Content fingerprint of an input path: the recursive (name, size,
    * mtime) listing, digested. Folding this into a staging key makes a
    * memoized fixture self-invalidating when its INPUT changes in
    * place — testdata can be regenerated in place, and a stale
    * persisted index searched against a fresh oracle is a silent wrong
    * answer. One FS listing per call; no data is read. It takes no
    * SparkSession: a plain Hadoop conf resolves local and hdfs/s3a
    * paths the same way here, and stageOnce must be callable before
    * any session config is inspected. */
  def contentFingerprint(path: String): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(new org.apache.hadoop.conf.Configuration())
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(p).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else Seq(s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      }
    val listed =
      if (fs.getFileStatus(root).isFile)
        Seq(s"${root.getName}:${fs.getFileStatus(root).getLen}:" +
          s"${fs.getFileStatus(root).getModificationTime}")
      else walk(root)
    stagingKey(listed.mkString("\n"))
  }

  /** Build an immutable input fixture exactly once per (tag, dir,
    * [[StagingFormatVersion]]) — memoized per JVM, across JVMs via an
    * on-disk marker written only AFTER a successful build, and across
    * CONCURRENT JVMs via an exclusive file lock held for the build (two
    * processes can otherwise both build, one streaming a dir the other
    * is mid-overwriting). When the marker is absent, `dataDirs` are
    * deleted first so a crashed half-build can never be served. Mutable
    * per-run state (s12's upsert ledger) must NOT go through this —
    * only inputs that are deterministic functions of the source dir.
    * The key folds in a content fingerprint of the SOURCE dir, so a
    * source regenerated in place (a new testdata generation)
    * invalidates every fixture derived from it instead of silently
    * serving the old bytes. */
  private val stagedFixtures = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def stageOnce(tag: String, dir: String, dataDirs: Seq[String] = Nil)(
      build: => Unit): Unit = {
    val key =
      s"graft_${tag}_${stagingKey(dir + "\n" + contentFingerprint(dir))}_staged"
    if (stagedFixtures.contains(key)) return
    synchronized {
      if (!stagedFixtures.contains(key)) {
        val tmp = Paths.get(sys.props("java.io.tmpdir"))
        val marker = tmp.resolve(key)
        // the cross-JVM lock is keyed by (tag, dir) WITHOUT the content
        // fingerprint: two JVMs observing different fingerprints of an
        // in-place-regenerated source must still serialize their
        // delete/rebuild of the same dataDirs (fingerprint-keyed locks
        // would let one delete a dir the other is mid-streaming). Only
        // the marker — written after a successful build — carries the
        // fingerprint, so staleness detection is unchanged.
        val lockKey = s"graft_${tag}_${stagingKey(dir)}_staged.lock"
        val ch = java.nio.channels.FileChannel.open(tmp.resolve(lockKey),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
        try {
          val lk = ch.lock()
          try {
            if (!java.nio.file.Files.exists(marker)) {
              dataDirs.foreach { d =>
                val p = new org.apache.hadoop.fs.Path(d)
                p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
              }
              build
              java.nio.file.Files.createFile(marker)
            }
          } finally lk.release()
        } finally ch.close()
        stagedFixtures.add(key)
      }
    }
  }

  /** (name, bytes) of every parquet data file directly under `dir`,
    * listed through the Hadoop [[org.apache.hadoop.fs.FileSystem]] API
    * so the same code works on local FS, HDFS, and S3-style stores —
    * the places table maintenance actually runs. Sorted by name for
    * deterministic downstream math. */
  def parquetFileSizes(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.getName, st.getLen))
      .sortBy(_._1)
  }

  /** The as-of resolution rule over layout/tombstones commit kinds,
    * extracted so a rule fix cannot land in one channel and miss the
    * other: the newest layout commit with version ≤ v, plus every
    * tombstone commit in (layout_version, v] to apply merge-on-read
    * (tombstones at or before the layout's version are already folded
    * into it by a delete-applying merge). Returns (layoutPath,
    * tombstonePaths). */
  def resolveAsOf(log: Seq[(Int, String, String)], v: Int,
      logStage: String): (String, Seq[String]) = {
    val visible = log.filter(_._1 <= v)
    val layouts = visible.filter(_._2 == "layout")
    require(layouts.nonEmpty,
      s"no snapshot exists at or before version $v in $logStage")
    val (lv, _, layout) = layouts.maxBy(_._1)
    (layout, visible.filter(t => t._2 == "tombstones" && t._1 > lv).map(_._3))
  }

  /** Copy one directory into log-owned storage and return the
    * destination — the ownership-copy primitive every owned commit log
    * shares (p28's keyword log, p30's vector log). Index bytes, no
    * recompute: the artifacts already exist, ownership is what makes
    * physical reclaim safe. */
  def copyDir(spark: SparkSession, src: String, dst: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val dstPath = new org.apache.hadoop.fs.Path(dst)
    val fs = dstPath.getFileSystem(conf)
    // the feed-behind-the-retention-horizon contract, pinned as its
    // own failure instead of whatever FileUtil.copy happens to throw:
    // a change-feed consumer pulling an artifact that vacuum already
    // reclaimed must fail LOUDLY at pull time — silently skipping the
    // epoch would desynchronize the replica forever
    if (!fs.exists(srcPath))
      throw new IllegalStateException(
        s"artifact $src no longer exists — it names a commit behind the " +
          "retention horizon that vacuum already reclaimed; a consumer " +
          "this far behind must re-seed from a current snapshot, not " +
          "skip the epoch")
    org.apache.hadoop.fs.FileUtil.copy(fs, srcPath, fs, dstPath, false, conf)
    dst
  }

  /** p01 — S1/K5: write events Hive-partitioned by (event_type, day),
    * read back with partition filters (Catalyst prunes to 2 of ~180
    * directories — PlanAuditSpec pins that), aggregate per day. */
  def p01PartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val path = staging("p01", dir)
    val ev = Tables.events(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      // co-locate rows with their target partition: one file per Hive
      // dir instead of (shuffle partitions × dirs) small files
      .repartition(col("event_type"), col("day"))
    Partitions.writePartitioned(ev, path, Seq("event_type", "day"))
    spark.read.parquet(path)
      .filter(col("event_type") === "click" &&
        col("day").cast("string").isin("2024-01-01", "2024-01-02"))
      .groupBy(col("day").cast("string").as("day"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day"))
  }

  /** p02 — K2/S6: quote-all CSV sink with row-count-in-name, read back
    * through the all-strings CSV source (the reference's "everything is
    * a nullable string" model), typed projection at the end. */
  def p02CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = staging("p02", dir)
    val part = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_retailprice"))
    val target = CsvSink.write(part, path, rowCountInName = true, namePrefix = "part")
    CsvSink.read(spark, target)
      .select(col("p_partkey").cast("long").as("p_partkey"),
        col("p_name"),
        col("p_size").as("p_size_str"),
        col("p_retailprice").as("p_retailprice_str"))
      .orderBy(col("p_partkey"))
  }

  /** p03 — S5: whole-object in-memory reads via Spark's `binaryFile`
    * source (the reference downloads each S3 object fully into memory —
    * aws_utils.py:61-71). Stage one object per document task-side, read
    * them back as (path, length, content) rows, and prove the bytes
    * survived: per-object byte count + decoded prefix vs the table. */
  def p03BinaryObjects(spark: SparkSession, dir: String): DataFrame = {
    val path = staging("p03", dir)
    val root = Paths.get(path)
    // clean slate: stale objects from an earlier run must not be listed
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    java.nio.file.Files.createDirectories(root)
    // object staging runs in tasks (foreach), not a driver collect; on
    // a cluster the target would be shared storage
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text"))
      .foreach { row =>
        java.nio.file.Files.write(
          Paths.get(path, f"doc_${row.getLong(0)}%05d.bin"),
          row.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ()
      }
    spark.read.format("binaryFile").load(path)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        substring(col("content").cast("string"), 1, 20).as("prefix"))
      .orderBy(col("doc_id"))
  }

  /** p04 — P6: the domain-validation predicate as a distributed
    * classifier: rows are flagged in/out of the declared domain and
    * counted (the quarantine shape), instead of failing the whole job
    * the way the reference's driver-side validate_arg does
    * (decompression.py:24-26). The driver-side guard itself is
    * [[Partitions.validateArg]], pinned by its own unit test. */
  def p04DomainGuard(spark: SparkSession, dir: String): DataFrame = {
    val declared = Seq("click", "view", "purchase", "signup") // 'error' is out-of-domain
    Tables.events(spark, dir)
      .withColumn("valid",
        Partitions.domainFlag(col("event_type"), declared).cast("int"))
      .groupBy(col("event_type"), col("valid"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** p05 — A2: monotone run counters as Spark accumulators (the
    * reference's global unpacked/extracted tallies,
    * decompression.py:20-21,45,50-53). Documents are packed into one
    * tar archive per 100-id block, extracted with counting
    * accumulators, and the tallies are emitted as the result row —
    * checked against the oracle's independent counts. Accumulator
    * caveat at scale: task retries can over-count inside
    * transformations; exact under the single action here. */
  def p05RunCounters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.TarCodec
    val archA = spark.sparkContext.longAccumulator("graft.archives.unpacked")
    val memA = spark.sparkContext.longAccumulator("graft.members.extracted")
    val archives = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .groupByKey(_._1 / 100)
      .mapGroups { (block, rows) =>
        val entries = rows.map { case (id, text) =>
          (id.toString, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        (s"arch-$block", TarCodec.archive(entries))
      }
    val extracted = TarCodec.extract(archives, Some(archA), Some(memA))
    // ONE action populates the counters and the data-derived checksum
    val totalChars = extracted.agg(sum(length(col("content")))).as[Long].head()
    spark.createDataset(Seq((archA.value.toLong, memA.value.toLong, totalChars)))
      .toDF("n_archives", "n_members", "total_chars")
  }

  /** q21 — sessionization (30-min gap) via window functions: the batch
    * twin of flatMapGroupsWithState sessionization. */
  def q21Sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionize(Tables.events(spark, dir))

  /** Core sessionization over any (user_id, ts, event_id) frame —
    * split out so the sub-second gap boundary is unit-testable. */
  def sessionize(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // Gap math in MICROSECONDS on both sides (oracle: epoch_us). The
    // earlier unix_timestamp form floored to whole seconds, so a true gap
    // in (1800 s, 1801 s) could split sessions differently than the
    // fractional-epoch oracle — compare at full precision instead.
    val flagged = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull, 0)
          .when(unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg((max(col("session_id")) + 1).as("n_sessions"),
        max(col("n_events")).as("max_session_events"))
      .orderBy(col("user_id"))
  }

  /** p08 — small-file compaction, the table-maintenance operator every
    * long-lived 100 TB dataset needs (streaming ingest + partitioned
    * writes fragment storage; small files poison scan planning and
    * listing). Fragment the documents table into 64 shards, then
    * compact to ⌈bytes / 8 MiB⌉ target files sized from the ACTUAL
    * on-disk footprint (compression-aware, not row-count guessing).
    * The method `require`s the file count actually dropped; the
    * oracle checks content survival — per-lang counts and a text
    * checksum that any lost/duplicated row would break. */
  def p08Compaction(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val path = staging("p08", dir)
    Tables.documents(spark, dir).repartition(64)
      .write.mode("overwrite").parquet(s"$path/frag")
    // list through the Hadoop FileSystem API, not java.io.File:
    // compaction only matters on HDFS/S3-style stores, where a local
    // listing would return nothing and the reduction require would throw
    val fragFiles = PipelineQueries.parquetFileSizes(spark, s"$path/frag")
    val targetBytes = 8L << 20
    val nOut = math.max(1, math.ceil(
      fragFiles.map(_._2).sum.toDouble / targetBytes).toInt)
    spark.read.parquet(s"$path/frag").repartition(nOut)
      .write.mode("overwrite").parquet(s"$path/compact")
    val nAfter = PipelineQueries.parquetFileSizes(spark, s"$path/compact").size
    require(nAfter < fragFiles.size,
      s"compaction must reduce file count: $nAfter vs ${fragFiles.size}")
    spark.read.parquet(s"$path/compact")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(TF.polyHash(col("text"))).as("checksum"))
      .orderBy(col("lang"))
  }

  /** p15 — INCREMENTAL FILE-LEDGER INGEST, the daily-arrival idiom the
    * reference's per-day driver loops imply (mp_unpack.sh day fan-out:
    * each day's partition is processed once, never re-read): a
    * committed-files ledger records every ingested file; each run
    * lists the landing area through the Hadoop FS API, anti-joins the
    * ledger, processes ONLY the new files, and appends them to the
    * ledger. Two runs execute here — day-1 arrivals, then day-2
    * arrivals landing beside them — and the per-run per-lang counts
    * are the gate: if run 2 re-read day-1's files (a broken ledger)
    * its counts double and the hash fails. Scale shape: the ledger
    * and listing are metadata-sized (one row per FILE); data files
    * are read exactly once ever, so a 100 TB landing area costs only
    * its daily increment per run. This is the batch twin of the file
    * stream source's processed-file log, as an explicit, persistable,
    * engine-independent artifact. */
  def p15IncrementalIngest(spark: SparkSession, dir: String): DataFrame = {
    val root = staging("p15", dir)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val hfs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    hfs.delete(rootPath, true) // fresh run
    val ledgerPath = s"$root/ledger"
    def writeArrival(tag: String, m: Long): Unit =
      Tables.documents(spark, dir).filter(col("doc_id") % 4 === m)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/in/arrival_$tag")
    def listLanding(): Seq[String] = {
      val in = new org.apache.hadoop.fs.Path(s"$root/in")
      if (!hfs.exists(in)) Seq.empty
      else hfs.listStatus(in).toSeq.filter(_.isDirectory).flatMap(d =>
        parquetFileSizes(spark, d.getPath.toString)
          .map { case (name, _) => s"${d.getPath.toString}/$name" })
    }
    def committed(): Set[String] =
      if (!hfs.exists(new org.apache.hadoop.fs.Path(ledgerPath))) Set.empty
      else {
        import spark.implicits._
        spark.read.parquet(ledgerPath).as[String].collect().toSet
      }
    def ingest(runId: Int): DataFrame = {
      import spark.implicits._
      val newFiles = listLanding().filterNot(committed()).sorted
      require(newFiles.nonEmpty, s"run $runId: nothing new landed")
      val counts = spark.read.parquet(newFiles: _*)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("run_id", lit(runId))
      // commit AFTER the processing read plans against the file list —
      // the ledger is one row per file, metadata-scale
      newFiles.toDF("path").write.mode("append").parquet(ledgerPath)
      counts.localCheckpoint() // pin results before later runs land files
    }
    writeArrival("d1m0", 0); writeArrival("d1m1", 1)
    val run1 = ingest(1)
    writeArrival("d2m2", 2); writeArrival("d2m3", 3)
    val run2 = ingest(2)
    run1.union(run2)
      .select(col("run_id"), col("lang"), col("n_docs"))
      .orderBy(col("run_id"), col("lang"))
  }

  /** p13 — SORT-CLUSTERED layout, the row-group-skipping lever that
    * complements q31's bucketing: rewrite the fact table range-
    * partitioned AND sorted by `l_shipdate`, so each parquet row group
    * covers a narrow, disjoint date interval and its min/max footer
    * stats let a reader skip everything outside the predicate — on the
    * original insert-ordered layout every row group spans the full
    * date domain and nothing can be skipped. At 100 TB this is the
    * difference between scanning one month and scanning the whole
    * table for a month-window query; the clustering shuffle is paid
    * once at write time, like bucketing. The gate checks the query
    * result; PlanAuditSpec checks the FOOTERS (sorted layout: ≤¼ of
    * row groups overlap one month; original: all of them). */
  def p13SortLayout(spark: SparkSession, dir: String): DataFrame = {
    val stage = staging("p13", dir)
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"),
        col("l_returnflag"))
      .repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions(col("l_shipdate"))
      .write.mode("overwrite").parquet(s"$stage/li_sorted")
    spark.read.parquet(s"$stage/li_sorted")
      .filter(col("l_shipdate") >= lit("1995-03-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1995-04-01").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast("decimal(18,4)")), 2)
          .cast("double").as("qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Z-value over two PRE-NORMALIZED 8-bit buckets (`a` → odd bit
    * positions, `b` → even). A static 8-step unroll of codegen'd
    * bitwise built-ins — no UDF — with the identical arithmetic
    * generated for the DuckDB twin by [[zSql]]. Normalization to a
    * common bucket scale happens BEFORE interleaving (see p14): raw
    * keys of unequal bit width would put the wide key's high bits
    * alone at the top of every z-value, and the narrow dimension
    * would never participate in the curve's coarse splits — i.e. no
    * pruning on it, however fine the row groups. */
  private def zValue(a: Column, b: Column): Column =
    graft.operators.ZOrder.interleave(a, b, 8)

  private def zSql(a: String, b: String): String =
    (0 until 8).map { i =>
      s"((((CAST($a AS BIGINT) >> $i) & 1) << ${2 * i + 1}) | " +
        s"(((CAST($b AS BIGINT) >> $i) & 1) << ${2 * i}))"
    }.mkString("(", " | ", ")")

  /** Order-preserving normalization of a non-negative key to 256
    * buckets over its observed [0, max] domain. Double arithmetic is
    * exact here (key·256 ≤ 2⁵³ by orders of magnitude), so the floor
    * is engine-identical. */
  private def zBucket(key: Column, keyMax: Column): Column =
    floor(key.cast("double") * lit(256.0) / (keyMax.cast("double") + 1.0)).cast("long")

  private def zBucketSql(key: String, keyMax: String): String =
    s"CAST(floor(CAST($key AS DOUBLE) * 256.0 / (CAST($keyMax AS DOUBLE) + 1.0)) AS BIGINT)"

  /** p14 — Z-ORDER layout (multi-column clustering; the lakehouse
    * `OPTIMIZE ZORDER BY` primitive, public): p13 proves a SINGLE sort
    * column makes row-group stats selective, but a second filter
    * column inherits nothing from a linear sort. Interleaving the key
    * bits of (l_partkey, l_suppkey) into one z-value and
    * range-partitioning + sorting by IT gives every row group a tight
    * bounding BOX in (partkey, suppkey) space, so footer min/max prune
    * on BOTH dimensions — verified from the parquet footers in
    * PlanAuditSpec, the p13 method applied in 2-D. The gated output
    * reads the z-clustered snapshot back with a box predicate and
    * aggregates per z-bucket (bucket id, count, qty, z min/max), so
    * the oracle verifies the bit-interleave arithmetic itself, not
    * just the survival of the rows. Scale: the clustering shuffle is
    * paid once at write; every later box query reads the handful of
    * row groups whose boxes intersect it. */
  def p14ZOrderLayout(spark: SparkSession, dir: String): DataFrame = {
    val stage = staging("p14", dir)
    // key maxes: one metadata-scale agg row, broadcast onto the scan
    val mx = Tables.lineitem(spark, dir)
      .agg(max(col("l_partkey")).as("mp"), max(col("l_suppkey")).as("ms"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .crossJoin(broadcast(mx))
      .withColumn("z", zValue(zBucket(col("l_partkey"), col("mp")),
        zBucket(col("l_suppkey"), col("ms"))))
      .drop("mp", "ms")
      // explicit curve split, not repartitionByRange: sampled range
      // boundaries move run to run (and AQE can re-coalesce them), so
      // the physical boxes weren't reproducible — zfile pins each file
      // to one 8192-wide z slice (z is 16 bits, so the 8 slices are
      // the top 3 interleaved bits: partkey's two coarse bits AND
      // suppkey's one — both dimensions participate by construction)
      .withColumn("zfile", expr("z DIV 8192"))
      .repartition(col("zfile"))
      .sortWithinPartitions(col("zfile"), col("z"))
      .write.partitionBy("zfile").mode("overwrite").parquet(s"$stage/li_zorder")
    spark.read.parquet(s"$stage/li_zorder")
      .filter(col("l_partkey").between(50, 80) && col("l_suppkey").between(2, 5))
      .groupBy(shiftright(col("z"), 4).as("z_bucket"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast("decimal(18,4)")), 2)
          .cast("double").as("qty"),
        min(col("z")).as("z_min"), max(col("z")).as("z_max"))
      .orderBy(col("z_bucket"))
  }

  /** The p23 versioned-table fixture — an [[OccCommitLog]] under
    * `log/` over delta and tombstone files, the minimal lakehouse
    * transaction-log shape (Delta/Iceberg snapshot model, public):
    * commits 0–2 each land one insert delta (doc_id % 4 == v), commit 3
    * lands a DELETE as a tombstone id list (merge-on-read — no data
    * file is rewritten). Each commit is one `.commit` file naming one
    * artifact and carrying that artifact's schema as a `schema`
    * metadata token (DDL; Delta's `metaData.schemaString`), so the log
    * is the authority for both the file list and the schema: planning
    * a snapshot lists the log and reads no footer. The four artifacts
    * land together ([[LoggedTable.land]]) before the first commit, and
    * the log is written before the `done` marker so a half-built
    * fixture is rebuilt, never trusted. Keyed by a content fingerprint
    * of documents.parquet. */
  private def stageVersionedTable(spark: SparkSession, dir: String): String =
    synchronized {
      val fp = contentFingerprint(s"$dir/documents.parquet")
      val root = staging("p23tt", s"$dir#$fp")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val hfs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
      if (!hfs.exists(new org.apache.hadoop.fs.Path(s"$root/done"))) {
        hfs.delete(rootPath, true)
        val docs = Tables.documents(spark, dir)
        val actions = (0 to 2).map { v =>
          ("insert", s"$root/delta_v$v", docs.filter(col("doc_id") % 4 === v)
            .select(col("doc_id"), col("lang"), col("n_chars")))
        } :+ ("delete", s"$root/tombstones_v3",
          docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")))
        val tokens = LoggedTable.land(actions.map(a => a._2 -> a._3))
        actions.zip(tokens).foreach { case ((kind, path, _), meta) =>
          OccCommitLog.commitMeta(hfs, s"$root/log", kind, path, meta)
        }
        spark.range(1).write.mode("overwrite").parquet(s"$root/done")
      }
      root
    }

  /** The Hadoop filesystem holding `path`. */
  private[queries] def fsOf(spark: SparkSession,
      path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The [[OccCommitLog]] under `root/log` — every staged table and
    * index log lives there: a directory listing, no Spark job. */
  private[queries] def occLog(spark: SparkSession,
      root: String): Seq[OccCommitLog.Commit] =
    OccCommitLog.read(fsOf(spark, root), s"$root/log")

  /** The same log as [[OccCommitLog.readTriples]] triples — what the
    * as-of, feed and vacuum rules consume. */
  private[queries] def occTriples(spark: SparkSession,
      root: String): Seq[(Int, String, String)] =
    OccCommitLog.readTriples(fsOf(spark, root), s"$root/log")

  /** A version's rows from EXACTLY the log's commits with version ≤ v
    * (file-level pruning off the log listing — PlanAuditSpec pins that
    * the as-of-1 plan never references the v2 delta or the tombstones),
    * with deletes applied merge-on-read as a broadcast anti-join of the
    * tombstone id list. */
  private def snapshotOf(spark: SparkSession, log: Seq[OccCommitLog.Commit],
      v: Int, label: String): DataFrame = {
    val visible = log.filter(_.version <= v)
    val inserts = visible.filter(_.kind == "insert")
    val tombs = visible.filter(_.kind == "delete")
    require(inserts.nonEmpty,
      s"no snapshot exists at or before version $v in $label")
    val data = LoggedTable.readLogged(spark, inserts, label)
    if (tombs.isEmpty) data
    else data.join(broadcast(LoggedTable.readLogged(spark, tombs, label)),
      Seq("doc_id"), "left_anti")
  }

  /** The p23 snapshot reader over the shared stage. Public as the test
    * hook. */
  def p23SnapshotAsOf(spark: SparkSession, dir: String, v: Int): DataFrame =
    p23SnapshotFromRoot(spark, stageVersionedTable(spark, dir), v)

  /** The same reader off an EXPLICIT versioned-table root (a spec's
    * hand-built log). */
  def p23SnapshotFromRoot(spark: SparkSession, root: String, v: Int): DataFrame =
    snapshotOf(spark, occLog(spark, root), v, root)

  /** p23 — TIME TRAVEL: read the versioned table AS OF every commit
    * version and aggregate each snapshot. Version 0–2 grow by one
    * insert delta each; version 3 shows the delete taking effect while
    * versions 0–2 still see the deleted rows — snapshot isolation in
    * the exact sense the lakehouse formats promise. The log is listed
    * once for all four versions, and every artifact is read under its
    * logged schema, so building the plan runs no Spark job. Scale
    * shape: the commit log is one file per commit, so an as-of read
    * costs only its snapshot's files (a 100 TB table's history adds log
    * files, not scan volume); deletes stay merge-on-read until a
    * compaction (p08/a15's rewrite path) folds them in. */
  def p23TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = stageVersionedTable(spark, dir)
    val log = occLog(spark, root)
    (0 to 3).map { v =>
      snapshotOf(spark, log, v, root)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .select(lit(v).as("version"), col("n_docs"), col("sum_chars"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  /** The p29 change-feed reader: every commit in `(from, to]` emitted
    * as change rows — insert deltas with their payload, delete commits
    * as ids-only events (`kind='delete'`, payload null). Plans EXACTLY
    * the in-range commits' files (TimeTravelSpec pins that reading
    * changes after v0 never touches the v0 delta): the consumer's cost
    * is the CHANGED bytes, not the table. Delete events are emitted as
    * the log recorded them — an ids-only tombstone list — because on a
    * merge-on-read table that IS the change (the standard CDC-feed
    * contract, p11's input shape; applying a delete for a row the
    * consumer never had is a no-op downstream). Public as the test
    * hook. */
  def p29ChangesBetween(spark: SparkSession, dir: String,
      from: Int, to: Int): DataFrame =
    p29ChangesFromLog(spark, stageVersionedTable(spark, dir), from, to)

  /** The feed off the OCC log under `root/log` — the p23 stage or the
    * p33 owned/checkpointed copy; the triples come from one listing. */
  def p29ChangesFromLog(spark: SparkSession, root: String,
      from: Int, to: Int): DataFrame =
    p29ChangesFromTriples(spark, occTriples(spark, root), from, to)

  /** The feed body over in-hand (version, kind, path) triples — one
    * reader body however many logs carry the contract. Two commitments
    * beyond a plain read: `snapshot` commits are SKIPPED (a checkpoint
    * is derived data — it introduces no change; Delta's CDF likewise
    * never emits checkpoint contents as table changes) while truly
    * unknown kinds still fail loudly, and every in-range data file is
    * existence-checked before it is planned — a consumer pulling
    * changes from behind the retention horizon gets the NAMED contract
    * error, not whatever the scan happens to throw (one stat per
    * in-range commit, metadata-scale). */
  private def p29ChangesFromTriples(spark: SparkSession,
      triples: Seq[(Int, String, String)], from: Int, to: Int): DataFrame = {
    val log = triples.filter(c => c._1 > from && c._1 <= to).sortBy(_._1)
    val conf = spark.sessionState.newHadoopConf()
    def pullable(v: Int, p: String): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      if (!hp.getFileSystem(conf).exists(hp))
        throw new IllegalStateException(
          s"change-feed artifact $p (commit $v) no longer exists — it is " +
            "behind the retention horizon and vacuum already reclaimed it; " +
            "a consumer this far behind must re-seed from a current " +
            "snapshot, not skip the epoch")
      p
    }
    val frames = log.flatMap {
      case (v, "insert", p) =>
        Some(spark.read.parquet(pullable(v, p))
          .select(lit(v).as("version"), lit("insert").as("kind"),
            col("doc_id"), col("lang"), col("n_chars")))
      case (v, "delete", p) =>
        Some(spark.read.parquet(pullable(v, p))
          .select(lit(v).as("version"), lit("delete").as("kind"),
            col("doc_id"), lit(null).cast("string").as("lang"),
            lit(null).cast("long").as("n_chars")))
      case (_, "snapshot", _) => None // a checkpoint is not a change
      case (v, kind, _) =>
        // emitting an unknown commit kind as anything would corrupt a
        // downstream replica silently (a 'layout' file's ids read as
        // retractions); fail loudly instead
        throw new IllegalArgumentException(
          s"p29: unknown commit kind '$kind' at version $v — " +
            "the change-feed reader understands insert/delete only")
    }
    // an empty range ("what changed since the head?") is the most
    // common CDC ask — answer it with an empty feed, not a crash
    if (frames.isEmpty)
      spark.range(0).select(lit(0).as("version"), lit("").as("kind"),
        col("id").as("doc_id"), lit(null).cast("string").as("lang"),
        lit(null).cast("long").as("n_chars"))
    else frames.reduce(_.unionByName(_))
      .orderBy(col("version"), col("kind"), col("doc_id"))
  }

  /** p29 — INCREMENTAL CHANGE FEED (Delta CDF / `table_changes`
    * semantics, public): "give me everything that changed since the
    * snapshot I trained on" as one read off the commit log. A
    * downstream consumer holding the as-of-0 snapshot reads commits
    * (0, 3]: the v1 and v2 insert deltas with their payloads, and the
    * v3 delete as ids-only events. This is the op that turns
    * retraining from O(table) to O(changes) at 100 TB: the
    * incremental-ingest ledger (p15) dedups FILES on the way in; this
    * is the same economics on the way OUT — versioned, replayable,
    * ordered. Composes with p23: `as_of(0) + changes(0,3] ≡ as_of(3)`
    * is pinned row-for-row in TimeTravelSpec. */
  def p29LogChanges(spark: SparkSession, dir: String): DataFrame =
    p29ChangesBetween(spark, dir, 0, 3)

  /** The p33 OWNED versioned-table log: p23's fixture copied into
    * log-owned storage — p28's ownership model brought to the TABLE
    * side, so checkpoint and vacuum may physically reclaim data files
    * without touching the shared p23 stage every other query (p23,
    * p29, s37) serves from. Same artifact names, and the stage's OCC
    * commits re-committed in order, metadata included, to this copy's
    * own log under `root/log`; marker last. */
  private[queries] def stageP33OwnedTableLog(spark: SparkSession, dir: String,
      tag: String = "p33tt", force: Boolean = false): String = synchronized {
    val fp = contentFingerprint(s"$dir/documents.parquet")
    val root = staging(tag, s"$dir#$fp")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val hfs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (force || !hfs.exists(new org.apache.hadoop.fs.Path(s"$root/done"))) {
      hfs.delete(rootPath, true)
      val src = stageVersionedTable(spark, dir)
      occLog(spark, src).foreach { c =>
        val name = c.path.substring(c.path.lastIndexOf('/') + 1)
        OccCommitLog.commitMeta(hfs, s"$root/log", c.kind,
          copyDir(spark, c.path, s"$root/$name"), c.meta)
      }
      spark.range(1).write.mode("overwrite").parquet(s"$root/done")
    }
    root
  }

  /** Test hook (TimeTravelSpec): a PRIVATE owned table log under
    * `tag`; `force` rebuilds wholesale for pre-checkpoint state. */
  def p33OwnedTableLogTagged(spark: SparkSession, dir: String,
      tag: String, force: Boolean = false): String =
    stageP33OwnedTableLog(spark, dir, tag, force)

  /** As-of resolution over a CHECKPOINTED table log: the newest
    * `snapshot` at version ≤ v is the base (the checkpoint folds every
    * insert AND delete at or before its `asof` version — see
    * [[OccCommitLog.readTriples]]), plus
    * insert deltas in (sv, v], minus delete lists in (sv, v] —
    * [[resolveAsOf]]'s newest-layout-plus-later-tombstones rule,
    * restated for a DELTA log where commits are increments rather than
    * complete layouts. With no checkpoint in range this is exactly
    * [[p23SnapshotAsOf]]'s resolution. */
  def tableAsOfLog(spark: SparkSession, root: String, v: Int): DataFrame =
    tableAsOfTriples(spark, occTriples(spark, root), v, root)

  /** The same rule over in-hand (version, kind, path) triples — ONE
    * resolution body for every table log that folds through `snapshot`
    * commits (p33's owned copy, p35, s44, s47), so a rule fix cannot
    * land on one of them and miss the others. */
  def tableAsOfTriples(spark: SparkSession, triples: Seq[(Int, String, String)],
      v: Int, label: String): DataFrame = {
    val log = triples.filter(_._1 <= v)
    val sv = log.filter(_._2 == "snapshot").map(_._1).maxOption.getOrElse(-1)
    val base = log.filter(t => t._2 == "snapshot" && t._1 == sv).map(_._3)
    val inserts = log.filter(t => t._2 == "insert" && t._1 > sv).map(_._3)
    val tombs = log.filter(t => t._2 == "delete" && t._1 > sv).map(_._3)
    require(base.nonEmpty || inserts.nonEmpty,
      s"no snapshot exists at or before version $v in $label")
    val data = spark.read.parquet((base ++ inserts).sorted.toIndexedSeq: _*)
    if (tombs.isEmpty) data
    else data.join(broadcast(spark.read.parquet(tombs.sorted.toIndexedSeq: _*)),
      Seq("doc_id"), "left_anti")
  }

  /** TABLE CHECKPOINT: materialize the as-of-`v` snapshot as ONE
    * `snapshot` commit that reads AT version v — Delta's `N.checkpoint`
    * pattern applied to DATA files instead of log files (public;
    * Hudi's compaction of a merge-on-read table is the same move). A
    * delta log's as-of cost is O(all deltas ≤ v) and its storage can
    * never shrink — every delta is load-bearing for some snapshot —
    * until a checkpoint folds the prefix: afterwards as-of reads plan
    * O(snapshot + deltas since), and everything at or before the
    * checkpoint becomes reclaimable ([[p33VacuumRun]]). A version is
    * never claimed twice, so the snapshot commits at the log's tail
    * with an `asof=v` token ([[OccCommitLog.readTriples]] reads it at
    * v) and the writer transaction `("p33-checkpoint", v)`.
    * Idempotent: a log already checkpointed at `v` is returned as-is
    * (the commit is the marker). Derived data — identical content from
    * any writer at the same version. */
  def p33CheckpointRun(spark: SparkSession, root: String, v: Int): String = {
    val triples = occTriples(spark, root)
    triples.find(t => t._2 == "snapshot" && t._1 == v).map(_._3).getOrElse {
      val snap = s"$root/snapshot_v$v"
      tableAsOfTriples(spark, triples, v, root)
        .repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(snap)
      OccCommitLog.commitMeta(new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf()), s"$root/log",
        "snapshot", snap, Map("asof" -> v.toString),
        txn = Some(("p33-checkpoint", v.toLong)))
      snap
    }
  }

  /** TABLE VACUUM: physically reclaim every insert delta and delete
    * list already FOLDED into the newest checkpoint (version ≤ its
    * version) — the table-side twin of [[OccCommitLog.vacuum]],
    * with the horizon defined by the `snapshot` commit instead of a
    * retained-layouts window, because on a delta log every delta below
    * the checkpoint is superseded BY it while everything above it is
    * still load-bearing for the head. The commit files stay (history
    * enumerable as metadata; an as-of read into a reclaimed epoch
    * fails at planning); the snapshot and all later commits are never
    * touched; a path also named by a retained commit is live (same
    * set-membership rule as p28/OccCommitLog). Ownership guard
    * separator-checked. Idempotent. Returns reclaimed paths. */
  def p33VacuumRun(spark: SparkSession, root: String): Seq[String] =
    tableVacuumTriples(spark, occTriples(spark, root), root)

  /** The same reclaim over in-hand triples — shared with the other
    * table logs (p35/s44) the way [[tableAsOfTriples]] shares resolution.
    * Parameterized on the fold semantics: `horizonKind` is the commit
    * kind that supersedes older increments (the newest such commit is
    * the horizon), `preserveKinds` are never reclaimed however old —
    * p33/p35's delete-APPLYING checkpoints fold everything
    * (`snapshot` / {snapshot}); s44's pure bin-packing OPTIMIZE folds
    * inserts only, so its delete lists stay load-bearing merge-on-read
    * debt (`optimize` / {optimize, delete} — Delta's OPTIMIZE +
    * deletion-vectors composition). A path also named by a retained
    * commit is live either way. */
  def tableVacuumTriples(spark: SparkSession, log: Seq[(Int, String, String)],
      root: String, horizonKind: String = "snapshot",
      preserveKinds: Set[String] = Set("snapshot")): Seq[String] = {
    require(preserveKinds.contains(horizonKind),
      "the horizon commit itself must be preserved")
    val conf = spark.sessionState.newHadoopConf()
    val owned = root.stripSuffix("/") + "/"
    require(log.forall(_._3.startsWith(owned)),
      s"refusing to vacuum a log with commits it does not own " +
        s"(log=$root, foreign=${log.filterNot(_._3.startsWith(owned)).map(_._3).toSeq})")
    log.filter(_._2 == horizonKind).map(_._1).maxOption match {
      case None => Seq.empty // nothing folded, nothing reclaimable
      case Some(sv) =>
        val live = log.filter(t => preserveKinds(t._2) || t._1 > sv)
          .map(_._3).toSet
        log.filter(t => !preserveKinds(t._2) && t._1 <= sv).map(_._3).toSeq
          .sorted.distinct.filterNot(live).flatMap { p =>
            val hp = new org.apache.hadoop.fs.Path(p)
            val fs = hp.getFileSystem(conf)
            if (fs.exists(hp)) { fs.delete(hp, true); Some(p) } else None
          }
    }
  }

  /** p33 — TABLE CHECKPOINT + RETENTION VACUUM: the maintenance pair
    * the DOC-TABLE log was missing (the index logs got theirs in
    * p28/p30). Build the owned copy of the p23 versioned table,
    * CHECKPOINT it at version 2 (materialize that snapshot as a
    * `snapshot` commit — the first run pays one table-scale write,
    * after which the commit is the marker), VACUUM the folded prefix
    * (the three insert deltas are physically reclaimed; the v3
    * tombstone list is newer than the checkpoint and survives), then
    * serve the HEAD — resolved through the checkpoint with the v3
    * delete applied merge-on-read. Gated by s37's membership oracle:
    * however much history was folded and reclaimed, as-of-3 must not
    * move by a row. At 100 TB this is the knob that bounds a CDC
    * table's storage at O(live + changes since checkpoint) instead of
    * O(all deltas ever), and its as-of reads at O(snapshot + tail):
    * time travel into pre-checkpoint epochs is the explicit price
    * (TimeTravelSpec pins them failing at planning, the feed behind
    * the horizon failing with the named error, and the feed above it
    * unchanged). */
  def p33TableCheckpointVacuum(spark: SparkSession, dir: String): DataFrame = {
    val root = stageP33OwnedTableLog(spark, dir)
    p33CheckpointRun(spark, root, 2)
    p33VacuumRun(spark, root)
    tableAsOfLog(spark, root, 3)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** p25 — WebDataset-style tar shard export (the tar-of-samples
    * convention ML data loaders stream — Aizman et al. '19, public;
    * and the write-side dual of the S4 tar SOURCE): documents are
    * hash-assigned to 4 shards, each shard is packed into ONE tar
    * archive whose members are `<doc_id>.txt` in deterministic
    * doc_id order, and the archives are then read back through the
    * engine's own `binaryFile` → [[graft.sources.TarCodec]] source
    * path — the gate aggregates member counts and text checksums from
    * the EXTRACTED bytes, so it proves the full write→read round trip,
    * not just the writer's bookkeeping. Physically: one hash-partition
    * shuffle co-locates each shard, the task buffers one shard's
    * archive in memory (the reference's own batch-in-BytesIO bound,
    * K1 — shard size is the operator's memory knob, and an oversized
    * shard splits like S2's oversized-object singleton), and the task
    * writes the archive through the Hadoop FS API (p03's task-side
    * write precedent). At 100 TB: shard count scales freely,
    * the archive is the parallel unit on BOTH sides (exactly S4's
    * read model), and member order inside each shard is reproducible —
    * re-running the export yields byte-identical shards. */
  def p25WebdatasetExport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = s"${staging("p25", dir)}/shards"
    val outPath = new org.apache.hadoop.fs.Path(out)
    outPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(outPath, true) // fresh run
    val nShards = 4
    val written = Tables.documents(spark, dir)
      .select(pmod(col("doc_id"), lit(nShards)).cast("int").as("shard"),
        col("doc_id"), col("text"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .as[(Int, Long, String)]
      .mapPartitions { it =>
        // a partition may hold several shards (hash collisions) — the
        // sort above makes each shard a contiguous run
        val byShard = it.toSeq.groupBy(_._1).toSeq.sortBy(_._1)
        byShard.iterator.map { case (shard, rows) =>
          val bytes = graft.sources.TarCodec.archive(rows.iterator.map {
            case (_, id, text) =>
              (f"$id%09d.txt", text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          })
          val p = new org.apache.hadoop.fs.Path(f"$out/shard-$shard%04d.tar")
          val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          val os = fs.create(p, true)
          try os.write(bytes) finally os.close()
          (shard, rows.size)
        }
      }
    require(written.count() == nShards, "every shard must land exactly one archive")
    val archives = spark.read.format("binaryFile").load(s"$out/*.tar")
      .select(col("path"), col("content")).as[(String, Array[Byte])]
    graft.sources.TarCodec.extract(archives)
      .select(regexp_extract(col("path"), "shard-(\\d+)\\.tar", 1).cast("int").as("shard"),
        graft.functions.TextFunctions.polyHash(col("content")).as("h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_members"), sum(col("h")).as("checksum"))
      .orderBy(col("shard"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p25_webdataset_export" -> p25WebdatasetExport _,
    "p23_time_travel"     -> p23TimeTravel _,
    "p29_log_changes"     -> p29LogChanges _,
    "p33_table_checkpoint_vacuum" -> p33TableCheckpointVacuum _,
    "p15_incremental_ingest" -> p15IncrementalIngest _,
    "p14_zorder_layout"   -> p14ZOrderLayout _,
    "p13_sort_layout"     -> p13SortLayout _,
    "p01_partition_prune" -> p01PartitionPrune _,
    "p02_csv_roundtrip"   -> p02CsvRoundtrip _,
    "p03_binary_objects"  -> p03BinaryObjects _,
    "p04_domain_guard"    -> p04DomainGuard _,
    "p05_run_counters"    -> p05RunCounters _,
    "p08_compaction"      -> p08Compaction _,
    "q21_sessionize"      -> q21Sessionize _,
  )

  val oracleSql: Map[String, String] = Map(
    // shard membership and the member-content checksum recomputed from
    // the base table — if any member were dropped, duplicated, or
    // corrupted anywhere in pack→write→read→extract, count or checksum
    // breaks
    "p25_webdataset_export" ->
      """SELECT CAST(doc_id % 4 AS INT) AS shard, COUNT(*) AS n_members,
        |  CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text)+1),
        |      _pc -> unicode(substring(text, _pc, 1)))),
        |    (_pa,_pb) -> (_pa*31+_pb) % 1000000007)) AS BIGINT) AS checksum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // every snapshot recomputed from the base table: version v sees
    // insert residues 0..min(v,2); the v3 delete (doc_id % 3 = 0)
    // applies only at version 3 — earlier snapshots still count those
    // rows, which is exactly the isolation the hash gate checks
    // the change set between commits 0 and 3 from the definitions:
    // v1/v2 insert their residue classes with payload, v3's delete is
    // the ids-only tombstone list as the log recorded it
    "p29_log_changes" ->
      """SELECT CAST(1 AS INT) AS version, 'insert' AS kind, doc_id, lang, n_chars
        |FROM documents WHERE doc_id % 4 = 1
        |UNION ALL
        |SELECT CAST(2 AS INT), 'insert', doc_id, lang, n_chars
        |FROM documents WHERE doc_id % 4 = 2
        |UNION ALL
        |SELECT CAST(3 AS INT), 'delete', doc_id,
        |  CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY version, kind, doc_id""".stripMargin,
    // the head snapshot's membership from the definitions (s37's
    // oracle body): inserts v0-v2 are residues 0..2 mod 4, the v3
    // delete removes doc_id % 3 = 0 — checkpointing at v2 and
    // reclaiming the folded deltas must leave as-of-3 untouched
    "p33_table_checkpoint_vacuum" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 4 <= 2 AND doc_id % 3 <> 0
        |ORDER BY doc_id""".stripMargin,
    "p23_time_travel" ->
      """WITH vs AS (SELECT unnest(range(0, 4)) AS version),
        |snap AS (SELECT v.version, d.doc_id, d.n_chars
        |  FROM vs v JOIN documents d ON d.doc_id % 4 <= least(v.version, 2)
        |  WHERE NOT (v.version >= 3 AND d.doc_id % 3 = 0))
        |SELECT CAST(version AS INT) AS version, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM snap GROUP BY 1 ORDER BY 1""".stripMargin,
    // run 1 ingests the day-1 arrivals (doc_id % 4 in {0,1}), run 2
    // ONLY the day-2 arrivals — a ledger that re-reads day-1 files
    // would double run 2's counts and break the hash
    "p15_incremental_ingest" ->
      """SELECT CAST(1 AS INT) AS run_id, lang, COUNT(*) AS n_docs
        |FROM documents WHERE doc_id % 4 < 2 GROUP BY 2
        |UNION ALL
        |SELECT CAST(2 AS INT) AS run_id, lang, COUNT(*) AS n_docs
        |FROM documents WHERE doc_id % 4 >= 2 GROUP BY 2
        |ORDER BY run_id, lang""".stripMargin,
    "p14_zorder_layout" ->
      s"""WITH mx AS (SELECT MAX(l_partkey) AS mp, MAX(l_suppkey) AS ms FROM lineitem),
         |nb AS (SELECT l_quantity, l_partkey, l_suppkey,
         |    ${zBucketSql("l_partkey", "mp")} AS za,
         |    ${zBucketSql("l_suppkey", "ms")} AS zb
         |  FROM lineitem CROSS JOIN mx),
         |z AS (SELECT ${zSql("za", "zb")} AS z, l_quantity
         |  FROM nb
         |  WHERE l_partkey BETWEEN 50 AND 80 AND l_suppkey BETWEEN 2 AND 5)
         |SELECT z >> 4 AS z_bucket, COUNT(*) AS n,
         |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty,
         |  MIN(z) AS z_min, MAX(z) AS z_max
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "p13_sort_layout" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_shipdate >= '1995-03-01' AND l_shipdate < '1995-04-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // content survival across fragment→compact: counts + text checksum
    "p08_compaction" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text)+1),
        |      _pc -> unicode(substring(text, _pc, 1)))),
        |    (_pa,_pb) -> (_pa*31+_pb) % 1000000007)) AS BIGINT) AS checksum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "p01_partition_prune" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE event_type = 'click' AND strftime(ts, '%Y-%m-%d') IN ('2024-01-01', '2024-01-02')
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "p02_csv_roundtrip" ->
      """SELECT p_partkey, p_name,
        |  CAST(p_size AS VARCHAR) AS p_size_str,
        |  CAST(p_retailprice AS VARCHAR) AS p_retailprice_str
        |FROM part ORDER BY p_partkey""".stripMargin,
    "p03_binary_objects" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  substr(text, 1, 20) AS prefix
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,
    "p04_domain_guard" ->
      """SELECT event_type,
        |  CAST(event_type IN ('click', 'view', 'purchase', 'signup') AS INT) AS valid,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type""".stripMargin,
    "p05_run_counters" ->
      """SELECT CAST(COUNT(DISTINCT doc_id // 100) AS BIGINT) AS n_archives,
        |  COUNT(*) AS n_members,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
        |FROM documents""".stripMargin,
    "q21_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 0
        |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events),
        |sess AS (
        |  SELECT user_id,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged),
        |counts AS (
        |  SELECT user_id, session_id, COUNT(*) AS n_events
        |  FROM sess GROUP BY 1, 2)
        |SELECT user_id, CAST(MAX(session_id) + 1 AS BIGINT) AS n_sessions,
        |  MAX(n_events) AS max_session_events
        |FROM counts GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
