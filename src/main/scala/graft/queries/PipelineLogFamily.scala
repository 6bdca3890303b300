package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.OccCommitLog

/** Table-format log family (p34–p36) — the three Delta-lake table
  * capabilities the doc-table story still lacked after p23/p29/p33
  * (versioned snapshots, change feed, checkpoint+vacuum):
  *
  *   - p34: per-file column statistics carried IN the commit log and
  *     used to prune files at planning (Delta's data skipping,
  *     Armbrust et al. VLDB '20 §4.2 — min/max per add-action). At
  *     100 TB this is the difference between "prune by opening a
  *     million parquet footers" and "prune from one metadata read":
  *     row-group pruning (p13/p26) still pays a footer round trip per
  *     file; log stats prune BEFORE any file is touched.
  *   - p35: the doc table committed through the OPTIMISTIC-CONCURRENCY
  *     protocol ([[graft.operators.OccCommitLog]]) — concurrent
  *     writers racing insert deltas and a delete list onto one table
  *     log, then the maintenance pair (log checkpoint + data
  *     checkpoint + vacuum) run over the settled log, with writer-txn
  *     replay proving the landings idempotent. p31/p32 proved the
  *     protocol on the INDEX channels; this is the TABLE side, so the
  *     repo's one remaining single-writer-by-construction log now has
  *     its multi-writer twin.
  *   - p36: SCHEMA tracked in the log (Delta's metaData action):
  *     `meta` commits carry the column list, writers are
  *     schema-enforced against the newest meta at their version
  *     (Delta's schema enforcement — a wider delta must evolve the
  *     schema first), and readers resolve the schema AS OF their
  *     version, null-padding older files. The contrast with p12
  *     (mergeSchema) is the point: p12 derives the union schema from
  *     file FOOTERS — O(files) footer reads and no authority over
  *     what a writer may commit; here the log is the single authority
  *     for both.
  *
  * Every table here logs through [[graft.operators.OccCommitLog]]
  * under `root/log`. Shared machinery deliberately single-sourced:
  * [[PipelineQueries.tableAsOfTriples]] resolves snapshots,
  * [[PipelineQueries.tableVacuumTriples]] reclaims folded history —
  * one rule for every table log that folds (p33, p35, s44) — and
  * [[LoggedTable]] lands and reads the schema-logged p38/p41/p43/p44
  * tables. */
private[queries] trait PipelineLogFamily { this: AnalyticsQueries.type =>

  // ---------------------------------------------------------------- p34

  /** Write `docs` as `nFiles` doc_id-range-clustered files under
    * `root/<prefix><k>`, returning each file's path and its stats as
    * commit metadata tokens ([[statsTokens]]) — the one writer body
    * behind BOTH moments stats are free: p34's ingest (stats from the
    * delta the writer has in hand; Delta computes add-action stats the
    * same way) and p39's OPTIMIZE (stats RE-derived from the rewrite
    * the compactor just produced). Range clustering is what makes
    * id-predicates skippable — the same reason p13 sorts before
    * writing. */
  private def writeStatsDeltas(spark: SparkSession, docs: DataFrame,
      root: String, nFiles: Int, prefix: String)
      : Seq[(String, Map[String, String])] = {
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val step = maxId / nFiles + 1
    (0 until nFiles).map { k =>
      val p = s"$root/$prefix$k"
      docs.filter(col("doc_id") >= k * step && col("doc_id") < (k + 1) * step)
        .coalesce(1).write.mode("overwrite").parquet(p)
      (p, statsTokens(spark, p, s"stats range $k under $root"))
    }
  }

  /** One file's (min_id, max_id, min_chars, max_chars), derived in
    * one aggregate pass and carried as `key=value` metadata tokens on
    * the file's commit — Delta's `add.stats`. */
  private def statsTokens(spark: SparkSession, path: String,
      label: String): Map[String, String] = {
    val st = spark.read.parquet(path).agg(
      min(col("doc_id")), max(col("doc_id")),
      min(col("n_chars")), max(col("n_chars"))).head
    require(!st.isNullAt(0), s"$label is empty")
    Seq("min_id", "max_id", "min_chars", "max_chars").zipWithIndex
      .map { case (k, i) => k -> st.getLong(i).toString }.toMap
  }

  /** A numeric stat token of one commit; a missing one fails naming
    * the commit, since pruning without it would drop or keep the file
    * on no evidence. */
  private def statOf(c: OccCommitLog.Commit, key: String): Long =
    c.meta.getOrElse(key, throw new IllegalStateException(
      s"commit v${c.version} (${c.path}) carries no $key stat")).toLong

  /** Commit each (path, stats) as its own insert version of `root/log`. */
  private def commitInserts(spark: SparkSession, root: String,
      files: Seq[(String, Map[String, String])]): Unit =
    files.foreach { case (p, st) =>
      OccCommitLog.commitMeta(PipelineQueries.fsOf(spark, root), s"$root/log",
        "insert", p, st)
    }

  /** The stats-carrying table stage: the documents table written as 8
    * doc_id-range-clustered insert deltas, each committed with its
    * (min_id, max_id, min_chars, max_chars) tokens computed at WRITE
    * time by [[writeStatsDeltas]]. */
  private[queries] def stageP34StatsTable(spark: SparkSession, dir: String): String = {
    val root = PipelineQueries.staging("p34st", dir)
    PipelineQueries.stageOnce("p34st", dir, Seq(root)) {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      commitInserts(spark, root, writeStatsDeltas(spark, docs, root, 8, "delta_r"))
    }
    root
  }

  /** The stats-pruned scan over in-hand commits: files whose
    * [min_id, max_id] range misses the predicate are dropped from the
    * plan HERE, on the driver — no footer, no listing, no data bytes
    * for a skipped file. Returns the scan plus (planned, total) file
    * counts so callers can assert skipping actually happened. */
  private def prunedById(spark: SparkSession, files: Seq[OccCommitLog.Commit],
      lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val hit = files.filter(c => statOf(c, "max_id") >= lo && statOf(c, "min_id") <= hi)
    val scan = spark.read.parquet(hit.map(_.path).sorted.toIndexedSeq: _*)
      .filter(col("doc_id").between(lo, hi))
    (scan, hit.size, files.size)
  }

  /** p34's pruned scan off its log listing. TableLogSpec pins the
    * plan's input files to exactly the intersecting deltas. */
  private[queries] def p34PrunedScan(spark: SparkSession, dir: String,
      lo: Long, hi: Long): (DataFrame, Int, Int) =
    prunedById(spark, PipelineQueries.occLog(spark, stageP34StatsTable(spark, dir)), lo, hi)

  /** The stats-pruned serve both p34 and p39 answer: the id predicate
    * planned from `files`' stats, plus one aggregate answered from the
    * STATS ALONE (`table_max_chars` = max over the per-file max_chars,
    * zero data files — how Delta answers bare MIN/MAX queries), so the
    * oracle gates the stats' exactness, not just their pruning. The
    * body `require`s that skipping actually pruned files. */
  private def statsServe(spark: SparkSession, files: Seq[OccCommitLog.Commit],
      what: String): DataFrame = {
    val (scan, nHit, nTotal) = prunedById(spark, files, 100L, 299L)
    require(nHit < nTotal, s"$what must prune files: planned $nHit of $nTotal")
    scan.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .withColumn("table_max_chars", lit(files.map(statOf(_, "max_chars")).max))
      .orderBy(col("lang"))
  }

  /** p34 — LOG-CARRIED FILE STATISTICS (Delta data skipping): an id
    * predicate planned from the commit log's per-file min/max — files
    * whose range misses the predicate never enter the plan — plus the
    * stats-only `table_max_chars`, both from one log listing. */
  def p34StatsSkipping(spark: SparkSession, dir: String): DataFrame =
    statsServe(spark, PipelineQueries.occLog(spark, stageP34StatsTable(spark, dir)), "stats")

  // ---------------------------------------------------------------- p35

  /** p35 — THE DOC TABLE THROUGH THE OCC PROTOCOL: three writers race
    * four commits (three insert deltas, one delete list) onto one
    * fresh [[graft.operators.OccCommitLog]], each commit carrying its
    * writer-transaction identity. The artifacts are pre-staged
    * (p31's design — the race is over COMMITS, which are single small
    * files; that is the production claim, arbitration costs log
    * writes, not data bytes); version ASSIGNMENT is racy but the
    * commit SET is deterministic, and table membership — inserts
    * minus the delete list — is interleaving-invariant because the
    * residue classes are disjoint. The settled log then gets the full
    * maintenance pass: log checkpoint + commit-file expiry
    * (OccCommitLog.checkpoint/cleanLog), a DATA checkpoint resolved
    * with the SHARED as-of rule and committed as a `snapshot`, and
    * the SHARED table vacuum reclaiming the four folded artifacts.
    * Every writer commit is then REPLAYED with its original txn — the
    * log must not move, and the replay is safe even though vacuum
    * already reclaimed the landing's data, because the txn check
    * precedes any artifact access. Head serve resolves THROUGH the
    * snapshot (TableLogSpec pins the plan holds no reclaimed delta);
    * gated by p33's membership oracle — single writer or racing
    * writers, one answer. */
  def p35OccTableCommits(spark: SparkSession, dir: String): DataFrame = {
    val root = PipelineQueries.staging("p35occ", dir)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(rootPath, true) // per-run: the race is the subject
    val logDir = s"$root/log"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val deltas = (0 to 2).map { k =>
      val p = s"$root/delta_r$k"
      docs.filter(col("doc_id") % 4 === k).coalesce(1)
        .write.mode("overwrite").parquet(p)
      p
    }
    val tomb = s"$root/tombstones"
    docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))
      .coalesce(1).write.mode("overwrite").parquet(tomb)
    val occ = graft.operators.OccCommitLog
    val barrier = new java.util.concurrent.CyclicBarrier(3)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = Seq(
      Seq(("insert", deltas(0), "p35-w1", 0L), ("insert", deltas(1), "p35-w1", 1L)),
      Seq(("insert", deltas(2), "p35-w2", 0L)),
      Seq(("delete", tomb, "p35-w3", 0L)),
    ).map { commits =>
      new Thread(() =>
        try {
          barrier.await()
          commits.foreach { case (kind, path, app, txnV) =>
            occ.commit(fs, logDir, kind, path, txn = Some((app, txnV)))
          }
        } catch { case t: Throwable => failures.add(t) })
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()
    val log0 = occ.read(fs, logDir)
    require(log0.map(_.version) == Seq(0, 1, 2, 3),
      s"commit set damaged by the race: $log0")
    require(log0.map(c => (c.kind, c.path)).toSet ==
      (deltas.map(("insert", _)).toSet + (("delete", tomb))),
      s"commit kinds damaged by the race: $log0")
    // log maintenance: history enumerable from the checkpoint even
    // after the folded commit FILES expire
    occ.checkpoint(fs, logDir)
    occ.cleanLog(fs, logDir)
    // data checkpoint through the protocol: the as-of-3 snapshot,
    // resolved with the SHARED rule, committed as `snapshot`
    val snap = s"$root/snapshot_v4"
    PipelineQueries.tableAsOfTriples(spark, occ.readTriples(fs, logDir), 3, logDir)
      .repartitionByRange(2, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(snap)
    occ.commit(fs, logDir, "snapshot", snap, txn = Some(("p35-maint", 1L)))
    // the SHARED table vacuum, over OCC triples this time: all four
    // folded artifacts reclaimed, the snapshot live
    val reclaimed = PipelineQueries.tableVacuumTriples(
      spark, occ.readTriples(fs, logDir), root)
    require(reclaimed.toSet == (deltas.toSet + tomb),
      s"vacuum must reclaim exactly the folded artifacts: $reclaimed")
    // writer replay with original txn identities: the log must not move
    val settled = occ.read(fs, logDir)
    settled.foreach { c =>
      val replayed = occ.commit(fs, logDir, c.kind, c.path,
        txn = c.txnApp.zip(c.txnVersion))
      require(replayed == c.version,
        s"a replayed commit moved the log: v${c.version} -> v$replayed")
    }
    require(occ.read(fs, logDir).size == settled.size,
      "writer replay double-committed")
    PipelineQueries.tableAsOfTriples(spark, occ.readTriples(fs, logDir), 4, logDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- p36

  /** Schema enforcement on write (Delta's contract): a delta may only
    * carry columns the table schema — the newest `meta` commit at its
    * version — already declares. Public so TableLogSpec can pin the
    * refusal; called by the real staging writer below. */
  private[queries] def p36EnforceSchema(deltaCols: Seq[String],
      schemaCols: Seq[String], at: String): Unit =
    require(deltaCols.toSet.subsetOf(schemaCols.toSet),
      s"schema enforcement: the delta at $at carries columns " +
        s"${deltaCols.filterNot(schemaCols.contains).mkString(", ")} the table " +
        s"schema (${schemaCols.mkString(", ")}) does not declare — commit a " +
        "schema-evolution `meta` first")

  /** The schema-evolving table stage: v0 meta (3 columns) → v1/v2
    * insert deltas → v3 meta ADDING `quality` → v4 delta carrying it
    * → v5 delete list. Every delta goes through [[p36EnforceSchema]]
    * against the schema at its version — the v4 delta is only legal
    * BECAUSE v3 evolved the schema first. Meta payloads are one-row
    * parquet (`name:type` pairs) named by the `meta` commit, so a meta
    * commit is as cheap and atomic as any other. The log is an
    * [[OccCommitLog]] under `root/log`. */
  private[queries] def stageP36EvolvedTable(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val root = PipelineQueries.staging("p36se", dir)
    PipelineQueries.stageOnce("p36se", dir, Seq(root)) {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val s0 = Seq("doc_id" -> "bigint", "lang" -> "string", "n_chars" -> "bigint")
      val s3 = s0 :+ ("quality" -> "bigint")
      def commit(kind: String, p: String): Unit =
        OccCommitLog.commit(PipelineQueries.fsOf(spark, root), s"$root/log", kind, p)
      def writeMeta(v: Int, cols: Seq[(String, String)]): Unit = {
        val p = s"$root/schema_v$v"
        Seq(cols.map { case (n, t) => s"$n:$t" }.mkString(","))
          .toDF("cols").coalesce(1).write.mode("overwrite").parquet(p)
        commit("meta", p)
      }
      def writeDelta(v: Int, df: DataFrame, schema: Seq[(String, String)]): Unit = {
        p36EnforceSchema(df.columns.toSeq, schema.map(_._1), s"version $v")
        val p = s"$root/delta_v$v"
        df.coalesce(1).write.mode("overwrite").parquet(p)
        commit("insert", p)
      }
      writeMeta(0, s0)
      writeDelta(1, docs.filter(col("doc_id") % 4 === 0), s0)
      writeDelta(2, docs.filter(col("doc_id") % 4 === 1), s0)
      writeMeta(3, s3)
      writeDelta(4, docs.filter(col("doc_id") % 4 === 2)
        .withColumn("quality", pmod(col("n_chars"), lit(97)).cast("long")), s3)
      val tombP = s"$root/tombstones_v5"
      docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))
        .coalesce(1).write.mode("overwrite").parquet(tombP)
      commit("delete", tombP)
    }
    root
  }

  /** The table schema AS OF `v` in the (version, kind, path) `log`:
    * the newest `meta` commit at or before it, parsed back to (name,
    * type) pairs. */
  private def p36SchemaAsOf(spark: SparkSession, log: Seq[(Int, String, String)],
      v: Int, root: String): Seq[(String, String)] = {
    val metas = log.filter(t => t._2 == "meta" && t._1 <= v)
    require(metas.nonEmpty, s"no schema exists at or before version $v in $root")
    spark.read.parquet(metas.maxBy(_._1)._3).head.getString(0)
      .split(",").toSeq.map { s =>
        val Array(n, t) = s.split(":"); (n, t)
      }
  }

  /** Read the evolved table AS OF `v`: resolve the SCHEMA from the log
    * (not from file footers — the structural contrast with p12's
    * mergeSchema), then project every in-range delta to it, older
    * files null-padded on the columns they predate, minus the delete
    * lists. A reader as of a PRE-evolution version gets the old
    * schema — the new column simply does not exist there yet. */
  private[queries] def p36ReadAsOf(spark: SparkSession, dir: String, v: Int): DataFrame = {
    val root = stageP36EvolvedTable(spark, dir)
    val all = PipelineQueries.occTriples(spark, root)
    val schema = p36SchemaAsOf(spark, all, v, root)
    val log = all.filter(_._1 <= v)
    val frames = log.filter(_._2 == "insert").sortBy(_._1).map { case (_, _, p) =>
      val df = spark.read.parquet(p)
      df.select(schema.map { case (n, t) =>
        if (df.columns.contains(n)) col(n).cast(t).as(n)
        else lit(null).cast(t).as(n)
      }: _*)
    }
    val data = frames.reduce(_ unionByName _)
    val tombs = log.filter(_._2 == "delete").map(_._3)
    if (tombs.isEmpty) data
    else data.join(
      broadcast(spark.read.parquet(tombs.sorted.toIndexedSeq: _*)),
      Seq("doc_id"), "left_anti")
  }

  /** p36 — SCHEMA EVOLUTION THROUGH THE LOG (Delta's metaData action +
    * schema enforcement): the head read over the evolved table — old
    * rows null-padded on `quality`, the v4 delta carrying it for real,
    * the v5 delete applied. The oracle recomputes the padded column
    * from the definitions, so the gate checks WHICH rows carry the
    * evolved value, not just the shape. TableLogSpec pins the other
    * half: the pre-evolution as-of read has NO quality column at all,
    * and committing the wide delta under the old schema throws. */
  def p36SchemaEvolutionLog(spark: SparkSession, dir: String): DataFrame =
    p36ReadAsOf(spark, dir, 5).orderBy(col("doc_id"))

  // ---------------------------------------------------------------- p37

  /** p37 — CONCURRENT NON-COMMUTATIVE MAINTENANCE, the conflict layer
    * the blind-retry protocol deliberately lacked (r15 verdict's noted
    * boundary, now closed): an ingest writer trickles four insert
    * deltas onto one OCC table log WHILE two OPTIMIZE daemons race
    * each other — and the writer — to bin-pack the pending set. An
    * optimize commit is NON-commutative (it folds exactly the segments
    * its author READ), so blind retry-at-tail would let a stale fold
    * land after an interloping insert and silently LOSE that insert
    * from the head — the lost-update anomaly. Each daemon therefore
    * runs [[graft.operators.OccCommitLog.transact]]: derive the fold
    * from a fresh log read, publish at the read tail, and on conflict
    * re-derive from scratch (a lost attempt's staged rewrite is
    * deleted; the log only ever names winners — Delta's
    * OptimisticTransaction contract). The gate is the invariant the
    * validation exists to protect, and it must hold under EVERY
    * schedule the race can produce: the head optimize carries every
    * inserted doc exactly once — nothing lost to a stale fold, nothing
    * doubled by a duplicate one. Folded deltas are reclaimed through
    * the SHARED vacuum (optimize epochs preserved — retention is
    * p28's job); OccProtocolSpec drives the DETERMINISTIC stale-fold
    * schedule this query can only race at. */
  def p37ConcurrentOptimize(spark: SparkSession, dir: String): DataFrame = {
    val root = PipelineQueries.staging("p37occ", dir)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(rootPath, true) // per-run: the race is the subject
    val logDir = s"$root/log"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val deltas = (0 to 3).map { k =>
      val p = s"$root/delta_r$k"
      docs.filter(col("doc_id") % 4 === k).coalesce(1)
        .write.mode("overwrite").parquet(p)
      p
    }
    val occ = graft.operators.OccCommitLog
    @volatile var writerDone = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    // one validated fold attempt: None when nothing is pending
    def foldOnce(tag: String,
        lastStaged: java.util.concurrent.atomic.AtomicReference[String])
        : Option[Int] =
      occ.transact(fs, logDir) { log =>
        val optV = log.filter(_.kind == "optimize").map(_.version)
          .maxOption.getOrElse(-1)
        val optHead = log.find(c => c.kind == "optimize" && c.version == optV)
          .map(_.path)
        val pending = log.filter(c => c.kind == "insert" && c.version > optV)
          .map(_.path)
        if (pending.isEmpty) None
        else {
          // a previous attempt of THIS daemon lost its race: its staged
          // rewrite is garbage the log never named — reclaim it now
          Option(lastStaged.get()).foreach(p =>
            fs.delete(new org.apache.hadoop.fs.Path(p), true))
          val out = s"$root/$tag-opt${counter.incrementAndGet()}"
          spark.read.parquet((optHead.toSeq ++ pending).toIndexedSeq: _*)
            .repartitionByRange(2, col("doc_id"))
            .sortWithinPartitions(col("doc_id"))
            .write.mode("overwrite").parquet(out)
          lastStaged.set(out)
          Some(("optimize", out, None))
        }
      }.map { v => lastStaged.set(null); v } // committed: the log owns it
    def optimizerThread(tag: String): Thread = new Thread(() => {
      val lastStaged = new java.util.concurrent.atomic.AtomicReference[String]()
      try {
        var idle = false
        while (!(idle && writerDone)) {
          idle = foldOnce(tag, lastStaged).isEmpty
          if (idle && !writerDone) Thread.sleep(5)
        }
      } catch { case t: Throwable => failures.add(t) }
      finally Option(lastStaged.get()).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
    })
    val writer = new Thread(() => try {
      deltas.zipWithIndex.foreach { case (p, k) =>
        occ.commit(fs, logDir, "insert", p,
          txn = Some(("p37-ingest", k.toLong)))
        Thread.sleep(30)
      }
      writerDone = true
    } catch { case t: Throwable => failures.add(t); writerDone = true })
    val threads = Seq(writer, optimizerThread("a"), optimizerThread("b"))
    threads.foreach(_.start()); threads.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()
    // the shutdown sweep: both daemons can exit on the writerDone race
    // window with the last delta still pending — fold any remainder
    val sweepRef = new java.util.concurrent.atomic.AtomicReference[String]()
    while (foldOnce("sweep", sweepRef).isDefined) ()
    val settled = occ.read(fs, logDir)
    require(settled.count(_.kind == "insert") == 4 &&
      settled.count(_.kind == "optimize") >= 1,
      s"the race damaged the commit set: $settled")
    // reclaim the folded deltas through the SHARED vacuum body
    PipelineQueries.tableVacuumTriples(spark, occ.readTriples(fs, logDir),
      root, horizonKind = "optimize", preserveKinds = Set("optimize"))
    val optV = settled.filter(_.kind == "optimize").map(_.version).max
    val head = settled.find(c => c.kind == "optimize" && c.version == optV)
      .get.path
    val served = spark.read.parquet(head)
    // the invariant validation protects, asserted under any schedule:
    // every inserted doc exactly once — no stale fold lost one, no
    // duplicate fold doubled one (the oracle then pins full membership)
    require(served.count() == served.select(col("doc_id")).distinct().count(),
      "a duplicate fold doubled rows in the head")
    served.orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- p38

  /** VERSION-RANKED merge-on-read resolution over an OCC log whose
    * insert and delete actions carry `schema` tokens — the
    * UPDATE-aware generalization of [[PipelineQueries.tableAsOfTriples]]'s
    * rule: a row from an insert at version vi survives iff no delete of
    * its id exists at a version AFTER vi (a delete in the SAME version
    * applies before its co-committed insert — the within-commit order
    * that makes delete+replacement an update). When no id is ever
    * re-inserted the two rules coincide; when one is, this rule reads
    * the update correctly where a flat anti-join would kill the
    * replacement along with the original. Every artifact is read under
    * its logged schema ([[LoggedTable.readLogged]]), so building the
    * plan starts no Spark job, and a missing or conflicting token fails
    * naming its version. The rule is ONE broadcast left-anti join of
    * the version-tagged delete ids on `doc_id = _did AND _vd > _vi`: no
    * per-version fold and no per-id aggregate, plan depth constant in
    * history length (Hudi's record-level merge-on-read; Delta reaches
    * the same semantics with file-grained removes). */
  def tableAsOfOrdered(spark: SparkSession,
      log: Seq[graft.operators.OccCommitLog.Commit], v: Int,
      label: String): DataFrame = {
    val visible = log.filter(_.version <= v)
    val inserts = visible.filter(_.kind == "insert")
    val deletes = visible.filter(_.kind == "delete")
    require(inserts.nonEmpty, s"no data exists at or before version $v in $label")
    val data = LoggedTable.readLogged(spark, inserts, label, Some("_vi"))
    val live =
      if (deletes.isEmpty) data
      else data.join(
        broadcast(LoggedTable.readLogged(spark, deletes, label, Some("_vd"))
          .select(col("doc_id").as("_did"), col("_vd"))),
        col("doc_id") === col("_did") && col("_vd") > col("_vi"), "left_anti")
    live.drop("_vi")
  }

  /** p38 — ATOMIC ROW UPDATE through the log (Delta's multi-action
    * commit — the defining property of the `_delta_log` format this
    * protocol previously lacked: a commit carried ONE action, so an
    * update's delete list and replacement delta would land at two
    * versions and every reader between them would see the TORN state,
    * rows vanished and not yet replaced). The update here commits as
    * one version carrying BOTH actions
    * ([[graft.operators.OccCommitLog.commitActions]] — the version
    * file is a single put-if-absent publish, so readers see all
    * actions or none): delete(ids ≡ 0 mod 5) + insert(the same docs
    * with n_chars bumped 100). All four artifacts land at the same
    * time through [[LoggedTable.land]], and only then do the three
    * commits follow (versions 0, 1 and the update at 2), each action
    * carrying its artifact's `schema` token — so every commit names
    * fully landed data. The head read resolves with
    * [[tableAsOfOrdered]] under the logged schemas (building it starts
    * no Spark job; PlanAuditSpec pins that and the run's job count),
    * and the oracle recomputes the updated column from the
    * definitions — a torn read, a lost replacement, or a surviving
    * original all break the hash. TableLogSpec pins the
    * other halves: as-of BEFORE the update serves the originals, a
    * writer crashing between staging and commit leaves NOTHING
    * visible, and its txn replay lands exactly one commit. */
  def p38AtomicUpdate(spark: SparkSession, dir: String): DataFrame = {
    val root = PipelineQueries.staging("p38occ", dir)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(rootPath, true)
    val logDir = s"$root/log"
    val occ = graft.operators.OccCommitLog
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val updated = docs.filter(col("doc_id") % 5 === 0)
    // every artifact lands before the first commit; the UPDATE is then
    // ONE commit carrying delete + replacement
    val Seq(r0, r1, del, ins) = LoggedTable.land(Seq(
      s"$root/delta_r0" -> docs.filter(col("doc_id") % 2 === 0),
      s"$root/delta_r1" -> docs.filter(col("doc_id") % 2 === 1),
      s"$root/upd_del" -> updated.select(col("doc_id")),
      s"$root/upd_ins" -> updated.withColumn("n_chars", col("n_chars") + 100)))
    occ.commitMeta(fs, logDir, "insert", s"$root/delta_r0", r0,
      txn = Some(("p38-ingest", 0L)))
    occ.commitMeta(fs, logDir, "insert", s"$root/delta_r1", r1,
      txn = Some(("p38-ingest", 1L)))
    val uv = occ.commitActionsMeta(fs, logDir,
      Seq(("delete", s"$root/upd_del", del), ("insert", s"$root/upd_ins", ins)),
      txn = Some(("p38-updater", 1L)))
    val log = occ.read(fs, logDir)
    require(uv == 2 && log.count(_.version == uv) == 2,
      s"the update must be ONE version carrying BOTH actions: $log")
    tableAsOfOrdered(spark, log, uv, logDir).orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- p39

  /** The owned stats-table fixture, OPTIMIZED: p34's 8 stats-carrying
    * insert deltas rebuilt under p39's own root (maintenance may only
    * touch owned bytes — p34's staged fixture is shared), then
    * bin-packed into 3 range-clustered rewrites whose per-file stats
    * are RE-DERIVED at rewrite time and carried on the `optimize`
    * actions, all three committed as ONE version (8) — Delta's
    * OPTIMIZE writes its add-actions with fresh stats for exactly
    * this reason: data skipping must survive maintenance,
    * or every compaction would degrade reads from prune-by-metadata
    * back to scan-everything. The rewrite reads the COMMITTED deltas
    * (never the source table — a compactor only has the table), and
    * the folded inserts are then physically reclaimed through the
    * SHARED vacuum (optimize-horizon, s44's fold semantics), so the
    * serve below provably cannot touch pre-maintenance bytes. */
  private[queries] def stageP39OptimizedStatsTable(spark: SparkSession,
      dir: String): String = {
    val root = PipelineQueries.staging("p39so", dir)
    PipelineQueries.stageOnce("p39so", dir, Seq(root)) {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val inserts = writeStatsDeltas(spark, docs, root, 8, "delta_r")
      commitInserts(spark, root, inserts)
      val optimized = writeStatsDeltas(spark,
        spark.read.parquet(inserts.map(_._1).toIndexedSeq: _*), root, 3, "opt_r")
      OccCommitLog.commitActionsMeta(PipelineQueries.fsOf(spark, root), s"$root/log",
        optimized.map { case (p, st) => ("optimize", p, st) })
      val reclaimed = PipelineQueries.tableVacuumTriples(spark,
        PipelineQueries.occTriples(spark, root), root,
        horizonKind = "optimize", preserveKinds = Set("optimize"))
      require(reclaimed.toSet == inserts.map(_._1).toSet,
        s"vacuum must reclaim exactly the folded deltas: $reclaimed")
    }
    root
  }

  /** The post-OPTIMIZE head: the `optimize` actions, whose stats were
    * re-derived — folded inserts are history, their files are gone. */
  private def p39Head(spark: SparkSession, dir: String): Seq[OccCommitLog.Commit] =
    PipelineQueries.occLog(spark, stageP39OptimizedStatsTable(spark, dir))
      .filter(_.kind == "optimize")

  /** The post-OPTIMIZE pruned serve, planned from the head's stats.
    * Returns (scan, planned, head-file total) so callers can assert
    * skipping still prunes. */
  private[queries] def p39PrunedServe(spark: SparkSession, dir: String,
      lo: Long, hi: Long): (DataFrame, Int, Int) =
    prunedById(spark, p39Head(spark, dir), lo, hi)

  /** p39 — DATA SKIPPING SURVIVES OPTIMIZE (Delta: OPTIMIZE's
    * add-actions carry freshly computed stats): p34's serve repeated
    * over the compacted layout — the predicate plans from the
    * optimize actions' RE-derived min/max, the stats-only aggregate
    * re-answers from them alone, and the folded deltas are already
    * vacuumed so the plan physically cannot fall back to
    * pre-maintenance files. Gated by p34's oracle VERBATIM (the p33/
    * p35 aliasing move): compaction must be invisible to the reader —
    * same rows, same stats answer, fewer files. The body `require`s
    * both halves of the invisibility: pruning still skips files
    * (nHit < nTotal on the 3-file head) and the pre-optimize deltas
    * are gone. TableLogSpec pins the plan's input files to the
    * intersecting optimize rewrites. */
  def p39StatsAfterOptimize(spark: SparkSession, dir: String): DataFrame = {
    val root = stageP39OptimizedStatsTable(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/delta_r0")),
      "the folded deltas must be physically gone before the serve")
    statsServe(spark, p39Head(spark, dir), "re-derived stats")
  }

  // ---------------------------------------------------------------- p40

  /** The bloom-indexed table stage: the documents table scattered into
    * 8 files by HASH of doc_id — the layout every id-clustered trick
    * fails on: each file's [min_id, max_id] spans essentially the
    * whole table, so p34's range stats prune nothing for a point
    * lookup. Each commit therefore also carries a per-file BLOOM
    * filter over the file's ids as a base64 `bloom` token (8192 bits /
    * 6 hashes — ~10 bits/key at the largest tested scale), built by
    * the engine's own partial-aggregable
    * [[graft.expressions.BloomAgg]] in the SAME
    * aggregate pass that derives min/max — stats and index are one
    * write-time scan (Delta's bloom-filter index; Parquet writes
    * footer blooms for the same reason). ~1 KB of index per file: at
    * 100 TB the whole index rides in the log read. */
  private[queries] def stageP40BloomTable(spark: SparkSession, dir: String): String = {
    val root = PipelineQueries.staging("p40bl", dir)
    PipelineQueries.stageOnce("p40bl", dir, Seq(root)) {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      commitInserts(spark, root, (0 until 8).map { k =>
        val p = s"$root/scatter_r$k"
        docs.filter(pmod(hash(col("doc_id")), lit(8)) === k)
          .coalesce(1).write.mode("overwrite").parquet(p)
        val st = spark.read.parquet(p).agg(
          min(col("doc_id")), max(col("doc_id")),
          graft.expressions.BloomAgg(col("doc_id"), 8192, 6)).head
        require(!st.isNullAt(0), s"scatter bucket $k is empty in $dir")
        p -> Map("min_id" -> st.getLong(0).toString,
          "max_id" -> st.getLong(1).toString,
          "bloom" -> java.util.Base64.getEncoder
            .encodeToString(st.getAs[Array[Byte]](2)))
      })
    }
    root
  }

  /** The five point-lookup ids every p40 path probes (all present at
    * every tested scale — doc_id is 0-contiguous and ≥ 500 rows). */
  private[queries] val P40Probes = Seq(7L, 113L, 211L, 307L, 419L)

  /** The bloom-pruned point lookup: probe each file's log-carried
    * bloom with the id list, plan only the hit files. Returns the scan
    * plus (bloom-planned, range-planned, total) so callers can assert
    * BOTH halves of the contrast: the blooms prune, the ranges do not.
    * False positives only cost a file scan (the exact isin filter
    * discards them); false negatives are impossible, so membership is
    * oracle-exact. */
  private[queries] def p40PrunedLookup(spark: SparkSession, dir: String)
      : (DataFrame, Int, Int, Int) = {
    val log = PipelineQueries.occLog(spark, stageP40BloomTable(spark, dir)).sortBy(_.path)
    val rangeHit = log.filter(c =>
      P40Probes.exists(p => p >= statOf(c, "min_id") && p <= statOf(c, "max_id")))
    val bloomHit = log.filter { c =>
      val bloom = java.util.Base64.getDecoder.decode(c.meta.getOrElse("bloom",
        throw new IllegalStateException(s"commit v${c.version} (${c.path}) carries no bloom")))
      P40Probes.exists(p => graft.expressions.Bloom.contains(bloom, p))
    }
    val scan = spark.read.parquet(bloomHit.map(_.path).toIndexedSeq: _*)
      .filter(col("doc_id").isin(P40Probes: _*))
    (scan, bloomHit.size, rangeHit.size, log.size)
  }

  /** p40 — LOG-CARRIED BLOOM-FILTER INDEX (Delta's bloom index;
    * Parquet footer blooms): the point lookup min/max stats are
    * structurally blind to — on a hash-scattered layout every file's
    * id range covers every probe, so range planning keeps ALL files
    * (the body `require`s that contrast exactly: range-planned =
    * total, bloom-planned < total), while the per-file blooms cut the
    * plan to essentially the files that really hold the five ids.
    * This is the second kind of skipping a 100 TB table needs: range
    * stats serve the clustered dimension, blooms serve point lookups
    * on every OTHER high-cardinality column — one scan to build both
    * at write time, both riding the same metadata-scale log read.
    * Gated by the membership oracle (bloom false negatives are
    * impossible or rows vanish); TableLogSpec pins the planned files
    * to the bloom-hit set. */
  def p40BloomSkipping(spark: SparkSession, dir: String): DataFrame = {
    val (scan, nBloom, nRange, nTotal) = p40PrunedLookup(spark, dir)
    require(nRange == nTotal,
      s"the scatter layout must defeat range pruning: ranges planned $nRange of $nTotal")
    require(nBloom < nTotal,
      s"the blooms must prune what the ranges cannot: planned $nBloom of $nTotal")
    scan.select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- p41

  /** The four-shape history p41 and p43 serve, committed to `root/log`:
    * two plain inserts (v0: ids ≡ 0 mod 2, v1: the rest), the p38
    * atomic UPDATE (v2: delete ids ≡ 0 mod 5 + their replacements with
    * n_chars+100, ONE multi-action commit), and a plain delete (v3: ids
    * ≡ 0 mod 7). Ids ≡ 0 mod 35 are updated THEN deleted — the overlap
    * that makes pre-image resolution observable. All five artifacts
    * land through [[LoggedTable.land]] before the first commit, and
    * every action carries its `schema` token plus `stamp(version)`
    * (p43's commit timestamps); `app` prefixes the writer-txn ids. */
  private def commitFourShapeHistory(spark: SparkSession, dir: String,
      root: String, app: String,
      stamp: Int => Map[String, String] = _ => Map.empty): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val logDir = s"$root/log"
    val occ = graft.operators.OccCommitLog
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val updated = docs.filter(col("doc_id") % 5 === 0)
    val Seq(d0, d1, uDel, uIns, t3) = LoggedTable.land(Seq(
      s"$root/d0" -> docs.filter(col("doc_id") % 2 === 0),
      s"$root/d1" -> docs.filter(col("doc_id") % 2 === 1),
      s"$root/u_del" -> updated.select(col("doc_id")),
      s"$root/u_ins" -> updated.withColumn("n_chars", col("n_chars") + 100),
      s"$root/t3" -> docs.filter(col("doc_id") % 7 === 0).select(col("doc_id"))))
    occ.commitMeta(fs, logDir, "insert", s"$root/d0", d0 ++ stamp(0),
      txn = Some((s"$app-ing", 0L)))
    occ.commitMeta(fs, logDir, "insert", s"$root/d1", d1 ++ stamp(1),
      txn = Some((s"$app-ing", 1L)))
    occ.commitActionsMeta(fs, logDir,
      Seq(("delete", s"$root/u_del", uDel ++ stamp(2)),
        ("insert", s"$root/u_ins", uIns ++ stamp(2))),
      txn = Some((s"$app-upd", 1L)))
    occ.commitMeta(fs, logDir, "delete", s"$root/t3", t3 ++ stamp(3),
      txn = Some((s"$app-del", 1L)))
  }

  /** The CDF fixture: the four-shape history under p41's own root. */
  private[queries] def stageP41CdfTable(spark: SparkSession, dir: String): String = {
    val root = PipelineQueries.staging("p41cdf", dir)
    PipelineQueries.stageOnce("p41cdf", dir, Seq(root)) {
      commitFourShapeHistory(spark, dir, root, "p41")
    }
    root
  }

  /** The classified change feed over commits in `(from, to]` — Delta
    * CDF's full `_change_type` vocabulary, which p29's feed
    * deliberately lacks (it re-emits what the log recorded: inserts
    * with payload, deletes as ids only):
    *
    *   - an insert-only commit → `insert` rows with payload;
    *   - a delete-only commit → `delete` rows carrying the removed
    *     rows' PRE-IMAGE values (the Delta CDF / Debezium contract —
    *     a consumer maintaining an aggregate must know what left);
    *   - a commit carrying BOTH actions → `update_preimage` +
    *     `update_postimage` row pairs. Classification is by the
    *     COMMIT's own shape: the multi-action commit is precisely the
    *     writer's declaration that delete and replacement are one
    *     transaction (p38), so the feed needs no row-matching
    *     heuristics.
    *
    * Every artifact is read under its logged schema
    * ([[LoggedTable.readLogged]]). Pre-images are resolved at READ time
    * — each delete-bearing version joins its id list (broadcast)
    * against the table as of v−1 via [[tableAsOfOrdered]], so the feed
    * costs O(pre-state) per delete-bearing version and O(changed
    * bytes) for everything else.
    * Delta instead pays at WRITE time (`_change_data` files) to make
    * CDF reads pure scans; read-time resolution is the Hudi/Iceberg
    * incremental-read trade, honest here because delete-bearing
    * commits are rare next to inserts on an ingest table. Derived
    * commits (`snapshot`/`optimize`/`meta`) introduce no change and
    * are skipped; unknown kinds fail loudly (p29's rule). */
  private[queries] def p41CdfBetween(spark: SparkSession, root: String,
      from: Int, to: Int): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val occ = graft.operators.OccCommitLog
    val label = s"$root/log"
    val log = occ.read(fs, label)
    val cols = Seq("doc_id", "lang", "n_chars")
    def tagged(df: DataFrame, v: Int, tpe: String): DataFrame =
      df.select(lit(tpe).as("change_type") +: lit(v).as("version") +:
        cols.map(col): _*)
    def preImage(v: Int, dels: Seq[occ.Commit]): DataFrame =
      tableAsOfOrdered(spark, log, v - 1, label)
        .join(broadcast(LoggedTable.readLogged(spark, dels, label)
          .select(col("doc_id"))), Seq("doc_id"), "left_semi")
    val frames = log.filter(c => c.version > from && c.version <= to)
      .groupBy(_.version).toSeq.sortBy(_._1).flatMap { case (v, actions) =>
        val known = actions.filter(a => a.kind == "insert" || a.kind == "delete")
        actions.filterNot(a => known.contains(a) ||
            Set("snapshot", "optimize", "meta")(a.kind)).foreach { a =>
          throw new IllegalArgumentException(
            s"p41: unknown commit kind '${a.kind}' at version $v — " +
              "the classified feed understands insert/delete actions only")
        }
        val ins = known.filter(_.kind == "insert")
        val del = known.filter(_.kind == "delete")
        (ins.nonEmpty, del.nonEmpty) match {
          case (true, false) =>
            Seq(tagged(LoggedTable.readLogged(spark, ins, label), v, "insert"))
          case (false, true) =>
            Seq(tagged(preImage(v, del), v, "delete"))
          case (true, true) => Seq(
            tagged(preImage(v, del), v, "update_preimage"),
            tagged(LoggedTable.readLogged(spark, ins, label), v, "update_postimage"))
          case (false, false) => Seq.empty // derived-only commit
        }
      }
    require(frames.nonEmpty, s"no changes in ($from, $to] on $label")
    frames.reduce(_ unionByName _)
      .orderBy(col("version"), col("change_type"), col("doc_id"))
  }

  /** p41 — CLASSIFIED CHANGE DATA FEED (Delta CDF `table_changes`):
    * the full history of the four-shape fixture read back as typed
    * change rows — inserts with payload, the atomic update as
    * pre/post-image pairs, the delete carrying pre-images that
    * include the EARLIER update's effect (ids ≡ 0 mod 35 leave with
    * n_chars+100 — the oracle pins exactly that composition). This is
    * what turns a downstream aggregate's maintenance from O(table) to
    * O(changes): subtract the pre-images, add the post-images.
    * TableLogSpec pins the plan economics (an insert-only range reads
    * only its own delta) and the update classification. */
  def p41ChangeDataFeed(spark: SparkSession, dir: String): DataFrame =
    p41CdfBetween(spark, stageP41CdfTable(spark, dir), -1, 3)

  // ---------------------------------------------------------------- p42

  /** The two-dimensional stats table: the documents table z-ordered on
    * (doc_id, n_chars) — the 32-bit Morton interleave of 16-bit
    * buckets, p26's machinery — split into 8 curve-range files, the
    * commit log carrying EACH file's min/max on BOTH dimensions. This
    * is the composition Delta ships as `OPTIMIZE ZORDER BY`: the curve
    * is only half the story — it makes every clustered dimension's
    * per-file range TIGHT, and log-carried stats are what turn tight
    * ranges into planning-time file pruning (p26 prunes ROW GROUPS
    * from parquet footers at scan time; this prunes FILES from one
    * metadata read before any file is touched — at 100 TB, before a
    * million footer round trips). Stats here are derived by one
    * post-write pass per file ([[statsTokens]]) and ride each file's
    * commit as metadata tokens; a production writer folds the same
    * min/max into its write pass (p34's rule — writeStatsDeltas shows
    * the shape). */
  private[queries] def stageP42ZStatsTable(spark: SparkSession, dir: String): String = {
    val root = PipelineQueries.staging("p42zs", dir)
    PipelineQueries.stageOnce("p42zs", dir, Seq(root)) {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val b = docs.agg(min(col("doc_id")), max(col("doc_id")),
        min(col("n_chars")), max(col("n_chars"))).head
      val (dl, dh, cl, ch) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val zv = graft.operators.ZOrder.zvalue16(
        graft.operators.ZOrder.bucket16(col("doc_id"), dl, dh),
        graft.operators.ZOrder.bucket16(col("n_chars"), cl, ch))
      docs.withColumn("zv", zv)
        .repartitionByRange(8, col("zv"))
        .sortWithinPartitions(col("zv"))
        .drop("zv")
        .write.mode("overwrite").parquet(s"$root/z")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/z"))
        .toSeq.map(_.getPath).filter(_.getName.startsWith("part-"))
        .map(_.toString).sorted
      require(parts.size > 1, s"the curve layout degenerated: $parts")
      commitInserts(spark, root, parts.zipWithIndex.map {
        case (p, k) => p -> statsTokens(spark, p, s"curve file $k")
      })
    }
    root
  }

  /** The 2-D box planned from the log: global bounds recovered from
    * the stats themselves (max of max is exact — p34's stats-only
    * aggregate), the 30–60% box of each dimension derived with the
    * same integer arithmetic as the oracle, files kept only when
    * their rectangle intersects the box on BOTH axes. Returns the
    * scan plus (both-axes hit, id-axis-only hit, total) so callers
    * can assert the second dimension genuinely pruned — on a
    * single-column clustering, n_chars ranges span every file and
    * contribute nothing. */
  private[queries] def p42PrunedBox(spark: SparkSession, dir: String)
      : (DataFrame, Int, Int, Int) = {
    val log = PipelineQueries.occLog(spark, stageP42ZStatsTable(spark, dir)).map { c =>
      (c.path, statOf(c, "min_id"), statOf(c, "max_id"),
        statOf(c, "min_chars"), statOf(c, "max_chars"))
    }.sortBy(_._1)
    val (dl, dh) = (log.map(_._2).min, log.map(_._3).max)
    val (cl, ch) = (log.map(_._4).min, log.map(_._5).max)
    val (d0, d1) = (dl + (dh - dl) * 3 / 10, dl + (dh - dl) * 6 / 10)
    // the chars slice sits at 60–90% — strictly inside the dimension's
    // upper half, so it cannot straddle the curve's top-bit midpoint
    // (a box crossing a dimension's top bucket bit intersects every
    // curve cell on that axis and stats prune nothing — the classic
    // Z-curve boundary-jump caveat, worth encoding rather than hiding)
    val (c0, c1) = (cl + (ch - cl) * 6 / 10, cl + (ch - cl) * 9 / 10)
    val idHit = log.filter(f => f._3 >= d0 && f._2 < d1)
    val hit = idHit.filter(f => f._5 >= c0 && f._4 < c1)
    val scan = spark.read.parquet(hit.map(_._1).toIndexedSeq: _*)
      .filter(col("doc_id") >= d0 && col("doc_id") < d1 &&
        col("n_chars") >= c0 && col("n_chars") < c1)
    (scan, hit.size, idHit.size, log.size)
  }

  /** p42 — Z-ORDER × LOG STATS (Delta's `OPTIMIZE ZORDER BY`): the 2-D
    * box query planned entirely from log-carried per-file rectangles
    * over the curve-clustered layout. The body `require`s the claim's
    * two halves: the box pruned files at all, and the SECOND dimension
    * pruned beyond what doc_id alone could — the property the curve
    * buys, since one-dimensional clustering leaves every file's
    * n_chars range spanning the table. Gated by p26's oracle
    * discipline: the box recomputed from the RAW table with identical
    * integer arithmetic — the clustered copy changed bytes and
    * nothing else. */
  def p42ZorderStats(spark: SparkSession, dir: String): DataFrame = {
    val (scan, nHit, nIdHit, nTotal) = p42PrunedBox(spark, dir)
    require(nHit < nTotal,
      s"the 2-D stats must prune files: planned $nHit of $nTotal")
    require(nHit < nIdHit,
      s"the second dimension must prune beyond doc_id alone: " +
        s"both-axes $nHit vs id-only $nIdHit")
    scan.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------- p43

  /** The timestamp-stamped table: p41's four-shape history (two
    * inserts, the atomic update, a delete) rebuilt under its own root
    * with every commit carrying a `ts` metadata token beside its
    * `schema` token — Delta's per-commit timestamp, the thing
    * `TIMESTAMP AS OF` resolves against. Timestamps here are LOGICAL
    * ((v+1)·1000) because a gated query must be deterministic;
    * production stamps wall-clock at publish and enforces monotonicity
    * the same way Delta adjusts for clock skew (a commit's ts is
    * max(now, prior ts + 1)). The resolution rule is identical either
    * way. */
  private[queries] def stageP43TsTable(spark: SparkSession, dir: String): String = {
    val root = PipelineQueries.staging("p43tt", dir)
    PipelineQueries.stageOnce("p43tt", dir, Seq(root)) {
      commitFourShapeHistory(spark, dir, root, "p43",
        v => Map("ts" -> ((v + 1) * 1000L).toString))
    }
    root
  }

  /** `TIMESTAMP AS OF` resolution (Delta's rule): the greatest
    * committed version whose timestamp is ≤ the asked instant; an
    * instant before the first commit is an ERROR (there was no table
    * then — resolving it to an empty table would silently serve
    * nothing where the caller asked for history), an instant after
    * the head resolves to the head. Unstamped commits are a contract
    * violation on a timestamp-traveled table and fail loudly. */
  private[queries] def p43ResolveTimestamp(
      log: Seq[graft.operators.OccCommitLog.Commit], t: Long,
      label: String): Int = {
    val stamped = log.map { c =>
      c.version -> c.meta.getOrElse("ts",
        throw new IllegalStateException(
          s"commit v${c.version} in $label carries no ts — this log " +
            "does not support timestamp travel")).toLong
    }
    val hit = stamped.filter(_._2 <= t).map(_._1)
    if (hit.isEmpty) throw new IllegalArgumentException(
      s"timestamp $t precedes the first commit " +
        s"(${stamped.map(_._2).min}) of $label — the table did not " +
        "exist yet; ask for a version or a later instant")
    hit.max
  }

  /** p43 — TIMESTAMP TIME TRAVEL (Delta `TIMESTAMP AS OF`): the table
    * as of instant 3500 — between the update's commit (ts 3000) and
    * the delete's (ts 4000) — resolved through the log's `ts`
    * metadata to version 2 and served with the version machinery
    * ([[tableAsOfOrdered]], under the logged schemas): timestamp
    * resolution is a thin total order over version resolution, never
    * a second read path. Gated
    * by p38's oracle VERBATIM — asking by instant and asking by
    * version must be indistinguishable. TableLogSpec pins the
    * boundaries: before-first errors with the named contract message,
    * an exact commit ts resolves to that commit, after-head resolves
    * to the head, and every commit's own ts round-trips to its
    * version. */
  def p43TimestampTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = stageP43TsTable(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val occ = graft.operators.OccCommitLog
    val log = occ.read(fs, s"$root/log")
    val v = p43ResolveTimestamp(log, 3500L, s"$root/log")
    require(v == 2, s"instant 3500 must resolve between update and delete: got v$v")
    tableAsOfOrdered(spark, log, v, s"$root/log").orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- p44

  /** CHECK-constraint enforcement on write (Delta's table constraints
    * / invariants, `InvariantViolationException`): every active check
    * is evaluated over the candidate delta as ONE aggregate — a row
    * violates only when the predicate is FALSE (SQL CHECK semantics:
    * NULL passes), and any violation refuses the whole commit with
    * the named error. O(delta) per landing, never O(table). Public so
    * TableLogSpec can pin the refusal and the NULL rule. */
  private[queries] def p44EnforceChecks(df: DataFrame, checks: Seq[String],
      at: String): Unit =
    checks.foreach { c =>
      val bad = df.filter(!coalesce(expr(c), lit(true))).count()
      if (bad > 0) throw new IllegalArgumentException(
        s"CHECK constraint violation at $at: $bad row(s) fail '$c' — a " +
          "commit may not put the table in violation of its declared " +
          "constraints")
    }

  /** The constraint-policed table: v0 declares the check as a `meta`
    * commit whose predicate rides the commit's METADATA (planning
    * reads zero payload bytes; the payload parquet is the audit copy,
    * p36's convention), v1/v2 land validated insert deltas, v3 ADDS a
    * second constraint — which first validates the WHOLE table as of
    * the writer's read version, Delta's `ADD CONSTRAINT` table scan:
    * a constraint the existing data violates must never enter the log
    * (TableLogSpec pins that refusal) — and v4 lands a delete list.
    * Constraints accumulate; every delta validates against ALL checks
    * active at its version. Each artifact lands through
    * [[LoggedTable.land]] one at a time, just before its own commit
    * (a delta may land only after the checks it must pass are
    * committed), and every action carries its `schema` token. */
  private[queries] def stageP44CheckedTable(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val root = PipelineQueries.staging("p44ck", dir)
    PipelineQueries.stageOnce("p44ck", dir, Seq(root)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val logDir = s"$root/log"
      val occ = graft.operators.OccCommitLog
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      def activeChecks(): Seq[String] =
        occ.read(fs, logDir).filter(_.kind == "meta").flatMap(_.meta.get("check"))
      // one artifact at a time: each must pass the checks active when
      // it lands, so none can land ahead of the commit before it
      def landAndCommit(kind: String, tag: String, df: DataFrame,
          meta: Map[String, String], txn: (String, Long)): Unit = {
        val p = s"$root/$tag"
        occ.commitMeta(fs, logDir, kind, p,
          meta ++ LoggedTable.land(Seq(p -> df)).head, txn = Some(txn))
      }
      def commitCheck(tag: String, check: String, txnV: Long): Unit =
        landAndCommit("meta", tag, Seq(check).toDF("check_expr"),
          Map("check" -> check), ("p44-ddl", txnV))
      commitCheck("check_v0", "n_chars >= 0 AND lang IS NOT NULL", 0L)
      Seq(0, 1).foreach { k =>
        val delta = docs.filter(col("doc_id") % 2 === k)
        p44EnforceChecks(delta, activeChecks(), s"delta $k")
        landAndCommit("insert", s"d$k", delta, Map.empty, ("p44-ing", k.toLong))
      }
      // ADD CONSTRAINT: the whole table as of the read version must
      // already satisfy the new predicate before it may be declared
      val newCheck = "n_chars <= 100000000"
      val log = occ.read(fs, logDir)
      p44EnforceChecks(
        tableAsOfOrdered(spark, log, log.map(_.version).max, logDir),
        Seq(newCheck), "ADD CONSTRAINT")
      commitCheck("check_v3", newCheck, 1L)
      landAndCommit("delete", "t4",
        docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")),
        Map.empty, ("p44-del", 1L))
    }
    root
  }

  /** p44 — CHECK CONSTRAINTS THROUGH THE LOG (Delta table
    * constraints): the head of the constraint-policed table — every
    * landed delta was validated against the checks active at its
    * version, the late-added constraint validated existing history
    * before entering the log, and both predicates ride commit
    * metadata so enforcement needs one log read and one O(delta)
    * aggregate per landing. Gated by p33's membership oracle (the
    * p35 aliasing move, third log discipline, same answer): policing
    * writes must leave no trace in what a valid history serves. The
    * head reads every artifact under its logged schema
    * ([[tableAsOfOrdered]]). TableLogSpec pins the refusals — a
    * violating delta, a violating ADD CONSTRAINT — and SQL CHECK's
    * NULL-passes rule. */
  def p44CheckConstraints(spark: SparkSession, dir: String): DataFrame = {
    val root = stageP44CheckedTable(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val occ = graft.operators.OccCommitLog
    val log = occ.read(fs, s"$root/log")
    require(log.filter(_.kind == "meta").flatMap(_.meta.get("check")).size == 2,
      s"the staged log must carry both declared checks: $log")
    tableAsOfOrdered(spark, log, log.map(_.version).max, s"$root/log")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The p34 serve recomputed layout-neutrally: the predicate slice,
    * plus the whole-table MAX the engine answered from log stats alone
    * — an off-by-anything in any file's recorded min/max either drops
    * rows from the slice or breaks the stats column's hash. p39 aliases
    * it VERBATIM: OPTIMIZE must be invisible to the reader. */
  private val statsSkippingOracle =
    """WITH mx AS (SELECT MAX(n_chars) AS table_max_chars FROM documents)
      |SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  table_max_chars
      |FROM documents CROSS JOIN mx
      |WHERE doc_id BETWEEN 100 AND 299
      |GROUP BY lang, table_max_chars ORDER BY lang""".stripMargin

  /** This family's oracle fragment (p35 aliases p33's oracle in the
    * facade — membership must be identical however the log is
    * written). */
  private[queries] lazy val tableLogOracles: Map[String, String] = Map(
    "p34_stats_skipping" -> statsSkippingOracle,
    "p39_stats_after_optimize" -> statsSkippingOracle,
    // exact membership of the five probed ids — a bloom false negative
    // (a file wrongly pruned) drops its rows and breaks the hash
    "p40_bloom_skipping" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (7, 113, 211, 307, 419)
        |ORDER BY doc_id""".stripMargin,
    // the 2-D box recomputed from the RAW table with the same integer
    // arithmetic (Scala Long division and DuckDB's // both floor for
    // positives) — the curve-clustered copy and its log stats must
    // have changed bytes and nothing else
    "p42_zorder_stats" ->
      """WITH b AS (SELECT MIN(doc_id) AS dl, MAX(doc_id) AS dh,
        |    MIN(n_chars) AS cl, MAX(n_chars) AS ch FROM documents)
        |SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents, b
        |WHERE doc_id >= b.dl + ((b.dh - b.dl) * 3) // 10
        |  AND doc_id <  b.dl + ((b.dh - b.dl) * 6) // 10
        |  AND n_chars >= b.cl + ((b.ch - b.cl) * 6) // 10
        |  AND n_chars <  b.cl + ((b.ch - b.cl) * 9) // 10
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the classified feed from the definitions: inserts carry original
    // values, the v2 update emits pre (original) and post (+100)
    // pairs, and the v3 delete's pre-images must reflect the EARLIER
    // update for ids divisible by both 5 and 7 — a feed that resolved
    // pre-images against the wrong version breaks the hash there
    "p41_change_data_feed" ->
      """SELECT 'insert' AS change_type, 0 AS version, doc_id, lang, n_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'insert', 1, doc_id, lang, n_chars
        |FROM documents WHERE doc_id % 2 = 1
        |UNION ALL
        |SELECT 'update_preimage', 2, doc_id, lang, n_chars
        |FROM documents WHERE doc_id % 5 = 0
        |UNION ALL
        |SELECT 'update_postimage', 2, doc_id, lang, n_chars + 100
        |FROM documents WHERE doc_id % 5 = 0
        |UNION ALL
        |SELECT 'delete', 3, doc_id, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN n_chars + 100 ELSE n_chars END
        |FROM documents WHERE doc_id % 7 = 0
        |ORDER BY version, change_type, doc_id""".stripMargin,
    // the evolved head from the definitions: residues 0..2 inserted,
    // quality exists ONLY on the post-evolution v4 delta (residue 2),
    // the v5 delete applied — the CASE pins which rows carry the
    // evolved value, not just the padded shape
    "p36_schema_evolution_log" ->
      """SELECT doc_id, lang, n_chars,
        |  CASE WHEN doc_id % 4 = 2 THEN CAST(n_chars % 97 AS BIGINT)
        |       ELSE NULL END AS quality
        |FROM documents WHERE doc_id % 4 <= 2 AND doc_id % 3 <> 0
        |ORDER BY doc_id""".stripMargin,
    // full membership: a stale fold that lost an interloping insert, or
    // a duplicate fold that doubled one, breaks the hash — the
    // lost-update invariant gated under whatever schedule the race took
    "p37_concurrent_optimize" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    // the updated column recomputed from the definitions: a torn read
    // (delete visible without its replacement), a lost replacement, or
    // a surviving original each break the hash
    "p38_atomic_update" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN n_chars + 100 ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
