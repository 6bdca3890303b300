package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, lit, when}
import graft.GraftSession

/** Pins on the table-format log family (p34–p36, s44) that the DuckDB
  * oracles cannot see: stats-based file skipping actually excluding
  * files from the PLAN (not just producing the right rows), schema
  * enforcement refusing a wider delta, pre-evolution reads not carrying
  * the evolved column, the OCC table log's vacuumed epochs failing at
  * planning while the head plans only the snapshot, and the OPTIMIZE
  * daemon's head serve reading nothing but the head optimize plus the
  * merge-on-read id lists. */
class TableLogSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(cores = 4)
  private val dir = "/root/testdata/sf0.001"

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** A stats table's commits, read straight from its OCC log. */
  private def statsLog(root: String) =
    graft.operators.OccCommitLog.read(fs(root), s"$root/log")

  test("p34: the pruned scan plans ONLY the stats-intersecting deltas") {
    val root = AnalyticsQueries.stageP34StatsTable(spark, dir)
    val log = statsLog(root)
      .map(c => (c.path, c.meta("min_id").toLong, c.meta("max_id").toLong))
    val (lo, hi) = (100L, 299L)
    val hit = log.filter(c => c._3 >= lo && c._2 <= hi).map(_._1).toSet
    val miss = log.map(_._1).toSet -- hit
    assert(hit.nonEmpty && miss.nonEmpty,
      s"the fixture must make skipping non-trivial: hit=$hit miss=$miss")
    val (scan, nHit, nTotal) = AnalyticsQueries.p34PrunedScan(spark, dir, lo, hi)
    assert(nHit == hit.size && nTotal == log.size)
    val planned = scan.inputFiles.toSeq
    assert(planned.nonEmpty)
    assert(planned.forall(f => hit.exists(f.contains)),
      s"the plan leaked a stats-skipped file: " +
        s"${planned.filterNot(f => hit.exists(f.contains))}")
    assert(miss.forall(m => !planned.exists(_.contains(m))),
      "a skipped delta appeared in the plan")
  }

  test("p39: the post-OPTIMIZE serve plans ONLY the stats-intersecting rewrites, and no pre-optimize file") {
    val root = AnalyticsQueries.stageP39OptimizedStatsTable(spark, dir)
    val log = statsLog(root).map(c => (c.kind, c.path,
      c.meta("min_id").toLong, c.meta("max_id").toLong))
    assert(log.count(_._1 == "insert") == 8 && log.count(_._1 == "optimize") == 3,
      s"fixture shape moved: $log")
    // every folded delta is physically reclaimed; every rewrite exists
    log.foreach { case (kind, p, _, _) =>
      assert(fs(p).exists(new Path(p)) == (kind == "optimize"),
        s"$kind $p existence is wrong post-vacuum")
    }
    val (lo, hi) = (100L, 299L)
    val hit = log.filter(c => c._1 == "optimize" && c._4 >= lo && c._3 <= hi)
      .map(_._2).toSet
    val (scan, nHit, nTotal) = AnalyticsQueries.p39PrunedServe(spark, dir, lo, hi)
    assert(nTotal == 3 && nHit == hit.size && nHit < nTotal,
      s"re-derived stats must prune the 3-file head: $nHit of $nTotal")
    val planned = scan.inputFiles.toSeq
    assert(planned.nonEmpty && planned.forall(f => hit.exists(f.contains)),
      s"the plan leaked a file outside the stats-hit rewrites: " +
        s"${planned.filterNot(f => hit.exists(f.contains))}")
    assert(planned.forall(f => !f.contains("delta_r")),
      "a pre-optimize delta appeared in a post-maintenance plan")
  }

  test("p40: blooms prune the point lookup the ranges cannot, and the plan holds only bloom-hit files") {
    val root = AnalyticsQueries.stageP40BloomTable(spark, dir)
    val log = statsLog(root).map(c => (c.path, c.meta("min_id").toLong,
      c.meta("max_id").toLong, java.util.Base64.getDecoder.decode(c.meta("bloom"))))
    assert(log.size == 8)
    val probes = AnalyticsQueries.P40Probes
    // the motivating contrast, recomputed independently of the serve:
    // every file's id range covers some probe (ranges keep all 8)...
    assert(log.forall(c => probes.exists(p => p >= c._2 && p <= c._3)),
      "the hash scatter no longer defeats range pruning — fixture moved")
    // ...while the blooms keep a strict subset, with zero false
    // negatives: the file that really holds each probe is always hit
    val bloomHit = log.filter(c =>
      probes.exists(p => graft.expressions.Bloom.contains(c._4, p))).map(_._1).toSet
    assert(bloomHit.size < log.size, s"blooms pruned nothing: $bloomHit")
    probes.foreach { p =>
      val owner = log.filter { c =>
        !spark.read.parquet(c._1).filter(s"doc_id = $p").isEmpty
      }.map(_._1)
      assert(owner.size == 1 && bloomHit(owner.head),
        s"probe $p: owning file ${owner.mkString} missing from the bloom plan")
    }
    val (scan, nBloom, nRange, nTotal) = AnalyticsQueries.p40PrunedLookup(spark, dir)
    assert(nBloom == bloomHit.size && nRange == 8 && nTotal == 8)
    val planned = scan.inputFiles.toSeq
    assert(planned.nonEmpty && planned.forall(f => bloomHit.exists(f.contains)),
      s"the plan leaked a bloom-pruned file: " +
        s"${planned.filterNot(f => bloomHit.exists(f.contains))}")
  }

  test("p41: an insert-only change range plans only its own delta; the update classifies as a matched pre/post pair") {
    val root = AnalyticsQueries.stageP41CdfTable(spark, dir)
    // insert-only range (0,1]: the consumer's cost is the changed
    // bytes — the plan must hold d1 alone, no other delta, no history
    val insOnly = AnalyticsQueries.p41CdfBetween(spark, root, 0, 1)
    val planned = insOnly.inputFiles.toSeq
    assert(planned.nonEmpty && planned.forall(_.contains("/d1")),
      s"an insert-only change range leaked history into the plan: $planned")
    assert(insOnly.select("change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("insert"))
    // the update version classifies as pre/post pairs over the same ids
    val upd = AnalyticsQueries.p41CdfBetween(spark, root, 1, 2)
    val byType = upd.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.keySet == Set("update_preimage", "update_postimage") &&
      byType.values.toSet.size == 1,
      s"the atomic update must emit matched pre/post images: $byType")
    val pairs = upd.groupBy("doc_id").count().collect().map(_.getLong(1)).toSet
    assert(pairs == Set(2L), "every updated id must appear exactly twice")
    // an unknown action kind corrupts no replica silently
    val eKind = intercept[IllegalArgumentException] {
      val hfs = fs(root)
      graft.operators.OccCommitLog.commit(hfs, s"$root/log", "layout",
        s"$root/d0", txn = Some(("p41-spec", 1L)))
      try AnalyticsQueries.p41CdfBetween(spark, root, -1, 4).collect()
      finally hfs.delete(new Path(s"$root/log/00000004.commit"), false)
    }
    assert(eKind.getMessage.contains("unknown commit kind"), eKind.getMessage)
  }

  test("p43: timestamp resolution — before-first errors, exact ts hits its commit, after-head serves the head") {
    val root = AnalyticsQueries.stageP43TsTable(spark, dir)
    val log = graft.operators.OccCommitLog.read(fs(root), s"$root/log")
    // every commit's own ts round-trips to its version (the update's
    // two actions share one version and one ts)
    log.foreach { c =>
      assert(AnalyticsQueries.p43ResolveTimestamp(
        log, c.meta("ts").toLong, "spec") == c.version)
    }
    // between two commits → the earlier one; after the head → the head
    assert(AnalyticsQueries.p43ResolveTimestamp(log, 2999L, "spec") == 1)
    assert(AnalyticsQueries.p43ResolveTimestamp(log, 999999L, "spec") == 3)
    // before the first commit: the named contract error, not an empty
    // table served as if history began at zero
    val e = intercept[IllegalArgumentException] {
      AnalyticsQueries.p43ResolveTimestamp(log, 999L, "spec")
    }
    assert(e.getMessage.contains("precedes the first commit"), e.getMessage)
    // an unstamped commit on a timestamp-traveled table fails loudly
    val e2 = intercept[IllegalStateException] {
      AnalyticsQueries.p43ResolveTimestamp(
        log.map(c => c.copy(meta = Map.empty)), 2000L, "spec")
    }
    assert(e2.getMessage.contains("carries no ts"), e2.getMessage)
  }

  test("p44: a violating delta refuses with the named error, ADD CONSTRAINT validates history, NULL passes") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val checks = Seq("n_chars >= 0 AND lang IS NOT NULL")
    // a clean delta passes; a corrupted one refuses naming the count
    AnalyticsQueries.p44EnforceChecks(docs, checks, "spec")
    val corrupt = docs.withColumn("n_chars",
      when(col("doc_id") % 100 === 0, lit(-1L)).otherwise(col("n_chars")))
    val e = intercept[IllegalArgumentException] {
      AnalyticsQueries.p44EnforceChecks(corrupt, checks, "spec")
    }
    assert(e.getMessage.contains("CHECK constraint violation") &&
      e.getMessage.contains("row(s) fail"), e.getMessage)
    // SQL CHECK semantics: a NULL predicate is not a violation
    AnalyticsQueries.p44EnforceChecks(
      docs.withColumn("q", lit(null).cast("long")), Seq("q > 0"), "spec")
    // ADD CONSTRAINT over violating history must never enter the log:
    // the staged table's history all has n_chars < 1e9, so a tighter
    // bound the data violates refuses at the validation scan
    val root = AnalyticsQueries.stageP44CheckedTable(spark, dir)
    val log = graft.operators.OccCommitLog.read(fs(root), s"$root/log")
    assert(log.filter(_.kind == "meta").flatMap(_.meta.get("check")).size == 2)
    val head = AnalyticsQueries.tableAsOfOrdered(spark, log,
      log.map(_.version).max, "spec")
    val e2 = intercept[IllegalArgumentException] {
      AnalyticsQueries.p44EnforceChecks(head, Seq("n_chars >= 1000"),
        "ADD CONSTRAINT")
    }
    assert(e2.getMessage.contains("CHECK constraint violation"), e2.getMessage)
  }

  test("p36: schema enforcement refuses a delta wider than the log's schema") {
    val e = intercept[IllegalArgumentException] {
      AnalyticsQueries.p36EnforceSchema(
        Seq("doc_id", "lang", "n_chars", "quality"),
        Seq("doc_id", "lang", "n_chars"), "version 1")
    }
    assert(e.getMessage.contains("schema enforcement") &&
      e.getMessage.contains("quality"))
  }

  test("p36: a pre-evolution as-of read has no quality column; the post-evolution read null-pads exactly the old rows") {
    val pre = AnalyticsQueries.p36ReadAsOf(spark, dir, 2)
    assert(pre.columns.toSeq == Seq("doc_id", "lang", "n_chars"),
      s"the evolved column must not exist before its meta commit: ${pre.columns.toSeq}")
    val post = AnalyticsQueries.p36ReadAsOf(spark, dir, 4)
    assert(post.columns.toSeq == Seq("doc_id", "lang", "n_chars", "quality"))
    import org.apache.spark.sql.functions._
    val byResidue = post
      .groupBy((col("doc_id") % 4).as("residue"))
      .agg(count(lit(1)).as("n"), count(col("quality")).as("n_quality"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // residues 0/1 predate the evolution: padded null; residue 2
    // carries the evolved value on every row
    assert(byResidue(0L)._2 == 0 && byResidue(1L)._2 == 0,
      s"pre-evolution rows must be null-padded: $byResidue")
    assert(byResidue(2L)._1 == byResidue(2L)._2,
      s"every post-evolution row must carry the value: $byResidue")
  }

  test("p35: vacuumed epochs fail at planning; the head plans only the snapshot") {
    AnalyticsQueries.p35OccTableCommits(spark, dir).collect()
    val root = PipelineQueries.staging("p35occ", dir)
    val triples = graft.operators.OccCommitLog.readTriples(
      fs(root), s"$root/log")
    assert(triples.size == 5 && triples.count(_._2 == "snapshot") == 1)
    // the folded artifacts are physically gone
    (0 to 2).foreach(k => assert(!fs(root).exists(new Path(s"$root/delta_r$k"))))
    assert(!fs(root).exists(new Path(s"$root/tombstones")))
    // an as-of read into a reclaimed epoch fails loudly at planning
    intercept[Exception] {
      PipelineQueries.tableAsOfTriples(spark, triples, 2, root).collect()
    }
    // the head plan reads the snapshot and nothing else
    val head = PipelineQueries.tableAsOfTriples(spark, triples, 4, root)
    val planned = head.inputFiles.toSeq
    assert(planned.nonEmpty && planned.forall(_.contains("/snapshot_v4/")),
      s"the head must resolve THROUGH the snapshot: $planned")
  }

  test("p38: the update is atomic — pre-update as-of serves originals, a crash between staging and commit exposes nothing, txn replay lands once") {
    import org.apache.spark.sql.functions._
    AnalyticsQueries.p38AtomicUpdate(spark, dir).collect()
    val root = PipelineQueries.staging("p38occ", dir)
    val occ = graft.operators.OccCommitLog
    val hfs = fs(root)
    val log = occ.read(hfs, s"$root/log")
    // as-of BEFORE the update: every doc at its ORIGINAL n_chars
    val pre = AnalyticsQueries.tableAsOfOrdered(spark, log, 1, root)
    val bumped = pre.filter(col("doc_id") % 5 === 0)
      .join(graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars").as("orig")), Seq("doc_id"))
      .filter(col("n_chars") =!= col("orig")).count()
    assert(bumped == 0, "a pre-update snapshot saw updated rows")
    // torn state is UNREPRESENTABLE: no version carries the delete
    // without its replacement — v2 holds exactly both actions
    val v2 = log.filter(_.version == 2)
    assert(v2.map(_.kind).sorted == Seq("delete", "insert"))
    // a second updater CRASHES between staging and commit: it lands a
    // real delete and insert, then dies before commitActions. Nothing
    // becomes visible: the log is unmoved and the head resolves to the
    // same rows
    val head = log.last.version
    val headRows = AnalyticsQueries.tableAsOfOrdered(spark, log, head, root).collect().toSet
    val victim = headRows.head.getAs[Long]("doc_id")
    val tokens = LoggedTable.land(Seq(
      s"$root/crash_del" -> spark.range(1).select(lit(victim).as("doc_id")),
      s"$root/crash_ins" -> pre.filter(col("doc_id") === victim)
        .withColumn("n_chars", col("n_chars") + 1)))
    assert(tokens.forall(_.contains("schema")) &&
      fs(s"$root/crash_del").exists(new Path(s"$root/crash_del")) &&
      fs(s"$root/crash_ins").exists(new Path(s"$root/crash_ins")),
      "the crashed updater's artifacts must have landed")
    val staged = occ.read(hfs, s"$root/log")
    assert(staged == log, "landing without a commit moved the log")
    assert(AnalyticsQueries.tableAsOfOrdered(spark, staged, head, root).collect().toSet == headRows,
      "landed but uncommitted artifacts changed the head")
    val before = staged.size
    // txn replay of the update (the restarted writer's schedule):
    // exactly one commit, the original version
    val replayed = occ.commitActions(hfs, s"$root/log",
      Seq(("delete", s"$root/upd_del"), ("insert", s"$root/upd_ins")),
      txn = Some(("p38-updater", 1L)))
    assert(replayed == 2 && occ.read(hfs, s"$root/log").size == before,
      "a replayed update must resolve to its original commit")
  }

  /** A fresh temp root, passed to `body` and deleted afterwards. */
  private def withTableRoot(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("tablelog").toString
    try body(root) finally fs(root).delete(new Path(root), true)
  }

  private def rowsArtifact(path: String, rows: Seq[(Long, Long)]): Map[String, String] = {
    val sp = spark
    import sp.implicits._
    val df = rows.map { case (id, n) => (id, s"l$id", n) }.toDF("doc_id", "lang", "n_chars")
    LoggedTable.land(Seq(path -> df)).head
  }

  private def idsArtifact(path: String, ids: Seq[Long]): Map[String, String] = {
    val sp = spark
    import sp.implicits._
    LoggedTable.land(Seq(path -> ids.toDF("doc_id"))).head
  }

  test("tableAsOfOrdered fails naming the version when an insert or delete action has no schema token, or a conflicting one") {
    val occ = graft.operators.OccCommitLog
    withTableRoot { root =>
      val hfs = fs(root)
      val rows = rowsArtifact(s"$root/d0", Seq(0L -> 0L, 1L -> 10L))
      val ids = idsArtifact(s"$root/t1", Seq(1L))
      // each case: v0 and v1 a proper insert and delete, v2 the action
      // under test
      val cases = Seq(
        ("insert without a token", "insert", s"$root/d0", Map.empty[String, String], "no schema"),
        ("delete without a token", "delete", s"$root/t1", Map.empty[String, String], "no schema"),
        ("insert with a conflicting token", "insert", s"$root/d0", ids, "conflicting"),
        ("delete with a conflicting token", "delete", s"$root/t1", rows, "conflicting"))
      cases.zipWithIndex.foreach { case ((what, kind, path, meta, needle), i) =>
        val logDir = s"$root/log$i"
        occ.commitMeta(hfs, logDir, "insert", s"$root/d0", rows)
        occ.commitMeta(hfs, logDir, "delete", s"$root/t1", ids)
        occ.commitMeta(hfs, logDir, kind, path, meta)
        val log = occ.read(hfs, logDir)
        assert(AnalyticsQueries.tableAsOfOrdered(spark, log, 1, logDir).count() == 1)
        val e = intercept[IllegalStateException] {
          AnalyticsQueries.tableAsOfOrdered(spark, log, 2, logDir)
        }
        assert(e.getMessage.contains("version 2") && e.getMessage.contains(needle),
          s"$what must fail naming version 2: ${e.getMessage}")
      }
    }
  }

  test("tableAsOfOrdered: an id deleted, re-inserted by an update, then deleted again resolves at every version") {
    val occ = graft.operators.OccCommitLog
    withTableRoot { root =>
      val hfs = fs(root)
      val logDir = s"$root/log"
      // version -> actions (kind, artifact name, rows or ids)
      val history: Seq[Seq[(String, String, Seq[(Long, Long)])]] = Seq(
        Seq(("insert", "d0", Seq(0L -> 0L, 1L -> 10L, 2L -> 20L, 3L -> 30L))),
        Seq(("delete", "u1_del", Seq(1L -> 0L)), ("insert", "u1_ins", Seq(1L -> 111L))),
        Seq(("delete", "t2", Seq(1L -> 0L, 2L -> 0L))),
        Seq(("insert", "d3", Seq(1L -> 131L))),
        Seq(("delete", "u4_del", Seq(1L -> 0L, 3L -> 0L)), ("insert", "u4_ins", Seq(3L -> 333L))))
      history.foreach { actions =>
        occ.commitActionsMeta(hfs, logDir, actions.map { case (kind, name, rows) =>
          val p = s"$root/$name"
          (kind, p,
            if (kind == "insert") rowsArtifact(p, rows) else idsArtifact(p, rows.map(_._1)))
        })
      }
      // the old rule, recomputed on the driver: a row inserted at vi
      // survives iff the MAX delete version of its id (≤ v) is ≤ vi
      def maxVersionRule(v: Int): Set[(Long, Long)] = {
        val seen = history.zipWithIndex.take(v + 1)
        val maxDel = seen.flatMap { case (as, vd) =>
          as.filter(_._1 == "delete").flatMap(_._3.map(_._1 -> vd))
        }.groupMapReduce(_._1)(_._2)(math.max)
        seen.flatMap { case (as, vi) =>
          as.filter(_._1 == "insert").flatMap(_._3)
            .filter(r => maxDel.get(r._1).forall(_ <= vi))
        }.toSet
      }
      val expected = Seq(
        Set(0L -> 0L, 1L -> 10L, 2L -> 20L, 3L -> 30L),
        Set(0L -> 0L, 1L -> 111L, 2L -> 20L, 3L -> 30L),
        Set(0L -> 0L, 3L -> 30L),
        Set(0L -> 0L, 1L -> 131L, 3L -> 30L),
        Set(0L -> 0L, 3L -> 333L))
      val log = occ.read(hfs, logDir)
      expected.zipWithIndex.foreach { case (want, v) =>
        assert(maxVersionRule(v) == want, s"the reference rule disagrees at v$v")
        val got = AnalyticsQueries.tableAsOfOrdered(spark, log, v, logDir)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toSet
        assert(got == want, s"as of v$v")
      }
    }
  }

  test("landing: a failed write is rethrown naming its path after the other writes finish; nothing is committed") {
    val occ = graft.operators.OccCommitLog
    withTableRoot { root =>
      val hfs = fs(root)
      val logDir = s"$root/log"
      occ.commitMeta(hfs, logDir, "insert", s"$root/d0",
        rowsArtifact(s"$root/d0", Seq(0L -> 0L)))
      val before = occ.read(hfs, logDir)
      // a regular file where the failing artifact's parent dir should be
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/blocker"), "x")
      val good = s"$root/good"
      val bad = s"$root/blocker/bad"
      // the failing write comes first and fails long before the good
      // one, a larger write, can finish
      val big = spark.range(0, 300000, 1, 4)
        .selectExpr("id AS doc_id", "repeat('x', 64) AS pad")
      val e = intercept[IllegalStateException] {
        val Seq(b, g) = LoggedTable.land(Seq(
          bad -> spark.range(10).toDF("doc_id"), good -> big))
        occ.commitActionsMeta(hfs, logDir, Seq(("delete", bad, b), ("insert", good, g)))
      }
      assert(e.getMessage.contains(bad), e.getMessage)
      assert(hfs.exists(new Path(s"$good/_SUCCESS")),
        "the landing rethrew before its other write finished")
      assert(occ.read(hfs, logDir) == before, "a failed landing moved the log")
    }
  }

  test("landing: jobs started by the landing carry the caller's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.Internals
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    withTableRoot { root =>
      Internals.drainListenerBus(sc)
      sc.addSparkListener(listener)
      sc.setJobGroup("tablelog-landing", "landing job-group pin")
      try {
        LoggedTable.land((0 until 3).map(k =>
          s"$root/a$k" -> spark.range(k * 10, k * 10 + 10).toDF("doc_id")))
        Internals.drainListenerBus(sc)
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    }
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    assert(seen.size >= 3 && seen.forall(_ == "tablelog-landing"),
      s"landing jobs lost the caller's job group: $seen")
  }

  test("graft-logfeed: version offsets survive the checkpoint, behind-horizon pulls and unknown kinds fail with named errors") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.DataFrame
    val sp = spark
    import sp.implicits._
    val occ = graft.operators.OccCommitLog
    val root = PipelineQueries.staging("lfspec", dir)
    val hfs = fs(root)
    hfs.delete(new Path(root), true)
    val logDir = s"$root/log"
    def delta(name: String, ids: Seq[Long]): String = {
      val p = s"$root/$name"
      ids.map(i => (i, s"l$i", i * 10)).toDF("doc_id", "lang", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(p)
      p
    }
    occ.commit(hfs, logDir, "insert", delta("d0", Seq(0L, 1L)))
    occ.commit(hfs, logDir, "insert", delta("d1", Seq(2L, 3L)))
    val landed = s"$root/landed"
    def drain(): Unit = {
      val q = sp.readStream.format("graft-logfeed")
        .option("logDir", logDir).option("maxVersionsPerTrigger", "1").load()
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$landed/batch=$id"); ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val run1 = sp.read.parquet(landed)
    assert(run1.select(col("version")).distinct().collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(0, 1))
    // append one commit; re-run against the SAME checkpoint: ONLY the
    // new version streams — the offset is the log's own coordinate
    occ.commit(hfs, logDir, "insert", delta("d2", Seq(4L, 5L)))
    drain()
    val run2 = sp.read.parquet(landed)
    assert(run2.count() == 6 &&
      run2.groupBy(col("doc_id")).count().filter(col("count") > 1).count() == 0,
      "the restarted stream must emit exactly the appended commit, no replays")
    // unknown commit kind: the stream fails loudly at planning
    occ.commit(hfs, logDir, "bogus", s"$root/d0")
    def chainMentions(t: Throwable, needle: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .exists(c => c.getMessage != null && c.getMessage.contains(needle))
    val eKind = intercept[Exception] { drain() }
    assert(chainMentions(eKind, "unknown commit kind"),
      s"unknown kinds must fail with the named error: $eKind")
    // behind-horizon: reclaim d0's artifact, stream from scratch — the
    // planning error names the retention contract
    hfs.delete(new Path(s"$root/d0"), true)
    hfs.delete(new Path(s"$root/ckpt"), true)
    hfs.delete(new Path(landed), true)
    val eHor = intercept[Exception] { drain() }
    assert(chainMentions(eHor, "retention horizon"),
      s"a behind-horizon pull must fail with the named contract error: $eHor")
  }

  test("s44: folded deltas reclaimed, epochs + id lists preserved, head plans only the head optimize plus the merge-on-read lists") {
    val served = StreamingQueries.s44OccTableDaemon(spark, dir)
    val planned = served.inputFiles.toSeq
    val root = PipelineQueries.staging("s44m", dir)
    val log = graft.operators.OccCommitLog.read(fs(root), s"$root/log")
    val nOpt = log.count(_.kind == "optimize")
    assert(nOpt >= 2, s"the policy must have fired mid-stream: $log")
    // every folded insert delta is physically gone; every tombstone
    // list and every optimize epoch survives (retention is p28's job,
    // merge-on-read debt is the read path's)
    log.filter(_.kind == "insert").foreach(c =>
      assert(!fs(root).exists(new Path(c.path)),
        s"a folded delta survived vacuum: ${c.path}"))
    (log.filter(_.kind == "delete") ++ log.filter(_.kind == "optimize"))
      .foreach(c => assert(fs(root).exists(new Path(c.path)),
        s"a preserved commit's artifact is missing: ${c.path}"))
    // the serve plan: head optimize + id lists, nothing else
    assert(planned.nonEmpty)
    assert(planned.forall(f =>
      f.contains(s"/opt$nOpt/") || f.contains("/tomb=")),
      s"the head serve leaked a non-head file: " +
        s"${planned.filterNot(f => f.contains(s"/opt$nOpt/") || f.contains("/tomb="))}")
    assert(planned.exists(_.contains(s"/opt$nOpt/")) &&
      planned.exists(_.contains("/tomb=")))
  }
}
