package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.operators.OccCommitLog

/** The optimistic-concurrency commit protocol under REAL interleaving
  * ([[graft.operators.OccCommitLog]] — put-if-absent version files,
  * retry-on-conflict; the Delta/Iceberg core invariant the repo's
  * single-writer parquet logs deliberately lacked until r15). Three
  * schedules, each with genuinely concurrent threads on one log:
  *
  *  1. the two-writer firehose — every commit survives, versions stay
  *     dense, nothing is double-claimed (mutual exclusion);
  *  2. the claim primitive — a version file, once present, can never
  *     be won again;
  *  3. the production triangle — an ingest daemon APPENDING layout
  *     commits while a vacuum loop RECLAIMS beyond retention while an
  *     as-of reader SERVES the head: no serve ever plans a reclaimed
  *     file, no commit is lost, and the retention window is exactly
  *     the contract that keeps the reader safe.
  *
  * The p31 gated query drives the same protocol through the oracle
  * gate (arbitration must leave no trace in the index); this spec owns
  * the schedules an oracle hash cannot see. */
class OccProtocolSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    GraftSession.local(cores = 4)
  private val dir = "/root/testdata/sf0.001"

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def freshRoot(tag: String): String = {
    val root = PipelineQueries.staging(tag, dir)
    fs(root).delete(new Path(root), true)
    root
  }

  /** Run `bodies` on their own threads, released together; rethrow the
    * first failure after all join so an assertion in a thread fails
    * the test instead of dying silently. */
  private def race(bodies: Seq[() => Unit]): Unit = {
    val barrier = new java.util.concurrent.CyclicBarrier(bodies.size)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.map { b =>
      new Thread(() =>
        try { barrier.await(); b() }
        catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()
  }

  test("two-writer firehose: no commit lost, versions dense, no double-claims") {
    val root = freshRoot("occspec1")
    val logDir = s"$root/log"
    val hfs = fs(root)
    val perWriter = 15
    val won = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    race(Seq("a", "b").map { w => () =>
      (0 until perWriter).foreach { i =>
        won.add(OccCommitLog.commit(hfs, logDir, "segment", s"$root/art/$w$i"))
      }
    })
    val log = OccCommitLog.read(hfs, logDir) // density asserted inside
    assert(log.size == 2 * perWriter, s"commits lost: ${log.size}")
    // each version won exactly once — the mutual-exclusion claim
    import scala.jdk.CollectionConverters._
    assert(won.asScala.toSeq.sorted == (0 until 2 * perWriter),
      "a version was double-claimed or skipped")
    // every body published exactly once, none rewritten by the race
    val bodies = log.map(_.path).sorted
    assert(bodies == Seq("a", "b").flatMap(w =>
      (0 until perWriter).map(i => s"$root/art/$w$i")).sorted,
      s"commit bodies damaged by the race: $bodies")
  }

  test("the claim primitive: a present version can never be won again") {
    val root = freshRoot("occspec2")
    val logDir = s"$root/log"
    val hfs = fs(root)
    assert(OccCommitLog.tryCommit(hfs, logDir, 0, "layout", s"$root/l0"))
    assert(!OccCommitLog.tryCommit(hfs, logDir, 0, "layout", s"$root/other"),
      "a second claim of version 0 must lose")
    assert(OccCommitLog.read(hfs, logDir).head.path == s"$root/l0",
      "the losing claim must not alter the committed body")
  }

  test("checkpoint + cleanLog: the compacted log reads identically, files bounded") {
    val root = freshRoot("occspec5")
    val logDir = s"$root/log"
    val hfs = fs(root)
    (0 until 30).foreach(i =>
      OccCommitLog.commit(hfs, logDir, "segment", s"$root/art/p$i"))
    val whole = OccCommitLog.read(hfs, logDir)
    assert(OccCommitLog.checkpoint(hfs, logDir) == Some(29))
    // cleanup expires exactly the folded files; the read is unchanged
    assert(OccCommitLog.cleanLog(hfs, logDir) == (0 until 30))
    assert(!fs(root).exists(new Path(f"$logDir/${0}%08d.commit")),
      "a folded commit file must be physically gone after cleanLog")
    assert(OccCommitLog.read(hfs, logDir) == whole,
      "reading through the checkpoint must be lossless")
    // commits keep landing AFTER the checkpoint at the right versions
    assert(OccCommitLog.commit(hfs, logDir, "segment", s"$root/art/p30") == 30)
    assert(OccCommitLog.read(hfs, logDir).size == 31)
    // a second checkpoint folds the tail; cleanup expires only the new file
    assert(OccCommitLog.checkpoint(hfs, logDir) == Some(30))
    assert(OccCommitLog.cleanLog(hfs, logDir) == Seq(30))
    assert(OccCommitLog.read(hfs, logDir).size == 31)
    // idempotence
    assert(OccCommitLog.cleanLog(hfs, logDir).isEmpty)
    // the directory now holds ONE checkpoint file (the superseded
    // first checkpoint is itself expired — each re-serializes the full
    // history, so keeping them all would be O(n²) bytes) and zero
    // commit files — the listing is bounded however long history grows
    val names = fs(root).listStatus(new Path(logDir))
      .map(_.getPath.getName).toSeq
    assert(names.count(_.endsWith(".commit")) == 0 &&
      names.filter(_.endsWith(".checkpoint")) == Seq(f"${30}%08d.checkpoint"),
      s"log dir: $names")
  }

  test("action metadata: stats tokens round-trip raw, through checkpoint compaction, and past pre-meta bodies") {
    val root = freshRoot("occspec9")
    val logDir = s"$root/log"
    val hfs = fs(root)
    val stats = Map("min_id" -> "0", "max_id" -> "124", "n" -> "125")
    // metadata alongside a txn identity on one line — the production
    // stats-carrying streamed landing's exact shape
    OccCommitLog.commitMeta(hfs, logDir, "insert", s"$root/d0", stats,
      txn = Some(("meta-w", 0L)))
    // a path containing '=' (s44's delta=<id> convention) must coexist
    // with metadata tokens — path sits at a fixed field position
    OccCommitLog.commitMeta(hfs, logDir, "insert", s"$root/delta=1",
      Map("min_id" -> "125"))
    // a pre-meta writer's commit (no metadata) interleaves untouched
    OccCommitLog.commit(hfs, logDir, "delete", s"$root/t2",
      txn = Some(("old-w", 7L)))
    def check(log: Seq[OccCommitLog.Commit]): Unit = {
      assert(log.map(_.meta) == Seq(stats, Map("min_id" -> "125"), Map.empty))
      assert(log.map(_.txnApp) == Seq(Some("meta-w"), None, Some("old-w")))
      assert(log.map(_.path) == Seq(s"$root/d0", s"$root/delta=1", s"$root/t2"))
    }
    check(OccCommitLog.read(hfs, logDir))
    // stats must survive log compaction or a year-old table loses its
    // skipping the day its raw commit files expire
    assert(OccCommitLog.checkpoint(hfs, logDir) == Some(2))
    OccCommitLog.cleanLog(hfs, logDir)
    check(OccCommitLog.read(hfs, logDir))
    // a replayed stats landing is still txn-deduped, stats and all
    assert(OccCommitLog.commitMeta(hfs, logDir, "insert", s"$root/d0", stats,
      txn = Some(("meta-w", 0L))) == 0)
    assert(OccCommitLog.read(hfs, logDir).size == 3)
    // ambiguity guard: an appId carrying '=' would parse as metadata
    intercept[IllegalArgumentException] {
      OccCommitLog.commit(hfs, logDir, "insert", s"$root/d9",
        txn = Some(("bad=app", 0L)))
    }
  }

  test("readTriples: a snapshot reads at its asof version; a bad asof fails naming its commit") {
    val root = freshRoot("occspec10")
    val logDir = s"$root/log"
    val hfs = fs(root)
    (0 to 3).foreach(k => OccCommitLog.commit(hfs, logDir, "insert", s"$root/d$k"))
    // a checkpoint of version 2 taken after version 3 committed: the
    // version is never reused, so it lands at 4 and reads at 2
    OccCommitLog.commitMeta(hfs, logDir, "snapshot", s"$root/snap2",
      Map("asof" -> "2"))
    // a snapshot with no token keeps its commit version
    OccCommitLog.commit(hfs, logDir, "snapshot", s"$root/snap5")
    assert(OccCommitLog.readTriples(hfs, logDir).toSet ==
      ((0 to 3).map(k => (k, "insert", s"$root/d$k")).toSet +
        ((2, "snapshot", s"$root/snap2")) + ((5, "snapshot", s"$root/snap5"))))
    // log content comes from outside the program: a damaged asof fails
    // loudly, naming the commit that carries it
    Seq("two" -> "non-integer asof 'two'",
        "7" -> "asof=7, a version after its own commit").foreach {
      case (asOf, why) =>
        val bad = s"$root/bad_$asOf"
        OccCommitLog.commitMeta(hfs, bad, "insert", s"$root/d0", Map.empty)
        OccCommitLog.commitMeta(hfs, bad, "snapshot", s"$root/snapX",
          Map("asof" -> asOf))
        val ex = intercept[IllegalStateException] {
          OccCommitLog.readTriples(hfs, bad)
        }
        assert(ex.getMessage.contains("snapshot at version 1 ") &&
          ex.getMessage.contains(why), ex.getMessage)
    }
  }

  test("txn identity: a checkpoint-replayed writer lands exactly one commit per batch") {
    // the exactly-once contract for a streaming sink (Delta's `txn`
    // action): a foreachBatch writer commits with (appId, batchId);
    // killed after batch 2 and replayed from its checkpoint, it re-runs
    // batches 1-2 — the replayed commits must SKIP (returning the
    // original versions), and only genuinely new batches land
    val root = freshRoot("occspec8")
    val logDir = s"$root/log"
    val hfs = fs(root)
    val app = Some("ingest-daemon")
    def land(b: Long) = OccCommitLog.commit(hfs, logDir, "segment",
      s"$root/art/b$b", txn = app.map((_, b)))
    // run 1: batches 0-2 committed, then the writer dies
    assert((0L to 2L).map(land) == Seq(0, 1, 2))
    // replay from the checkpoint: batches 1-2 re-run, then 3 continues
    assert(land(1) == 1, "a replayed batch must skip to its original version")
    assert(land(2) == 2)
    assert(land(3) == 3, "a genuinely new batch must still land")
    val log = OccCommitLog.read(hfs, logDir)
    assert(log.size == 4, s"replay double-committed: $log")
    assert(OccCommitLog.txnVersion(hfs, logDir, "ingest-daemon") == Some(3L))
    // a DIFFERENT app is never deduped against this one's txns
    assert(OccCommitLog.commit(hfs, logDir, "segment", s"$root/art/other",
      txn = Some(("other-app", 0L))) == 4)
    // txn identities survive checkpoint compaction: fold the log, expire
    // the commit files, replay again — still skipped
    OccCommitLog.checkpoint(hfs, logDir)
    OccCommitLog.cleanLog(hfs, logDir)
    assert(land(3) == 3,
      "replay dedup must survive checkpoint compaction (txn folded in)")
    assert(OccCommitLog.read(hfs, logDir).size == 5)
  }

  test("txn identity: a real foreachBatch writer re-run over its input lands each batch once") {
    // the streaming-level version of the replay schedule: a file-source
    // stream commits one OCC segment per micro-batch with txn
    // (app, batchId); the WHOLE pipeline is then re-run over the same
    // staged input with a fresh checkpoint, so every batch id — and
    // therefore every txn — replays from zero. The log must be
    // byte-identical after the second drain: the txn action, not the
    // driver's memory, is what makes the writer exactly-once.
    val root = freshRoot("occspec10")
    val logDir = s"$root/log"
    val hfs = fs(root)
    val sp = spark
    import sp.implicits._
    (0 until 12).toDF("doc_id").repartition(3)
      .write.mode("overwrite").parquet(s"$root/in")
    def drainOnce(): Unit = {
      val schema = sp.read.parquet(s"$root/in").schema
      val q = sp.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          // land batch-id-keyed (file idempotence), then publish with
          // txn identity (log idempotence — the production discipline)
          batch.write.mode("overwrite").parquet(s"$root/seg/batch=$id")
          OccCommitLog.commit(hfs, logDir, "segment", s"$root/seg/batch=$id",
            txn = Some(("occspec10-writer", id)))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start() // fresh temp checkpoint each call: batch ids replay from 0
      q.awaitTermination()
    }
    drainOnce()
    val first = OccCommitLog.read(hfs, logDir)
    assert(first.size == 3, s"three files → three commits: $first")
    drainOnce() // the replayed writer: same input, same batch ids
    assert(OccCommitLog.read(hfs, logDir) == first,
      "a fully replayed foreachBatch writer must not move the log")
  }

  test("txn identity: two racing replicas of the same writer collapse to one commit") {
    // the skip check runs INSIDE the retry loop: when two replicas of
    // one logical writer race the same (app, txnVersion), the loser's
    // re-read sees the winner's txn and skips — both return the SAME
    // version and exactly one commit lands per txnVersion
    val root = freshRoot("occspec9")
    val logDir = s"$root/log"
    val hfs = fs(root)
    val perWriter = 10
    val won = new java.util.concurrent.ConcurrentHashMap[Long, java.util.Set[Int]]()
    race(Seq("r1", "r2").map { _ => () =>
      (0L until perWriter).foreach { b =>
        val v = OccCommitLog.commit(hfs, logDir, "segment",
          s"$root/art/b$b", txn = Some(("one-writer", b)))
        won.computeIfAbsent(b, _ =>
          java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()).add(v)
      }
    })
    val log = OccCommitLog.read(hfs, logDir)
    assert(log.size == perWriter,
      s"duplicate replicas double-committed: ${log.size} commits for $perWriter batches")
    import scala.jdk.CollectionConverters._
    (0L until perWriter).foreach { b =>
      assert(won.get(b).size == 1,
        s"batch $b resolved to two different versions: ${won.get(b).asScala}")
    }
  }

  test("checkpoint races a writer: reads stay lossless throughout") {
    val root = freshRoot("occspec6")
    val logDir = s"$root/log"
    val hfs = fs(root)
    OccCommitLog.commit(hfs, logDir, "segment", s"$root/art/seed")
    @volatile var writerDone = false
    race(Seq(
      () => {
        (0 until 25).foreach { i =>
          OccCommitLog.commit(hfs, logDir, "segment", s"$root/art/w$i")
          Thread.sleep(5)
        }
        writerDone = true
      },
      // the maintenance loop: checkpoint + expire, repeatedly, while
      // commits land — readers must never see a torn or shrunken log
      () => {
        while (!writerDone) {
          OccCommitLog.checkpoint(hfs, logDir)
          OccCommitLog.cleanLog(hfs, logDir)
          Thread.sleep(10)
        }
      },
      () => {
        var last = 0
        while (!writerDone) {
          val n = OccCommitLog.read(hfs, logDir).size
          assert(n >= last, s"a read went BACKWARDS: $last -> $n")
          last = n
          Thread.sleep(5)
        }
      },
    ))
    assert(OccCommitLog.read(hfs, logDir).size == 26,
      "commits lost under the checkpoint race")
  }

  test("a writer crash mid-publish leaves no observable commit") {
    // the crash window: a writer dies after writing its temp file but
    // before the claim — the orphaned temp must be invisible to
    // readers, and the version it was about to claim stays claimable
    val root = freshRoot("occspec7")
    val logDir = s"$root/log"
    val hfs = fs(root)
    OccCommitLog.commit(hfs, logDir, "segment", s"$root/art/p0")
    val orphan = new Path(logDir, ".tmp-crashed-writer")
    val out = hfs.create(orphan, false)
    try out.write("segment\tnever-committed\n".getBytes("UTF-8"))
    finally out.close()
    assert(OccCommitLog.read(hfs, logDir).map(_.path) == Seq(s"$root/art/p0"),
      "an orphaned temp file must be invisible to readers")
    // the next commit claims version 1 as if the crash never happened
    assert(OccCommitLog.commit(hfs, logDir, "segment", s"$root/art/p1") == 1)
    assert(OccCommitLog.read(hfs, logDir).size == 2)
  }

  test("vacuum ownership guard: separator-checked, sibling prefixes are foreign") {
    val root = freshRoot("occspec3")
    val hfs = fs(root)
    // a commit naming a SIBLING whose path merely extends the owned
    // root without a separator must read as foreign
    OccCommitLog.commit(hfs, s"$root/log", "layout", s"${root}2/l0")
    intercept[IllegalArgumentException] {
      OccCommitLog.vacuum(hfs, s"$root/log", root)
    }
  }

  test("ingest daemon vs vacuum vs as-of reader: no serve plans a reclaimed file, no commit lost") {
    val root = freshRoot("occspec4")
    val logDir = s"$root/log"
    val hfs = fs(root)
    val sp = spark
    import sp.implicits._
    val nLayouts = 10
    // the retention window is the reader-safety contract: the reader's
    // resolve→scan gap must fit inside (retain−1) commit intervals.
    // Writer paces 30 ms/commit and the scan below is warmed, so a
    // 6-layout window gives ~150 ms of margin per serve.
    val retain = 6
    // the artifacts exist BEFORE their commit (a commit names a fully
    // landed layout — the staging discipline every stage already has)
    (0 until nLayouts).foreach { i =>
      Seq(i.toLong).toDF("v").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/art/l$i")
    }
    sp.read.parquet(s"$root/art/l0").head // warm the scan path pre-race
    @volatile var writerDone = false
    val serves = new java.util.concurrent.atomic.AtomicInteger(0)
    val reclaimedAll = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    race(Seq(
      // the ingest daemon: one layout commit after another
      () => {
        (0 until nLayouts).foreach { i =>
          OccCommitLog.commit(hfs, logDir, "layout", s"$root/art/l$i")
          Thread.sleep(30)
        }
        writerDone = true
      },
      // the vacuum loop: reclaim beyond retention, repeatedly, WHILE
      // the writer appends — retention ≥ in-flight serve depth is the
      // contract that keeps the reader below safe
      () => {
        while (!writerDone) {
          OccCommitLog.vacuum(hfs, logDir, root, retainLayouts = retain)
            .foreach(reclaimedAll.add)
          Thread.sleep(15)
        }
      },
      // the as-of reader: serve the HEAD snapshot in a loop. The
      // retention window is the contract, stated precisely: a serve
      // whose resolve→scan gap stays INSIDE the window must never see
      // a reclaimed file; a serve that OUTLIVES the window (a loaded
      // machine can stall the scan past retain·30 ms) may legally fail
      // — but only if its epoch has genuinely aged past the horizon by
      // the time it failed (Delta's vacuum-beyond-retention caveat).
      // Both halves are asserted.
      () => {
        def fnfInChain(t: Throwable): Boolean =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
            .exists(_.isInstanceOf[java.io.FileNotFoundException])
        while (!writerDone) {
          val log = OccCommitLog.readTriples(hfs, logDir)
          if (log.nonEmpty) {
            val (layout, tombs) =
              PipelineQueries.resolveAsOf(log, log.map(_._1).max, logDir)
            assert(tombs.isEmpty)
            try {
              val v = sp.read.parquet(layout).head.getLong(0)
              // the artifact named l<i> was committed at version i (one
              // ordered writer), so the head serve must read ITS row
              assert(layout.endsWith(s"/l$v"),
                s"head serve read the wrong epoch: $layout -> $v")
              serves.incrementAndGet()
            } catch {
              case t: Throwable if fnfInChain(t) =>
                // legal ONLY for a serve that outlived the window:
                // the epoch it resolved must now be behind the horizon
                val myV = layout.substring(layout.lastIndexOf('l') + 1).toInt
                val layoutsNow = OccCommitLog.readTriples(hfs, logDir)
                  .filter(_._2 == "layout").map(_._1).sorted
                val horizon = layoutsNow.takeRight(retain).head
                assert(myV < horizon,
                  s"a serve INSIDE the retention window planned a " +
                    s"reclaimed file: epoch $myV, horizon $horizon")
            }
          }
          Thread.sleep(10)
        }
      },
    ))
    assert(serves.get() > 0, "the reader never got a serve in — no race happened")
    val log = OccCommitLog.read(hfs, logDir)
    assert(log.size == nLayouts, s"commits lost under the race: ${log.size}")
    // drain the remaining history: only the newest layout survives
    OccCommitLog.vacuum(hfs, logDir, root, retainLayouts = 1)
      .foreach(reclaimedAll.add)
    import scala.jdk.CollectionConverters._
    val gone = reclaimedAll.asScala.toSeq.sorted
    assert(gone == (0 until nLayouts - 1).map(i => s"$root/art/l$i").sorted,
      s"vacuum must have reclaimed exactly the superseded layouts: $gone")
    assert(fs(root).exists(new Path(s"$root/art/l${nLayouts - 1}")),
      "the head layout must survive every vacuum")
    // an as-of read into a reclaimed epoch fails at PLANNING, with the
    // log's history rows still enumerable
    val (oldLayout, _) = PipelineQueries.resolveAsOf(
      OccCommitLog.readTriples(hfs, logDir), 0, logDir)
    intercept[Exception] { sp.read.parquet(oldLayout).count() }
    // idempotence: nothing left to reclaim
    assert(OccCommitLog.vacuum(hfs, logDir, root, retainLayouts = 1).isEmpty)
  }

  test("transact: a stale fold can never land; re-derivation folds the interloper") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    val root = freshRoot("occspec7")
    val logDir = s"$root/log"
    val hfs = fs(root)
    def delta(name: String, ids: Seq[Long]): String = {
      val p = s"$root/$name"
      ids.toDF("doc_id").coalesce(1).write.mode("overwrite").parquet(p)
      p
    }
    OccCommitLog.commit(hfs, logDir, "insert", delta("d0", Seq(0L, 1L)))
    OccCommitLog.commit(hfs, logDir, "insert", delta("d1", Seq(2L, 3L)))
    // a STALE optimizer: derives its fold from the log as of v1...
    val staleRead = OccCommitLog.read(hfs, logDir)
    assert(staleRead.last.version == 1)
    val staleOut = s"$root/opt-stale"
    sp.read.parquet(staleRead.map(_.path).toIndexedSeq: _*)
      .write.mode("overwrite").parquet(staleOut)
    // ...but an interloping insert lands between its read and publish
    OccCommitLog.commit(hfs, logDir, "insert", delta("d2", Seq(4L, 5L)))
    // the stale publish AT THE READ TAIL must lose — this is the whole
    // validation: had it landed (as a blind `commit` retry would), the
    // head would silently lose d2's rows
    assert(!OccCommitLog.tryCommit(hfs, logDir, 2, "optimize", staleOut),
      "a stale fold landed over an interloping commit")
    // transact re-derives from the fresh log: the fold includes d2
    val v = OccCommitLog.transact(hfs, logDir) { log =>
      val pending = log.filter(_.kind == "insert").map(_.path)
      val out = s"$root/opt-fresh"
      sp.read.parquet(pending.toIndexedSeq: _*)
        .write.mode("overwrite").parquet(out)
      Some(("optimize", out, None))
    }
    assert(v.contains(3), s"the validated fold must win the next version: $v")
    val head = OccCommitLog.read(hfs, logDir)
      .filter(_.kind == "optimize").maxBy(_.version)
    assert(sp.read.parquet(head.path).select(col("doc_id"))
      .as[Long].collect().sorted.toSeq == (0L to 5L),
      "the validated head must carry every insert including the interloper")
    // and a transact with nothing to do commits nothing
    assert(OccCommitLog.transact(hfs, logDir) { _ => None }.isEmpty)
    assert(OccCommitLog.read(hfs, logDir).size == 4)
  }
}
