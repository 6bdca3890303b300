package graft.operators

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}

/** Optimistic-concurrency commit log: file-per-version commits claimed
  * by an atomic PUT-IF-ABSENT, the Delta/Iceberg core protocol
  * (Armbrust et al., "Delta Lake: High-Performance ACID Table Storage
  * over Cloud Object Stores", VLDB '20 — the `_delta_log/N.json`
  * mutual-exclusion trick; Iceberg's atomic metadata-pointer swap is
  * the same contract). It is the repo's one commit-log format: the
  * staged single-writer logs (a40/a41/p28/p30, p33, p34/p36/p39/p40/p42)
  * commit through it the same way the racing writers do (p31/p35/p37,
  * s44), because a 100-TB deployment has a continuous ingest writer, a
  * compaction daemon and a scheduled vacuum racing on ONE table. The
  * log directory itself is the arbiter:
  *
  *   - a commit is ONE file named `%08d.commit` whose content is the
  *     commit body (kind TAB path, plus an optional writer-transaction
  *     identity — see below) — versions are dense integers, so the
  *     committed prefix is always contiguous and "the table at
  *     version v" is well-defined;
  *   - a writer claims version v by publishing the file atomically
  *     if-absent: exactly one contender wins, losers get a conflict
  *     and RETRY at the new tail (blind retry is correct for
  *     commutative commits — segment appends, tombstone lists; a
  *     non-commutative writer would re-validate its read set first,
  *     which is Delta's conflict-resolution layer, not needed by any
  *     caller here);
  *   - readers LIST the directory and parse names — a metadata-scale
  *     operation, one file per commit, no data bytes;
  *   - a commit may carry a WRITER-TRANSACTION identity `(appId,
  *     txnVersion)` — Delta's `txn` (SetTransaction) action, the
  *     exactly-once contract for checkpoint-replayed streaming
  *     writers: a writer that already committed `(app, v)` and is
  *     replayed from its checkpoint finds its own txn in the log and
  *     SKIPS instead of double-committing. This is the one idempotence
  *     mechanism production has; the repo's batch-id-keyed landing
  *     ledgers are the file-level half of the same discipline.
  *
  * The put-if-absent primitive per filesystem: on `file:` the local
  * rename(2) would silently OVERWRITE, so the claim is a hard
  * `Files.createLink` instead — POSIX link(2) is atomic and fails
  * with EEXIST, giving the one-winner guarantee with the content
  * already fully present at publish time. On HDFS-like stores the
  * content is written to a hidden temp file and `rename`d — atomic in
  * the namespace and FAILING when the destination exists, which is
  * exactly the claim semantics; that holds only for an ALLOWLIST of
  * schemes (hdfs/viewfs/webhdfs). On everything else — S3-style
  * object stores, where rename is copy+delete and silently REPLACES
  * the destination, so two racing writers would both "win" — the
  * publish throws UnsupportedOperationException instead of silently
  * degrading: those stores need an external put-if-absent service
  * (Delta's LogStore boundary), documented, not papered over. */
object OccCommitLog {

  /** One committed action. `kind` and `path` name what the action
    * records: index logs speak layout/tombstones (resolved by
    * [[graft.queries.PipelineQueries.resolveAsOf]]), table logs speak
    * insert/delete/snapshot/optimize/meta. `txnApp`/`txnVersion`, when
    * present, are the committing writer's transaction identity
    * (Delta's `txn` action): the log remembers the highest txnVersion
    * each appId has applied, and a replayed commit at or below it is
    * skipped. `meta` holds the action's `key=value` tokens: a
    * `schema`, per-file stats (`min_id`, `max_id`, `min_chars`,
    * `max_chars`, a base64 `bloom`), a `ts`, or a snapshot's `asof`. */
  final case class Commit(version: Int, kind: String, path: String,
      txnApp: Option[String] = None, txnVersion: Option[Long] = None,
      meta: Map[String, String] = Map.empty)

  private def commitFile(logDir: String, v: Int): Path =
    new Path(logDir, f"$v%08d.commit")

  /** Commit body serialization: one `kind TAB path [TAB app TAB
    * txnVer] [TAB key=value]*` line PER ACTION — a commit may carry
    * several actions that become visible ATOMICALLY at its version
    * (Delta's multi-action commit, the property that makes UPDATE
    * possible: a delete list and its replacement delta must land
    * together or not at all — two separate versions would expose the
    * torn intermediate state to any reader between them). The version
    * file is published whole via put-if-absent, so readers see all
    * actions or none. The writer-txn identity rides on the first
    * line; an action's trailing `key=value` tokens are its METADATA —
    * Delta's `add.stats` slot, how per-file statistics ride the
    * commit itself so data skipping costs one log read and zero
    * footers. Tabs are the field separator and `=` marks a metadata
    * token, so kind/path/app may contain neither tab nor `=`
    * (enforced at publish), and the txn pair always precedes the
    * metadata — parsing is unambiguous against pre-meta logs. */
  private def body(actions: Seq[(String, String, Map[String, String])],
      txn: Option[(String, Long)]): String =
    actions.zipWithIndex.map { case ((kind, path, meta), i) =>
      val txnPart = txn.filter(_ => i == 0)
        .map { case (app, v) => s"\t$app\t$v" }.getOrElse("")
      val metaPart = meta.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\t$k=$v" }.mkString
      s"$kind\t$path$txnPart$metaPart\n"
    }.mkString

  private def parseBody(v: Int, line: String): Commit = {
    val t = line.split("\t")
    if (t.length < 2) throw new IllegalStateException(
      s"unparseable commit body at version $v: ${t.mkString("|")}")
    val rest = t.drop(2).toSeq
    val (txn, kvs) =
      if (rest.nonEmpty && !rest.head.contains("=")) {
        if (rest.length < 2) throw new IllegalStateException(
          s"dangling txn field at version $v: ${t.mkString("|")}")
        (Some((rest(0), rest(1).toLong)), rest.drop(2))
      } else (None, rest)
    val meta = kvs.map { kv =>
      val i = kv.indexOf('=')
      if (i <= 0) throw new IllegalStateException(
        s"unparseable metadata token '$kv' at version $v")
      (kv.take(i), kv.drop(i + 1))
    }.toMap
    Commit(v, t(0), t(1), txn.map(_._1), txn.map(_._2), meta)
  }

  /** The committed log, parsed from the directory listing: one read
    * per commit FILE (bytes: one line each), no data bytes. Returns
    * commits sorted by version. Density is the protocol invariant
    * (version v is only ever claimed after v−1 is visible), but a
    * LISTING taken while a publish lands can transiently surface v
    * without v−1 (directory iteration order is not insertion order),
    * so a gap triggers a bounded re-list — exponential backoff up to
    * ~1 s total, wide enough that a GC pause or a slow filesystem
    * during a concurrent publish/cleanup cannot make a healthy reader
    * call corruption — before it is treated as the corruption it
    * would then actually be. */
  def read(fs: FileSystem, logDir: String): Seq[Commit] = {
    def slurp(p: Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    def listOnce(): Seq[Commit] = {
      val dir = new Path(logDir)
      if (!fs.exists(dir)) return Seq.empty
      val entries = fs.listStatus(dir).toSeq.filter(_.isFile)
      // newest checkpoint wins; commits at or before it read from the
      // ONE checkpoint file (Delta's N.checkpoint pattern: the log
      // read is O(commits since last checkpoint), and cleanLog may
      // have reclaimed the individual files it folded in)
      val cpVersions = entries.map(_.getPath.getName)
        .filter(_.endsWith(".checkpoint"))
        .map(_.stripSuffix(".checkpoint").toInt)
      val base = cpVersions.maxOption.toSeq.flatMap { cv =>
        slurp(new Path(logDir, f"$cv%08d.checkpoint"))
          .split("\n").toSeq.filter(_.nonEmpty).map { line =>
            val Array(v, rest) = line.split("\t", 2)
            parseBody(v.toInt, rest)
          }
      }
      val cpHead = base.map(_.version).maxOption.getOrElse(-1)
      val tail = entries
        .filter(st => st.getPath.getName.endsWith(".commit") &&
          st.getPath.getName.stripSuffix(".commit").toInt > cpHead)
        .flatMap { st =>
          val v = st.getPath.getName.stripSuffix(".commit").toInt
          // one line per ACTION — all of a version's actions parse
          // from its one atomically-published file
          slurp(st.getPath).split("\n").toSeq.filter(_.nonEmpty)
            .map(parseBody(v, _))
        }
      (base ++ tail).sortBy(_.version)
    }
    // a listing can race a concurrent publish (gap) or a concurrent
    // cleanLog (a listed commit file deleted before it is opened —
    // surfacing as FileNotFound); both are transient — backed-off
    // re-list before calling corruption. An empty log is a fresh log.
    def listTolerant(): Option[Seq[Commit]] =
      try Some(listOnce())
      catch { case _: java.io.FileNotFoundException => None }
    def dense(cs: Seq[Commit]): Boolean = {
      // density is over VERSIONS; a version may carry several actions
      val vs = cs.map(_.version).distinct.sorted
      vs == (0 until vs.size)
    }
    var commits = listTolerant()
    var backoffMs = 2L
    while (!commits.exists(dense) && backoffMs <= 512L) {
      Thread.sleep(backoffMs) // let the in-flight publish/cleanup settle
      backoffMs *= 2 // 2,4,…,512 ms ≈ 1 s total budget
      commits = listTolerant()
    }
    val out = commits.getOrElse(
      throw new IllegalStateException(
        s"commit log $logDir kept vanishing underneath its readers"))
    require(dense(out),
      s"commit log $logDir has a version gap (${out.map(_.version)}) — " +
        "a commit was lost or published outside the protocol")
    out
  }

  /** The log as the (version, kind, path) triples the as-of, vacuum
    * and change-feed rules speak. A `snapshot` action (a data
    * checkpoint) reads at the version in its `asof` token: a
    * checkpoint of an older version is committed at the log's tail,
    * because a version is never claimed twice, yet it folds exactly
    * the commits at or before `asof`. Without the token a snapshot
    * keeps its commit version. An `asof` that is not an integer, or
    * that names a version after its own commit, is a damaged log and
    * fails naming the commit. */
  def readTriples(fs: FileSystem, logDir: String): Seq[(Int, String, String)] =
    read(fs, logDir).map { c =>
      val v = c.meta.get("asof").filter(_ => c.kind == "snapshot").map { a =>
        val asOf = a.toIntOption.getOrElse(throw new IllegalStateException(
          s"snapshot at version ${c.version} in $logDir has a non-integer asof '$a'"))
        if (asOf > c.version) throw new IllegalStateException(
          s"snapshot at version ${c.version} in $logDir claims asof=$asOf, " +
            "a version after its own commit")
        asOf
      }
      (v.getOrElse(c.version), c.kind, c.path)
    }

  /** The highest txnVersion `appId` has committed to this log, if any
    * — what a checkpoint-replayed writer consults to skip work it
    * already published (Delta's `txn` readback). */
  def txnVersion(fs: FileSystem, logDir: String, appId: String): Option[Long] =
    txnVersionIn(read(fs, logDir), appId)

  private def txnVersionIn(log: Seq[Commit], appId: String): Option[Long] =
    log.filter(_.txnApp.contains(appId)).flatMap(_.txnVersion).maxOption

  /** Schemes whose `FileSystem.rename` is atomic in the namespace AND
    * fails when the destination exists — the two properties the claim
    * needs. Object stores (s3a/gcs/abfs/…) have neither: rename is a
    * copy that silently replaces, so two racing writers would both
    * "win" and the later one would overwrite the earlier commit — the
    * exact failure the protocol exists to prevent. Those need an
    * external put-if-absent service (Delta's LogStore boundary). */
  private val AtomicRenameSchemes = Set("hdfs", "viewfs", "webhdfs")

  /** The atomic PUT-IF-ABSENT publish both file kinds share: write the
    * full content to a hidden temp, then claim the destination name —
    * exactly one contender wins, and on both filesystem paths the
    * content is durable before the claim becomes visible (rename
    * publishes a fully written temp file; link publishes a fully
    * written inode), so readers never observe a partial file. Throws
    * UnsupportedOperationException on filesystems with no atomic
    * fail-if-present primitive rather than silently degrading. */
  private def putIfAbsent(fs: FileSystem, logDir: String, dst: Path,
      content: String): Boolean = {
    // qualify ONCE and derive both the scheme branch and the local
    // paths from it, so a relative logDir resolves against the Hadoop
    // working directory, never the JVM cwd
    val qualified = fs.makeQualified(dst)
    val scheme = qualified.toUri.getScheme
    val isLocal = scheme == null || scheme == "file"
    if (!isLocal && !AtomicRenameSchemes.contains(scheme))
      throw new UnsupportedOperationException(
        s"commit log on scheme '$scheme' has no atomic put-if-absent: " +
          "rename there overwrites an existing destination, so racing " +
          "writers would silently lose commits — use a store with " +
          "atomic fail-if-present rename (hdfs/viewfs/webhdfs), the " +
          "local FS, or an external LogStore-style coordination service")
    if (fs.exists(dst)) return false // cheap pre-check; the claim below is the arbiter
    fs.mkdirs(new Path(logDir))
    val tmp = new Path(logDir,
      s".tmp-${java.util.UUID.randomUUID().toString}")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val won =
      if (isLocal) {
        // local rename(2) overwrites — claim with link(2) instead
        val dstNio = java.nio.file.Paths.get(qualified.toUri.getPath)
        val tmpNio = java.nio.file.Paths.get(
          fs.makeQualified(tmp).toUri.getPath)
        try { java.nio.file.Files.createLink(dstNio, tmpNio); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else fs.rename(tmp, dst) // allowlisted: atomic, fails if dst exists
    if (fs.exists(tmp)) fs.delete(tmp, false)
    won
  }

  /** One optimistic attempt to claim `version`: true iff THIS caller
    * published it. */
  def tryCommit(fs: FileSystem, logDir: String, version: Int,
      kind: String, path: String,
      txn: Option[(String, Long)] = None): Boolean =
    tryCommitActions(fs, logDir, version, Seq((kind, path)), txn)

  /** The multi-action claim: every action becomes visible atomically
    * at `version` or not at all — the version file is one
    * put-if-absent publish. */
  def tryCommitActions(fs: FileSystem, logDir: String, version: Int,
      actions: Seq[(String, String)],
      txn: Option[(String, Long)] = None): Boolean =
    tryCommitActionsMeta(fs, logDir, version,
      actions.map { case (k, p) => (k, p, Map.empty[String, String]) }, txn)

  /** [[tryCommitActions]] with per-action metadata (see [[body]]). */
  def tryCommitActionsMeta(fs: FileSystem, logDir: String, version: Int,
      actions: Seq[(String, String, Map[String, String])],
      txn: Option[(String, Long)] = None): Boolean = {
    require(actions.nonEmpty, "a commit carries at least one action")
    (actions.flatMap(a => Seq(a._1, a._2)) ++ txn.map(_._1)).foreach(f =>
      require(!f.contains("\t") && !f.contains("\n"),
        s"commit fields are tab-separated lines — '$f' breaks that"))
    // kind and path sit at fixed positions; only the txn app, which
    // shares the variable tail with metadata tokens, must be =-free
    txn.map(_._1).foreach(app => require(!app.contains("="),
      s"txn appId '$app' may not contain '=' — it would parse as metadata"))
    actions.flatMap(_._3).foreach { case (k, v) =>
      require(k.nonEmpty && !k.contains("=") &&
        Seq(k, v).forall(s => !s.contains("\t") && !s.contains("\n")),
        s"metadata rides as tab-separated key=value tokens — '$k'='$v' breaks that")
    }
    putIfAbsent(fs, logDir, commitFile(logDir, version), body(actions, txn))
  }

  /** Commit `kind`/`path` at the log's tail, retrying on conflict: read
    * the current tail, attempt tail+1, and on losing the race re-read
    * and go again (correct because every caller's commits commute —
    * appends and tombstone lists are set-valued). Returns the version
    * won. `maxAttempts` bounds pathological contention; in practice a
    * loser converges in one re-read because each conflict means
    * somebody else MADE progress — the lock-free argument.
    *
    * With `txn = Some((appId, txnVersion))` the commit is idempotent
    * under replay (Delta's `txn` action): if the log already carries a
    * commit by `appId` at txnVersion ≥ this one, the write is SKIPPED
    * and the existing commit's version returned — the exactly-once
    * contract for a streaming writer restarted from its checkpoint,
    * which would otherwise re-run its foreachBatch and double-commit.
    * The skip check runs inside the retry loop, so two racing replicas
    * of the SAME writer collapse to one commit: the loser's re-read
    * sees the winner's txn and skips. */
  def commit(fs: FileSystem, logDir: String, kind: String, path: String,
      txn: Option[(String, Long)] = None, maxAttempts: Int = 1000): Int =
    commitActionsMeta(fs, logDir, Seq((kind, path, Map.empty[String, String])),
      txn, maxAttempts)

  /** [[commit]] with action metadata — how a stats-carrying writer
    * lands its delta: the per-file statistics ride the commit line
    * itself (Delta's `add.stats`), so a later reader prunes from the
    * log read alone. */
  def commitMeta(fs: FileSystem, logDir: String, kind: String, path: String,
      meta: Map[String, String], txn: Option[(String, Long)] = None,
      maxAttempts: Int = 1000): Int =
    commitActionsMeta(fs, logDir, Seq((kind, path, meta)), txn, maxAttempts)

  /** [[commit]]'s multi-action form — an UPDATE's delete list and
    * replacement delta commit as ONE version (see [[body]]). */
  def commitActions(fs: FileSystem, logDir: String,
      actions: Seq[(String, String)], txn: Option[(String, Long)] = None,
      maxAttempts: Int = 1000): Int =
    commitActionsMeta(fs, logDir,
      actions.map { case (k, p) => (k, p, Map.empty[String, String]) },
      txn, maxAttempts)

  /** [[commitActions]] with per-action metadata. */
  def commitActionsMeta(fs: FileSystem, logDir: String,
      actions: Seq[(String, String, Map[String, String])],
      txn: Option[(String, Long)] = None,
      maxAttempts: Int = 1000): Int = {
    var attempts = 0
    while (attempts < maxAttempts) {
      val log = read(fs, logDir)
      val already = txn.flatMap { case (app, txnV) =>
        val mine = log.filter(_.txnApp.contains(app))
        // prefer the commit carrying EXACTLY this txnVersion (the
        // replayed batch's own landing) over any newer one, so every
        // replica of a replayed batch resolves to one version
        mine.filter(_.txnVersion.contains(txnV)).map(_.version).maxOption
          .orElse(mine.filter(_.txnVersion.exists(_ >= txnV))
            .map(_.version).maxOption)
      }
      already match {
        case Some(v) => return v // this writer already applied ≥ txnV
        case None =>
          val next = log.lastOption.map(_.version + 1).getOrElse(0)
          if (tryCommitActionsMeta(fs, logDir, next, actions, txn)) return next
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"could not commit to $logDir after $maxAttempts attempts")
  }

  /** One VALIDATED optimistic transaction — the conflict layer
    * [[commit]]'s blind retry deliberately lacks (Delta's
    * OptimisticTransaction / ConcurrentModificationException, public):
    * blind retry-at-tail is correct ONLY for commutative commits
    * (appends, set-valued tombstone lists). A NON-commutative writer —
    * a compaction that folds the segments it READ — must not land a
    * commit derived from a stale log: two racing OPTIMIZE daemons that
    * both read {d0, d1}, then interleave with a fresh insert d2, would
    * otherwise publish a fold that silently LOSES d2 from the head
    * (the lost-update anomaly). Here the transaction re-derives its
    * commit from a fresh read on every attempt and publishes with
    * [[tryCommit]] AT THE READ TAIL — so the claim succeeds only if
    * the log has not moved between read and publish, which makes the
    * read set trivially valid. On conflict the body runs again on the
    * new log (re-derivation is the universally correct conflict
    * resolution; Delta's per-operation rules — AppendOnly commutes
    * past appends etc. — are optimizations of it, not alternatives).
    * The body returns None to declare there is nothing left to do
    * (e.g. the race's winner already folded everything), which ends
    * the transaction without a commit; a body that stages artifacts
    * should overwrite or clean its previous attempt's staging — the
    * log only ever names the attempt that won. */
  def transact(fs: FileSystem, logDir: String, maxAttempts: Int = 1000)(
      body: Seq[Commit] => Option[(String, String, Option[(String, Long)])])
      : Option[Int] = {
    var attempts = 0
    while (attempts < maxAttempts) {
      val log = read(fs, logDir)
      body(log) match {
        case None => return None
        case Some((kind, path, txn)) =>
          val next = log.lastOption.map(_.version + 1).getOrElse(0)
          if (tryCommit(fs, logDir, next, kind, path, txn)) return Some(next)
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"could not transact on $logDir after $maxAttempts attempts")
  }

  /** CHECKPOINT the log at its current tail (Delta's `N.checkpoint`
    * compaction, public): one `%08d.checkpoint` file holding every
    * commit ≤ the tail — txn identities included, so replay dedup
    * survives compaction — so a reader's cost becomes O(commits since
    * the last checkpoint) instead of O(all commits) — at one commit
    * per ingest batch a year-old table's log is millions of files
    * without this, and the DIRECTORY LISTING becomes the read
    * bottleneck long before any data does. The checkpoint is derived
    * data (identical content from any writer at the same version),
    * published through the same put-if-absent primitive as commits, so
    * concurrent checkpointers collapse to one file and a half-written
    * checkpoint is never visible. Returns the checkpointed version,
    * None on an empty log. */
  def checkpoint(fs: FileSystem, logDir: String): Option[Int] = {
    val log = read(fs, logDir)
    log.lastOption.map { tail =>
      val content = log.map(c =>
        s"${c.version}\t${body(Seq((c.kind, c.path, c.meta)),
          c.txnApp.zip(c.txnVersion)).stripSuffix("\n")}")
        .mkString("", "\n", "\n")
      putIfAbsent(fs, logDir,
        new Path(logDir, f"${tail.version}%08d.checkpoint"), content)
      tail.version
    }
  }

  /** LOG CLEANUP: physically delete every commit FILE already folded
    * into the newest checkpoint (Delta's log-retention expiry — the
    * knob that bounds the log's FILE COUNT the way vacuum bounds the
    * table's data bytes; history is still fully enumerable, now from
    * the checkpoint), and every SUPERSEDED checkpoint file (one older
    * than the newest — fully subsumed by it, Delta's checkpoint
    * expiry; without this a long-lived log accumulates O(n/interval)
    * checkpoints of O(n) bytes each, O(n²) storage). Commits after the
    * newest checkpoint are never touched; a log with no checkpoint is
    * left whole. Idempotent. Returns the COMMIT versions whose files
    * were reclaimed this call. */
  def cleanLog(fs: FileSystem, logDir: String): Seq[Int] = {
    val dir = new Path(logDir)
    if (!fs.exists(dir)) return Seq.empty
    val names = fs.listStatus(dir).toSeq.filter(_.isFile)
      .map(_.getPath.getName)
    val newestCp = names.filter(_.endsWith(".checkpoint"))
      .map(_.stripSuffix(".checkpoint").toInt).maxOption
    newestCp.toSeq.flatMap { cv =>
      // superseded checkpoints first: readers that already listed an
      // old one and race this delete re-list (FileNotFound tolerance)
      names.filter(_.endsWith(".checkpoint"))
        .map(_.stripSuffix(".checkpoint").toInt)
        .filter(_ < cv)
        .foreach(v =>
          fs.delete(new Path(logDir, f"$v%08d.checkpoint"), false))
      names.filter(_.endsWith(".commit"))
        .map(_.stripSuffix(".commit").toInt)
        .filter(_ <= cv).sorted
        .filter(v => fs.delete(commitFile(logDir, v), false))
    }
  }

  /** VACUUM over an OCC log whose artifacts it OWNS: physically delete
    * every artifact directory superseded by the retention horizon (the
    * `retainLayouts`-th newest layout commit — p28's epoch-window rule
    * on the concurrent log). The commit FILES stay: history remains
    * enumerable, an as-of read into a reclaimed epoch fails at
    * planning. Safe to run WHILE writers append and readers serve:
    * vacuum reads one log snapshot and deletes only commits strictly
    * older than the horizon in that snapshot, so any reader serving at
    * a version ≥ its own snapshot's horizon never plans a reclaimed
    * file — the retention window is the contract that in-flight serves
    * finish before their epoch ages past it (Delta's
    * VACUUM-beyond-retention reasoning, in epochs instead of hours).
    * A path named by BOTH a reclaimed commit and a retained one (a
    * layout re-published after a rollback) is LIVE and never deleted —
    * liveness is set membership over the retained commits, not the
    * version of the oldest commit naming the path. Ownership guard as
    * p28: every commit path must live under the log's stage,
    * separator-checked. Idempotent. Returns reclaimed paths. */
  def vacuum(fs: FileSystem, logDir: String, ownedRoot: String,
      retainLayouts: Int = 1): Seq[String] = {
    require(retainLayouts >= 1, "retention must keep at least the newest layout")
    val log = read(fs, logDir)
    val owned = ownedRoot.stripSuffix("/") + "/"
    require(log.forall(_.path.startsWith(owned)),
      s"refusing to vacuum a log with commits it does not own " +
        s"(root=$ownedRoot, foreign=${log.filterNot(_.path.startsWith(owned)).map(_.path)})")
    val layoutVersions = log.filter(_.kind == "layout").map(_.version)
    if (layoutVersions.isEmpty) return Seq.empty
    val keepFrom = layoutVersions.sorted(Ordering[Int].reverse)
      .take(retainLayouts).last
    val live = log.filter(_.version >= keepFrom).map(_.path).toSet
    log.filter(_.version < keepFrom).map(_.path).sorted.distinct
      .filterNot(live).flatMap { p =>
        val root = new Path(p)
        if (fs.exists(root)) { fs.delete(root, true); Some(root.toString) }
        else None
      }
  }
}
