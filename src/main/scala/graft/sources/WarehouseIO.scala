package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Warehouse metadata IO, routed through the Hadoop [[FileSystem]] API so
  * the snapshot log, manifests, and commit file moves work against any
  * Hadoop-resolvable warehouse (local, HDFS, s3a, …), not just
  * `java.nio`'s local filesystem. Every operation here is bounded
  * metadata: small log files, single-file renames, and directory listings
  * scoped to what the caller just wrote — never a data scan.
  *
  * The resolved filesystem comes from the active session's Hadoop conf
  * (so `fs.*` settings like credentials apply); outside a session the
  * default [[Configuration]] still resolves local paths, which keeps
  * sink construction session-free.
  */
private[graft] object WarehouseIO {

  /** Metadata bytes written through the string writers since process
    * start (monotonic; test hook). Commit-cost specs diff it around one
    * commit to PROVE the metadata write is O(added files + manifest
    * count), not O(table file count). */
  private[graft] val metaBytesWritten =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Directory listings ([[childNames]]/[[childDirNames]]) since process
    * start (monotonic; test/attribution hook): the SQL door's
    * per-statement metadata cost is dominated by listings + small-file
    * reads, and split harnesses diff these around a statement to
    * attribute it. */
  private[graft] val dirListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Small metadata-file READS ([[readString]]) since process start
    * (monotonic; attribution hook, same purpose as [[dirListings]]). */
  private[graft] val metaReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  // newHadoopConf() CLONES the full Configuration (hundreds of entries)
  // per call, and the metadata hot paths here issue dozens of calls per
  // table read/commit — cache one conf per live session. WEAK keys: a
  // stopped/discarded session (per-job sessions in a long-lived driver)
  // must not pin its cloned Configuration forever. Trade-off, on
  // purpose: `spark.hadoop.fs.*` settings are snapshotted at a session's
  // FIRST warehouse operation — set credentials before touching tables
  // (the same moment Spark's own FileSystem cache fixes them anyway).
  private val confCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Configuration]())

  private def conf: Configuration =
    SparkSession.getActiveSession
      .map(s => confCache.computeIfAbsent(s, _.sessionState.newHadoopConf()))
      .getOrElse(new Configuration())

  def fs(p: HPath): FileSystem = p.getFileSystem(conf)

  def exists(p: HPath): Boolean = fs(p).exists(p)

  def isFile(p: HPath): Boolean = {
    val f = fs(p)
    f.exists(p) && f.getFileStatus(p).isFile
  }

  def isDir(p: HPath): Boolean = {
    val f = fs(p)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }

  def readString(p: HPath): String = {
    metaReads.incrementAndGet()
    val in = fs(p).open(p)
    try new String(in.readAllBytes(), UTF_8)
    finally in.close()
  }

  /** Create-or-overwrite `p` with `s` (parent dirs created). NOT safe for
    * durable state another process may read mid-write — a bare create is
    * visible before its bytes land; use [[writeStringAtomic]] there. */
  def writeString(p: HPath, s: String): Unit = {
    metaBytesWritten.addAndGet(s.length.toLong)
    val f = fs(p)
    Option(p.getParent).foreach(f.mkdirs)
    val out = f.create(p, true)
    try out.write(s.getBytes(UTF_8))
    finally out.close()
  }

  /** Atomic overwrite: write beside `p` as a hidden temp, then move into
    * place, REPLACING any existing file — readers observe either the old
    * complete content or the new complete content, never a partial or
    * empty file. The durable-cursor primitive (changelog cursors, small
    * state markers): a crash mid-commit must replay the old cursor, not
    * corrupt it. Local FS uses an ATOMIC_MOVE rename(2) (which replaces);
    * HDFS-class stores delete-then-rename — the delete window can lose
    * the OLD value to a concurrent reader (who then sees absent, a safe
    * "restart" signal for cursors), never expose a torn one. */
  def writeStringAtomic(p: HPath, s: String): Unit = {
    metaBytesWritten.addAndGet(s.length.toLong)
    val f = fs(p)
    Option(p.getParent).foreach(f.mkdirs)
    val tmp = new HPath(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(s.getBytes(UTF_8))
    finally out.close()
    if (f.getScheme == "file") {
      java.nio.file.Files.move(
        new java.io.File(tmp.toUri.getPath).toPath,
        new java.io.File(p.toUri.getPath).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      f.delete(tmp, false) // checksum sidecar of the temp, if any
      // the raw-file move bypassed the checksum layer: a destination that
      // was ORIGINALLY written through f.create (writeString) still has
      // its old .crc sidecar, which now mismatches — drop it or the next
      // read throws ChecksumException
      val crc = new HPath(p.getParent, s".${p.getName}.crc")
      if (f.exists(crc)) f.delete(crc, false)
      ()
    } else {
      if (f.exists(p)) f.delete(p, false)
      require(f.rename(tmp, p), s"filesystem refused rename $tmp -> $p")
    }
  }

  /** EXCLUSIVE publish: write `s` beside `p` as a hidden temp file, then
    * atomically rename into place — fails (false) when `p` already
    * exists. This is the optimistic-commit primitive, and the
    * write-then-rename shape matters twice: rename is an atomic
    * namespace operation that refuses an existing destination (two
    * racing committers see exactly one winner, the loser re-reads the
    * head and retries), AND readers can never observe a half-written
    * manifest — a bare exclusive `create` is visible before its bytes
    * land (measured: EOFException in a racing reader on the local FS).
    * Same protocol as Iceberg's HadoopTableOperations version-file
    * commit. */
  def writeStringIfAbsent(p: HPath, s: String): Boolean = {
    metaBytesWritten.addAndGet(s.length.toLong)
    val f = fs(p)
    Option(p.getParent).foreach(f.mkdirs)
    if (f.exists(p)) return false // cheap fast-path; the claim below decides
    val tmp = new HPath(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(s.getBytes(UTF_8))
    finally out.close()
    val won =
      if (f.getScheme == "file") {
        // RawLocalFileSystem.rename delegates to rename(2), which silently
        // REPLACES an existing destination — on the local FS it is NOT a
        // claim, and two racing committers could both "win". Hard-link
        // creation IS atomic-fail-if-exists on POSIX, so the local claim
        // goes through createLink; the linked content is already complete,
        // so readers still never see a partial manifest.
        val lp = new java.io.File(p.toUri.getPath).toPath
        val lt = new java.io.File(tmp.toUri.getPath).toPath
        try { java.nio.file.Files.createLink(lp, lt); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else f.rename(tmp, p) // HDFS-class: atomic namespace op, one winner
    f.delete(tmp, false) // tmp (and its checksum sidecar) always goes
    won
  }

  def mkdirs(p: HPath): Unit = { fs(p).mkdirs(p); () }

  /** The swap scratch siblings a table root `p` may own (rewrite tmp,
    * crash trash — dot-prefixed so listings and the SQL catalog never
    * mistake them for tables). One naming authority for [[TableSink]]'s
    * swap protocol and the catalog's DROP cleanup. */
  def scratchSiblings(p: HPath): Seq[HPath] =
    Seq("_pre_rewrite", "_rewriting", "_pre_compact", "_compacting",
        "_swap", "_swaplock").map {
      suffix =>
        val name = s".${p.getName}$suffix"
        Option(p.getParent).map(par => new HPath(par, name))
          .getOrElse(new HPath(name))
    }

  // ------------------------------------------------ whole-tree moves
  // The rewrite swap's building block. On local/HDFS-class stores a
  // directory rename is one atomic namespace op; on object stores it is
  // per-object copy+delete. The swap protocol (TableSink.executeSwap)
  // is marker-driven roll-forward, so it stays correct either way — the
  // seam below lets specs RUN the per-file regime and crash it at every
  // step.

  /** Test seam: simulate object-store directory-move semantics — moves
    * happen one file at a time (resumable, never atomic), with
    * [[swapStepHook]] fired before each step for crash injection. */
  private[graft] var nonAtomicDirMoves: Boolean = false

  /** Age after which the swap/heal mutex of a CRASHED holder may be
    * broken by a waiter (the live protocol deletes its lock in-band; only
    * a process death strands one). Production default trades a minute of
    * heal latency after a hard crash for never breaking a live holder's
    * lock mid-swap; specs shrink it to exercise the break path. */
  private[graft] var swapLockStaleMs: Long = 60000L

  /** Manifests younger than this are exempt from [[TableSink]]'s
    * unreferenced-manifest GC: an in-flight optimistic append writes its
    * delta manifest BEFORE claiming a version, and a concurrent
    * history-dropping op (branch drop, expiry) must not reap that
    * moments-old file and leave the about-to-land head dangling. Orphans
    * that age past the grace are reclaimed on the next GC pass. Specs
    * that assert exact on-disk ≡ referenced parity set this to 0. */
  private[graft] var manifestGcGraceMs: Long = 300000L

  /** Test seam: invoked at each swap step ("marker1", "movefile:<rel>",
    * "marker2", …); a spec throws from here to simulate a crash at an
    * exact point. No-op in production. */
  private[graft] var swapStepHook: String => Unit = _ => ()

  /** ALL files under `root` (metadata included — this is for whole-tree
    * moves, not data listings), root-relative. */
  private def listAllFilesRel(root: HPath): Seq[String] = {
    val f = fs(root)
    val q = f.makeQualified(root)
    if (!f.exists(q)) return Nil
    val rootStr = q.toString
    val it = f.listFiles(q, true)
    val out = Vector.newBuilder[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile)
        out += st.getPath.toString.stripPrefix(rootStr).stripPrefix("/")
    }
    out.result()
  }

  /** Move the whole tree at `src` to `dst` (no-op when `src` is absent).
    * Atomic-rename stores: one namespace op. Under [[nonAtomicDirMoves]]:
    * file-by-file renames, IDEMPOTENT on resume — a file already present
    * at the destination was moved by the crashed attempt, so its source
    * leftover (copy+delete semantics) is dropped, never re-moved. */
  def moveTree(src: HPath, dst: HPath,
      heartbeat: () => Unit = () => ()): Unit = {
    val f = fs(src)
    if (!f.exists(src)) return
    if (!nonAtomicDirMoves) {
      swapStepHook(s"movetree:${src.getName}")
      rename(src, dst)
      return
    }
    // per-file regime (object stores): a large tree's move can far
    // outlast any fixed stale threshold, so the caller's heartbeat runs
    // between steps to keep its mutex visibly live (self-throttled)
    listAllFilesRel(src).foreach { rel =>
      heartbeat()
      swapStepHook(s"movefile:$rel")
      val from = new HPath(src, rel)
      val to = new HPath(dst, rel)
      if (f.exists(to)) f.delete(from, false)
      else rename(from, to)
    }
    f.delete(src, true) // now-empty directory skeleton
    ()
  }

  /** Refresh `p`'s modification time — the swap-lock HEARTBEAT: a live
    * holder touches its lock between/during long move steps so the
    * waiters' mtime-based stale check never mistakes a LIVE lock for an
    * abandoned one, however large the tree being moved. */
  def touch(p: HPath): Unit = {
    fs(p).setTimes(p, System.currentTimeMillis(), -1); ()
  }

  /** Break a stale lock file SAFELY: rename it to a unique tombstone and
    * delete the tombstone. Rename admits exactly one winner on any store,
    * so two waiters racing to break the same stale lock can never
    * interleave as delete-then-reclaim-then-delete-the-fresh-lock (the
    * plain stale-check + delete was non-atomic: a slow breaker could
    * delete a NEW lock another waiter had just legitimately claimed).
    * Returns true when THIS caller performed the break. */
  def breakLock(p: HPath): Boolean = {
    val tomb = Option(p.getParent)
      .map(par => new HPath(par,
        s"${p.getName}.broken-${java.util.UUID.randomUUID().toString.take(8)}"))
      .getOrElse(new HPath(
        s"${p.getName}.broken-${java.util.UUID.randomUUID().toString.take(8)}"))
    val won = scala.util.Try(fs(p).rename(p, tomb)).getOrElse(false)
    if (won) scala.util.Try(fs(tomb).delete(tomb, false))
    won
  }

  def delete(p: HPath, recursive: Boolean = false): Boolean =
    fs(p).delete(p, recursive)

  /** Immediate child names of `dir` (empty when absent). */
  def childNames(dir: HPath): Seq[String] = {
    dirListings.incrementAndGet()
    val f = fs(dir)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
  }

  /** Immediate child DIRECTORY names of `dir` (empty when absent) — one
    * listing, no per-child stat round-trips. */
  def childDirNames(dir: HPath): Seq[String] = {
    dirListings.incrementAndGet()
    val f = fs(dir)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** First data file under `root` as a root-relative path — the lazy
    * counterpart of [[listDataFilesRel]] (same `_`/`.`-segment exclusion)
    * for format sniffing and existence checks: the recursive listing is a
    * remote ITERATOR, so the scan stops at the first hit instead of
    * materializing an O(files) listing. */
  def firstDataFileRel(root: HPath): Option[String] = {
    val f = fs(root)
    val q = f.makeQualified(root)
    if (!f.exists(q)) return None
    val rootStr = q.toString
    val it = f.listFiles(q, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) {
        val rel = st.getPath.toString.stripPrefix(rootStr).stripPrefix("/")
        val segs = rel.split('/')
        if (!segs.exists(s => s.startsWith("_") || s.startsWith(".")))
          return Some(rel)
      }
    }
    None
  }

  def modifiedAtMs(p: HPath): Long = fs(p).getFileStatus(p).getModificationTime

  def sizeOf(p: HPath): Long = fs(p).getFileStatus(p).getLen

  /** Total bytes of DATA files under `root` (same `_`/`.`-segment
    * exclusion as [[listDataFilesRel]]) — one lazy recursive listing, the
    * sizes taken from the listing's own statuses (no per-file stat
    * round-trips), nothing materialized. */
  def totalDataBytes(root: HPath): Long = {
    val f = fs(root)
    val q = f.makeQualified(root)
    if (!f.exists(q)) return 0L
    val rootStr = q.toString
    val it = f.listFiles(q, true)
    var sum = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) {
        val rel = st.getPath.toString.stripPrefix(rootStr).stripPrefix("/")
        if (!rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
          sum += st.getLen
      }
    }
    sum
  }

  /** Same-filesystem rename, creating the destination's parent; fails
    * loudly instead of silently dropping a file on a refused rename. */
  def rename(src: HPath, dst: HPath): Unit = {
    val f = fs(src)
    Option(dst.getParent).foreach(f.mkdirs)
    require(f.rename(src, dst), s"filesystem refused rename $src -> $dst")
  }

  // ------------------------------------------- layered snapshot format
  // Iceberg's manifest-list layering (reference README.md:95-105 places
  // the connector on exactly this commit model): a snapshot file
  // (`vNNNNN.list`) opens with the `#manifests` header, then carries
  // `#`-prefixed metadata lines (`#txn`, `#pos`, `#keys`, `#del`) and a
  // SMALL list of immutable manifest names; each manifest holds the
  // data-file paths ONE commit added. Commit metadata IO is therefore
  // O(added files + manifest count), never O(table files), and K
  // snapshots share manifests instead of storing K full copies. A
  // snapshot file without the header is refused, naming the file.

  /** First line of a layered (manifest-list) snapshot file. */
  val SnapshotHeader = "#manifests"

  /** Write an immutable manifest (one data-file path per line) into
    * `logDir`; returns its name. UUID-named: manifests are shared by
    * many snapshots and never keyed to one version. A line may carry
    * per-file column stats after a TAB (`path\tjson` — the Iceberg
    * manifest-entry stats idea); path-only readers strip them. */
  def writeManifest(logDir: HPath, files: Seq[String]): String =
    writeManifestLines(logDir, files)

  /** [[writeManifest]] accepting pre-rendered `path[\tstats]` lines. */
  def writeManifestLines(logDir: HPath, lines: Seq[String]): String = {
    val name = s"m-${java.util.UUID.randomUUID().toString.take(18)}.mf"
    writeString(new HPath(logDir, name), lines.mkString("\n"))
    name
  }

  /** The path of a manifest line (everything before the stats TAB). */
  def manifestLinePath(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }

  /** Raw `path[\tstats]` lines of manifest `name` — the merge/compaction
    * reader: folding manifests must PRESERVE stats entries, not strip
    * them to paths. */
  def manifestLinesOf(logDir: HPath, name: String): IndexedSeq[String] = {
    manifestContentReads.incrementAndGet()
    readString(new HPath(logDir, name))
      .split("\n").filter(_.nonEmpty).toIndexedSeq
  }

  /** Fold manifest lines from several manifests into one line per path:
    * a stats-bearing line beats a bare path (compaction must not lose
    * stats), and among stats-bearing duplicates the line from the LATER
    * chunk wins — explicitly by position, never by line length: a
    * refreshed stats entry can legitimately render SHORTER than the one
    * it supersedes (e.g. an analyze that dropped a registered column),
    * and "longer wins" would keep serving the stale bounds. */
  def mergeManifestLines(chunks: Seq[Seq[String]]): Seq[String] = {
    val byPath = scala.collection.mutable.LinkedHashMap.empty[String, String]
    chunks.foreach(_.foreach { line =>
      val p = manifestLinePath(line)
      val bare = line.indexOf('\t') < 0
      byPath.get(p) match {
        case Some(prev) if bare && prev.indexOf('\t') >= 0 =>
          () // a bare path never demotes an existing stats entry
        case _ => byPath(p) = line // later chunk wins otherwise
      }
    })
    byPath.toSeq.sortBy(_._1).map(_._2)
  }

  /** Render a layered snapshot pointing at `manifestNames`. Optional
    * `metadata` entries ride inside the snapshot file as `#`-prefixed
    * lines (atomic with the commit that claims it) — e.g. the streaming
    * transaction line `txn <streamId> <batchId>`. */
  def renderSnapshot(manifestNames: Seq[String],
      metadata: Seq[String] = Nil): String =
    (SnapshotHeader +: (metadata.map("#" + _) ++ manifestNames))
      .mkString("\n")

  /** The lines after the header of snapshot file `snapshotPath`; fails
    * naming the file when the `#manifests` header is missing. */
  private def snapshotLines(snapshotPath: HPath): IndexedSeq[String] = {
    val lines = readString(snapshotPath).split("\n").toIndexedSeq
    require(lines.headOption.contains(SnapshotHeader),
      s"snapshot file $snapshotPath has no $SnapshotHeader header")
    lines.tail
  }

  /** Manifest names of a snapshot file, in commit order. `#`-prefixed
    * metadata lines are not names. O(manifest count) read. */
  def snapshotManifestNames(snapshotPath: HPath): Seq[String] =
    snapshotLines(snapshotPath).filter(l => l.nonEmpty && !l.startsWith("#"))

  /** Stream ids default to checkpoint PATHS, which may contain spaces —
    * and the txn line is space-delimited inside a line-oriented snapshot
    * file, so a raw space would shift the batch-id token (every parse
    * returns None → replay dedup silently off → duplicates land) and a
    * raw newline would inject bogus manifest-name lines. Minimal escape
    * of exactly the structural characters: ids without them round-trip
    * byte-identical, so pre-encoding snapshots keep resolving. */
  def encodeTxnId(id: String): String = id
    .replace("%", "%25").replace(" ", "%20")
    .replace("\n", "%0A").replace("\r", "%0D")

  def decodeTxnId(id: String): String = id
    .replace("%0D", "\r").replace("%0A", "\n")
    .replace("%20", " ").replace("%25", "%")

  /** The `#txn <streamId> <batchId>` metadata line of a snapshot, if
    * any — the exactly-once dedup record a streaming commit embeds
    * atomically in its claimed snapshot. The id token is
    * [[encodeTxnId]]-escaped on disk. */
  def snapshotTxn(snapshotPath: HPath): Option[(String, Long)] =
    snapshotLines(snapshotPath).find(_.startsWith("#txn ")).flatMap { l =>
      l.stripPrefix("#txn ").split(" ") match {
        case Array(id, b) => b.toLongOption.map(decodeTxnId(id) -> _)
        case _ => None
      }
    }

  /** The three delete-sidecar references of a snapshot in ONE file read:
    * (`#pos`, `#keys`, `#del`). Every delete flavor pre-writes its
    * sidecar under a unique name (`pos-*` dir, `keys-*` dir, `del-*`
    * file holding the predicate SQL) and the commit references it from
    * the claimed snapshot, so the subtraction is atomic with the claim:
    * a changelog consumer can never observe the version before its
    * sidecar exists and advance past the delete. */
  def snapshotSidecarRefs(snapshotPath: HPath)
      : (Option[String], Option[String], Option[String]) = {
    val lines = snapshotLines(snapshotPath)
    def v(key: String): Option[String] = lines
      .find(_.startsWith(s"#$key "))
      .map(_.stripPrefix(s"#$key ").trim).filter(_.nonEmpty)
    (v("pos"), v("keys"), v("del"))
  }

  /** Driver-side manifest CONTENT reads since process start (names-only
    * snapshot reads don't count). Spec seam: metadata surfaces that claim
    * distributed accounting (metaSnapshots) prove it by diffing this
    * around a call — zero means no manifest's file list ever
    * materialized on the driver. */
  private[graft] val manifestContentReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Data-file paths of manifest `name` under `logDir` (per-line stats
    * stripped). */
  def manifestFilesOf(logDir: HPath, name: String): IndexedSeq[String] =
    manifestLinesOf(logDir, name).map(manifestLinePath)

  /** Resolve a snapshot file to its full data-file list: the union of
    * its manifests (resolved against `logDir` — branch snapshots
    * reference manifests in the MAIN log dir). Deduped and sorted for
    * deterministic reads. */
  def readSnapshotFiles(logDir: HPath, snapshotPath: HPath): Seq[String] =
    snapshotManifestNames(snapshotPath)
      .flatMap(manifestFilesOf(logDir, _)).distinct.sorted

  /** Recursively list DATA files under `root` as root-relative paths:
    * any path with a `_`- or `.`-prefixed segment (metadata dirs such as
    * `_graft_log`/`_staging`/`_spark_metadata`, `_SUCCESS` markers,
    * checksum sidecars) is excluded — the same convention Spark's own
    * file index applies. Sorted for deterministic manifests. */
  def listDataFilesRel(root: HPath): Seq[String] = {
    val f = fs(root)
    val q = f.makeQualified(root)
    if (!f.exists(q)) return Vector.empty
    val rootStr = q.toString
    val it = f.listFiles(q, true)
    val out = Vector.newBuilder[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) {
        val rel = st.getPath.toString.stripPrefix(rootStr).stripPrefix("/")
        val segs = rel.split('/')
        if (!segs.exists(s => s.startsWith("_") || s.startsWith(".")))
          out += rel
      }
    }
    out.result().sorted
  }
}
