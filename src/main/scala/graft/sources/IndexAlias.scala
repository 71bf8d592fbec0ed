package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Versioned single-value pointer on a Hadoop FileSystem — the one
  * atomic-swap primitive both alias stores (collection aliases in
  * [[CollectionCatalog]], standing-index aliases in [[IndexAlias]])
  * are built on. The pointer is a directory of one-line files
  * (`v<n>`, zero-padded so lexical order is numeric order) whose
  * content is the target; readers resolve the HIGHEST version
  * present. A repoint writes version n+1 aside and renames it in
  * (rename of a fresh name is atomic on HDFS-like stores; on
  * S3-class stores it is a single-object PUT), then prunes
  * superseded versions — at no instant is the pointer absent, unlike
  * a delete-then-rename swap, where a reader in the gap would see
  * nothing.
  */
private[graft] object VersionedPointer {

  private def versionName(v: Long): String = f"v$v%019d"

  def versions(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).toSeq.sorted

  private def readVersion(fs: FileSystem, dir: Path, v: Long): Option[String] =
    try {
      val in = fs.open(new Path(dir, versionName(v)))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  // Serializes same-JVM writers per pointer (in local / driver-side
  // mutation — the common case — every writer shares this JVM). The
  // cross-process guard is the rename-CAS below. Striped rather than
  // per-path so a session touching many pointers never grows an
  // unbounded lock map (colliding paths merely over-serialize).
  private val LockStripes = 1024
  private val jvmLocks = Array.fill(LockStripes)(new Object)

  /** Atomically repoint to `content`, safe under concurrent writers.
    * Same-JVM writers serialize on a per-pointer lock. Cross-process,
    * the CAS is rename-of-a-fresh-name: on HDFS-like stores the loser
    * of a same-version race gets `rename == false` and retries at the
    * next version. POSIX-backed local filesystems overwrite on rename
    * instead of failing; the read-back narrows but does NOT close the
    * window (a second process can overwrite the same version after
    * the first's read-back — both report success and the earlier
    * bytes are silently lost), so on POSIX and S3-class stores a
    * same-version CROSS-PROCESS race is last-write-wins. That is
    * acceptable for the pointer's users — the single-maintenance-
    * owner contract plus [[WriterLease]] fencing keep two live
    * writer processes off one pointer in the first place; this CAS
    * is the same-process and HDFS-grade guard. Old versions are
    * pruned AFTER the new one is live, and only versions below the
    * installed one, so a concurrent reader always resolves a complete
    * value — never nothing.
    */
  def write(fs: FileSystem, dir: Path, content: String): Unit = {
    writeReturningVersion(fs, dir, content); ()
  }

  /** [[write]], returning the installed version number — monotonic
    * per pointer, which is what makes it usable as a FENCING token
    * (see [[WriterLease]]): a later writer always installs a higher
    * version, so "is my version still the highest" detects loss of
    * ownership. `keepHistory` retains that many superseded version
    * files below the installed one (newest first) instead of pruning
    * them all — [[IndexAlias.set]] uses it so [[IndexAlias
    * .pruneGenerations]] can tell PREVIOUSLY-LIVE generations apart
    * from never-live directory names.
    */
  def writeReturningVersion(fs: FileSystem, dir: Path, content: String,
                            keepHistory: Int = 0): Long = {
    val key = Path.getPathWithoutSchemeAndAuthority(dir).toString
    val lock = jvmLocks(math.floorMod(key.hashCode, LockStripes))
    lock.synchronized(writeLocked(fs, dir, content, keepHistory))
  }

  private def writeLocked(fs: FileSystem, dir: Path, content: String,
                          keepHistory: Int): Long = {
    fs.mkdirs(dir)
    val bytes = content.getBytes("UTF-8")
    var installed = -1L
    var attempt = 0
    while (installed < 0) {
      attempt += 1
      require(attempt <= 64, s"versioned pointer at $dir: lost ${attempt - 1} write races in a row")
      val next = versions(fs, dir).lastOption.fold(0L)(_ + 1L)
      if (installAt(fs, dir, next, bytes) &&
        readVersion(fs, dir, next).contains(content)) installed = next
    }
    versions(fs, dir).filter(_ < installed - keepHistory)
      .foreach(v => fs.delete(new Path(dir, versionName(v)), false))
    installed
  }

  // rename-of-a-fresh-name CAS for exactly version `v`; false if the
  // name was already taken (another writer won that version)
  private def installAt(fs: FileSystem, dir: Path, v: Long,
                        bytes: Array[Byte]): Boolean = {
    val dst = new Path(dir, versionName(v))
    val tmp = new Path(dir, s".tmp-${versionName(v)}-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    out.write(bytes)
    out.close()
    val renamed = !fs.exists(dst) && fs.rename(tmp, dst)
    if (!renamed) fs.delete(tmp, false)
    renamed
  }

  /** Install `content` as version `expectedVersion + 1` ONLY if the
    * pointer is still at `expectedVersion` — the conditional write
    * [[WriterLease.release]] frees its lease with: a release racing a
    * post-TTL steal loses the version-name CAS (the thief already
    * installed that version) and returns false WITHOUT clobbering the
    * thief's live lease, instead of overwriting it with a
    * higher-version "free". Same POSIX overwrite-on-rename caveat as
    * [[write]]; the lease protocol's per-verb fencing check is the
    * backstop there.
    */
  def writeIfAtVersion(fs: FileSystem, dir: Path, content: String,
                       expectedVersion: Long, keepHistory: Int = 0): Boolean = {
    val key = Path.getPathWithoutSchemeAndAuthority(dir).toString
    val lock = jvmLocks(math.floorMod(key.hashCode, LockStripes))
    lock.synchronized {
      val cur = versions(fs, dir).lastOption
      // expectedVersion -1 = "no version exists yet": the CAS that
      // creates the pointer (two racing creators -> one wins v0)
      val matches =
        if (expectedVersion < 0) cur.isEmpty
        else cur.contains(expectedVersion)
      if (!matches) false
      else {
        val v = expectedVersion + 1
        fs.mkdirs(dir)
        val ok = installAt(fs, dir, v, content.getBytes("UTF-8"))
        if (ok) versions(fs, dir).filter(_ < v - keepHistory)
          .foreach(x => fs.delete(new Path(dir, versionName(x)), false))
        ok
      }
    }
  }

  /** The newest `n` superseded (version, value) pairs below the live
    * one, newest first — non-empty only for pointers written with
    * `keepHistory > 0`.
    */
  def history(fs: FileSystem, dir: Path, n: Int): Seq[(Long, String)] = {
    val vs = versions(fs, dir)
    vs.lastOption.fold(Seq.empty[(Long, String)]) { live =>
      vs.filter(_ < live).sorted.reverse.take(n)
        .flatMap(v => readVersion(fs, dir, v).map(v -> _))
    }
  }

  /** Current (version, value), if any version exists — the versioned
    * read [[WriterLease]] fences on. Same retry discipline as
    * [[read]].
    */
  def readVersioned(fs: FileSystem, dir: Path): Option[(Long, String)] = {
    var attempt = 0
    var emptySeen = 0
    while (attempt < 64) {
      attempt += 1
      versions(fs, dir).lastOption match {
        case None =>
          emptySeen += 1
          if (!fs.exists(dir) || emptySeen >= 8) return None
          if (emptySeen >= 3) Thread.sleep(1L)
        case Some(v) => readVersion(fs, dir, v) match {
          case Some(c) => return Some(v -> c)
          case None    => // superseded mid-read; retry against the new max
        }
      }
    }
    sys.error(s"versioned pointer at $dir: unreadable after $attempt attempts")
  }

  /** Current value, if any version exists (highest wins). A version
    * pruned between the listing and the open means a newer version
    * just landed — re-list; the highest version is never pruned.
    * An EXISTING pointer directory whose listing comes back empty is
    * re-listed too: a directory scan running concurrently with a
    * same-directory rename + prune can miss BOTH the new max (entry
    * lands mid-scan at an already-visited position) and the old one
    * (just unlinked) — readdir takes no snapshot. A pointer that was
    * ever written always has a live version, so empty-on-existing is
    * transient; only a directory that stays empty across retries (or
    * never existed) is a genuine "no value".
    */
  def read(fs: FileSystem, dir: Path): Option[String] =
    readVersioned(fs, dir).map(_._2)
}

/** Alias indirection for the STANDING indexes (vector, text,
  * MinHash-dedup) — the zero-downtime rebuild primitive every
  * reference backend puts in front of its indexes (ES index
  * aliases, Qdrant `update_aliases`): clients address a stable HOME
  * path, the live index is one of several GENERATION directories
  * underneath, and a retrain/rebuild writes the next generation
  * aside and atomically repoints. Readers between the write-aside
  * and the swap keep serving the old generation in full; readers
  * after the swap resolve the new one — and because every
  * session-level cache (geometry, serving views) is keyed by the
  * CONCRETE generation path, a swap cache-misses onto the fresh
  * layout with no invalidation protocol at all.
  *
  * Layout under `home/`:
  *  - `.ptr/` — [[VersionedPointer]] files naming the live
  *    generation (relative, so the home is relocatable)
  *  - `gen-<n>/` — complete index layouts; exactly one is live
  *
  * A path WITHOUT `.ptr` resolves to itself, so every index API
  * accepts a concrete path and an alias home interchangeably.
  * Resolution costs one file-listing + one small read — the same
  * per-request alias hop ES serves from its cluster state.
  */
object IndexAlias {

  private def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def ptrDir(home: String): Path = new Path(home, ".ptr")

  private def genName(n: Long): String = f"gen-$n%010d"

  /** In-memory alias map — the analogue of the alias table ES serves
    * from cluster state rather than from storage on every request:
    * `resolve` answers from here after the first lookup, and [[set]]
    * writes through, so a query pays zero filesystem round-trips for
    * alias indirection and a swap is visible to the next query
    * immediately. Process-local by design (all index mutation runs on
    * the driver); a swap performed by ANOTHER process is picked up
    * after [[invalidateResolve]] — the same contract as the external
    * in-place-change hook on the index caches.
    */
  /** Cache-size bound: a session resolving an unbounded stream of
    * distinct paths (catalog sweeps over many indexes) must not grow
    * the map forever. Eviction is LRU (access-ordered
    * LinkedHashMap), so a pathological sweep past the bound evicts
    * only the coldest entries — the hot serving aliases survive
    * (RobustnessSpec's >10k-path case measures exactly that).
    */
  private val ResolveCacheMax = 8192

  private val resolveCache =
    new java.util.LinkedHashMap[String, String](256, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, String]): Boolean =
        size() > ResolveCacheMax
    }

  /** The concrete index path `pathOrHome` serves from: the live
    * generation if it is an alias home, itself otherwise. The
    * filesystem read runs OUTSIDE the cache monitor (a racing
    * duplicate resolution is idempotent; holding a monitor across
    * storage I/O is not acceptable on a serving path).
    */
  def resolve(spark: SparkSession, pathOrHome: String): String = {
    val key = new Path(pathOrHome).toString
    val cached = resolveCache.synchronized(Option(resolveCache.get(key)))
    cached.getOrElse {
      val v = AliasGroup.resolveValue(fsOf(spark, key), ptrDir(key))
        .fold(key)(g => new Path(key, g).toString)
      resolveCache.synchronized(resolveCache.put(key, v))
      v
    }
  }

  /** Test hook: current resolve-cache size (bounded). */
  private[graft] def resolveCacheSize: Int =
    resolveCache.synchronized(resolveCache.size())

  /** Drop the cached resolution for `pathOrHome` (needed only after
    * an out-of-process alias swap).
    */
  private[graft] def invalidateResolve(pathOrHome: String): Unit =
    resolveCache.synchronized { resolveCache.remove(new Path(pathOrHome).toString); () }

  /** Whether `pathOrHome` is an alias home (has a live pointer,
    * standalone or through an [[AliasGroup]] manifest).
    */
  def installed(spark: SparkSession, pathOrHome: String): Boolean =
    AliasGroup.resolveValue(fsOf(spark, pathOrHome), ptrDir(pathOrHome)).isDefined

  /** All generation directories under the home, oldest first. */
  def generations(spark: SparkSession, home: String): Seq[String] = {
    val fs = fsOf(spark, home)
    if (!fs.exists(new Path(home))) Nil
    else fs.listStatus(new Path(home)).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("gen-")).toSeq.sorted
  }

  /** A fresh generation path under the home (never reuses a name,
    * so a failed build never collides with a live generation).
    */
  def nextGenerationPath(spark: SparkSession, home: String): String = {
    val last = generations(spark, home)
      .map(_.stripPrefix("gen-").toLong).lastOption.getOrElse(-1L)
    new Path(home, genName(last + 1L)).toString
  }

  /** Atomically repoint the home at generation `target` (a path
    * under the home, as returned by [[nextGenerationPath]]) — the
    * swap step of a rebuild-aside. Requires the target layout to
    * exist: a pointer must never name an unbuilt directory.
    */
  /** Pointer history retained by [[set]] — the record
    * [[pruneGenerations]]'s drain-grace window is computed from.
    */
  private[sources] val PtrHistoryKeep = 8

  def set(spark: SparkSession, home: String, target: String): Unit = {
    val fs = fsOf(spark, home)
    val t = new Path(target)
    require(fs.exists(t), s"alias target does not exist: $target")
    require(t.getParent == new Path(home).makeQualified(fs.getUri, fs.getWorkingDirectory) ||
      t.getParent == new Path(home),
      s"alias target must be a generation under $home: $target")
    // a home enrolled in an AliasGroup repoints through the group
    // manifest (so grouped readers stay consistent); a standalone
    // home through its own pointer
    // a failure after the pointer landed must not leave this process
    // resolving the old generation from cache: drop the entry first
    try AliasGroup.setOne(fs, ptrDir(home), t.getName, keepHistory = PtrHistoryKeep)
    finally invalidateResolve(home)
    resolveCache.synchronized {
      resolveCache.put(new Path(home).toString, new Path(home, t.getName).toString); ()
    }
  }

  /** Atomically repoint SEVERAL homes in one commit — the ES
    * `update_aliases` actions semantics: `swaps` are
    * `(home, targetGenerationPath)` pairs, validated like [[set]],
    * then committed as ONE [[AliasGroup]] manifest write at
    * `groupDir`, so no reader using [[AliasGroup.snapshot]]-based
    * resolution (e.g. `CollectionCatalog.openWithIndexes`) ever
    * observes a mixed generation across the homes. First use
    * ENROLLS the homes in the group (their standalone pointers
    * become redirects); subsequent [[set]] calls on an enrolled home
    * route through the same manifest automatically.
    */
  def setAll(spark: SparkSession, groupDir: String,
             swaps: Seq[(String, String)]): Unit = {
    require(swaps.nonEmpty, "setAll with no swaps")
    val fs = fsOf(spark, groupDir)
    val entries = swaps.map { case (home, target) =>
      val t = new Path(target)
      require(fs.exists(t), s"alias target does not exist: $target")
      require(t.getParent == new Path(home).makeQualified(fs.getUri, fs.getWorkingDirectory) ||
        t.getParent == new Path(home),
        s"alias target must be a generation under $home: $target")
      ptrDir(home) -> t.getName
    }
    AliasGroup.swap(fs, new Path(groupDir), entries)
    resolveCache.synchronized {
      swaps.foreach { case (home, target) =>
        resolveCache.put(new Path(home).toString,
          new Path(home, new Path(target).getName).toString)
      }
    }
  }

  /** Delete stale generations (run AFTER a swap, once in-flight
    * readers of the old generations have drained — the ES "delete
    * the old index" step). `keep` retains that many PREVIOUSLY-LIVE
    * generations (read from the pointer's own history, newest swap
    * first) as a drain-grace window: a periodic maintenance loop
    * prunes with `keep = 1` so readers that resolved before the
    * latest swap keep the layout they are draining on for one more
    * cycle, while disk stays bounded at live + keep generations.
    * Previously-live beats newest-NAMED deliberately — a crashed
    * rebuild's half-built higher-numbered directory is garbage to
    * delete, not a generation to protect (it was never pointed at);
    * ONLY when the pointer has no retained history at all (it
    * predates history retention) does the newest-named fallback fill
    * the window. A pointer WITH history but fewer than `keep`
    * entries does NOT get topped up from names — a non-historied
    * directory under a historied pointer was never live, and
    * protecting it would let one crashed rebuild consume the
    * live+keep disk bound with garbage on every cycle until history
    * fills. Returns the pruned names.
    */
  def pruneGenerations(spark: SparkSession, home: String,
                       keep: Int = 0,
                       maxAgeMs: Option[Long] = None,
                       nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val fs = fsOf(spark, home)
    val live = new Path(resolve(spark, home)).getName
    val all = generations(spark, home).filterNot(_ == live)
    val history = AliasGroup.valueHistory(fs, ptrDir(home), PtrHistoryKeep)
    val prevLive = history.distinct.filter(g => g != live && all.contains(g)).take(keep)
    val fallback =
      if (history.nonEmpty) Nil
      else all.sorted.reverse.take(math.max(0, keep - prevLive.size))
    // the age rung of the ILM policy: a previously-live generation is
    // retained only while younger than `maxAgeMs` (age = directory
    // modification time — a retired generation receives no writes, so
    // its mtime pins when it was last built). The LIVE generation is
    // never age-pruned — age bounds the drain-grace window, it does
    // not delete serving data.
    val retained = (prevLive ++ fallback).filter(g => maxAgeMs.forall { maxAge =>
      nowMs - fs.getFileStatus(new Path(home, g)).getModificationTime <= maxAge
    }).toSet
    val stale = all.filterNot(retained.contains)
    stale.foreach(g => fs.delete(new Path(home, g), true))
    stale
  }
}
