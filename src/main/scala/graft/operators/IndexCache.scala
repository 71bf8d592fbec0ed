package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped materialized index corpora.
  *
  * The reference's backends (Milvus IVF/PQ, Qdrant quantized storage,
  * LSH tables) build their index representation ONCE at ingest and
  * serve every query from it; [[VectorIndex]] is that layout at
  * rest, and inside one session the same lifecycle applies: the
  * encoded corpus (cluster ids, PQ codes, sign words,
  * int8 vectors) is a build artifact, not part of the query. Caching
  * the localCheckpoint also keeps the enormous literal expression
  * trees (per-centroid dot products expanded for codegen) out of
  * every query's plan — they are paid once per corpus, as at ingest.
  *
  * Keyed by (session UUID, corpus dir, variant) so independent test
  * sessions never share checkpointed RDDs. The UUID is the session's
  * own stable identifier — unlike an identity hash it can neither
  * collide between two live sessions nor be reused for a new session
  * after an old one is collected.
  */
private[graft] object IndexCache {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Persistent-RDD ids pinned per cached standing frame (the blocks
    * [[releaseTransients]] must never drop: a localCheckpoint has no
    * lineage, so unpersisting one that is still referenced loses it
    * irrecoverably). Kept per KEY so [[dropMatching]] can un-pin what
    * it evicts — a single flat set would accumulate stale pins for
    * the life of the process and keep invalidated generations' blocks
    * from ever being released here.
    */
  private val keyPins =
    new java.util.concurrent.ConcurrentHashMap[String, Set[Int]]()

  /** Pins RETIRED by [[dropMatching]] (the frame was invalidated —
    * epoch bump — but an in-flight request may still hold it), with
    * their retirement instant. Retired blocks get an AGE-based drain
    * grace before [[releaseTransients]] reclaims them: a request that
    * was handed the frame before the invalidation finishes against
    * it, however often the release hygiene fires meanwhile — the
    * in-memory mirror of the generation drain-grace at rest. A
    * concurrent map because dropMatching may run inside a build
    * (read lock held by this thread).
    */
  private val retired =
    new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  /** Default retire grace: longer than any single serving request at
    * the scales the session cache targets, far shorter than the
    * session. A retired corpus frame therefore occupies storage for
    * at most one more grace window after its epoch ends.
    */
  val DefaultRetireGraceMs: Long = 30000L

  /** Builds (pin registration) take the read side — they may run
    * concurrently with each other; [[releaseTransients]] and
    * [[dropMatching]] take the write side, so neither can observe a
    * build between its localCheckpoint and its pin registration (the
    * window in which the fresh standing frame looks transient and
    * would be dropped irrecoverably).
    */
  private val pinLock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** Stable unique id for a session (classic sessions expose their
    * sessionUUID; any other implementation falls back to identity,
    * scoped by class name so the two schemes can't collide).
    */
  private[graft] def sessionKey(spark: SparkSession): String =
    org.apache.spark.sql.graftbridge.ColumnBridge.sessionUUID(spark)
      .getOrElse(spark.getClass.getName + "@" + System.identityHashCode(spark))

  /** Session-lifetime temp directories (index layouts built for the
    * duration of a test/bench session). Registered for recursive
    * cleanup at JVM exit — createTempDirectory alone leaks the tree.
    */
  private[graft] def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file._
      import java.util.Comparator
      try {
        Files.walk(p).sorted(Comparator.reverseOrder())
          .forEach(f => { try Files.deleteIfExists(f) catch { case scala.util.control.NonFatal(_) => () } })
      } catch { case scala.util.control.NonFatal(_) => () }
    }))
    p.toString
  }

  /** One memo cell per (session, kind, corpus). The build runs in the
    * cell's lazy val, outside the map's bin lock: a minutes-long build
    * must not block other keys hashed to the same bin, and a build
    * that asks for another kind's layout must not update the map
    * recursively.
    */
  private final class SessionLayout(build: () => String) {
    lazy val path: String = build()
  }
  private val sessionLayouts =
    new java.util.concurrent.ConcurrentHashMap[String, SessionLayout]()

  /** Session-scoped at-rest layout of one `kind` per corpus dir — the
    * ingest-time artifact a registered query serves from: `write`
    * builds it into a fresh session temp dir at first use, and every
    * later call in the session gets the same path. A build that
    * throws is retried by the next call.
    */
  private[graft] def sessionLayout(spark: SparkSession, kind: String, sfDir: String)(
      write: String => Unit): String =
    sessionLayouts.computeIfAbsent(s"${sessionKey(spark)}#$kind#$sfDir", _ =>
      new SessionLayout(() => {
        val p = tempDir(s"graft-$kind") + "/" + kind
        write(p)
        p
      })).path

  /** Target bytes per dispatch slice of a pinned standing frame —
    * the small-files rule (guide §6) applied to CACHED blocks: a
    * checkpoint inherits its build's partitioning, and an at-rest
    * scan overlay at local scale leaves 16-32 near-empty partitions
    * that every subsequent serving job re-dispatches (~7 ms/task on
    * the bench host class, measured as a 0.1-0.2 s flat tax on every
    * ANN/at-rest query). The width never drops below the fan-out
    * repair width (per-row serving work — ADC, Hamming, cosine —
    * must stay parallel) and never rises above the build's own count
    * (a cluster-scale pinned corpus is never downsized: its bytes
    * put the data-derived width far above the floor).
    */
  private val TargetSliceBytes: Long = 4L * 1024 * 1024

  /** Dispatch width for a pinned frame of `parts` checkpoint
    * partitions holding `storedBytes`: one slice per
    * [[TargetSliceBytes]], between the repair `floor` and `parts`. A
    * reading of zero stored bytes measures nothing (storage info
    * lists only the blocks reported in), so it keeps `parts` rather
    * than shrinking a big frame to the floor.
    */
  private[graft] def sliceWidth(parts: Int, floor: Int, storedBytes: Long): Int =
    if (storedBytes <= 0) parts
    else math.min(parts, math.max(floor, math.ceil(storedBytes.toDouble / TargetSliceBytes).toInt))

  def materialized(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    cache.computeIfAbsent(sessionKey(spark) + "#" + key, { fullKey =>
      // pin every persistent RDD the build creates (the checkpointed
      // frame itself plus any nested standing artifacts), by diffing
      // the context's persistent-RDD set around the build — the only
      // id set that is exact across Spark versions. Over-pinning a
      // concurrent session's transient is safe (it merely waits for
      // the ContextCleaner); under-pinning would break serving. The
      // read lock holds releaseTransients/dropMatching out of the
      // whole diff window.
      pinLock.readLock().lock()
      try {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val df = build.localCheckpoint()
        val newIds = spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSet
        keyPins.put(fullKey, newIds)
        // data-sized dispatch width over the pinned blocks: a narrow
        // coalesce (no shuffle, no re-materialization — each slice
        // reads its local cached blocks) so serving jobs stop paying
        // one task per near-empty checkpoint partition
        val parts = df.rdd.getNumPartitions
        val bytes = spark.sparkContext.getRDDStorageInfo
          .filter(i => newIds.contains(i.id)).map(i => i.memSize + i.diskSize).sum
        val want = sliceWidth(parts, Fanout.repairWidth(df), bytes)
        if (want < parts) df.coalesce(want) else df
      } finally pinLock.readLock().unlock()
    })

  /** Release every persistent RDD that is NOT a pinned standing
    * frame — the request-boundary hygiene a long-lived serving
    * process needs. Query paths localCheckpoint transient frames
    * (dedup pair pools, CC rounds, BPE deltas) to bound plan size;
    * those blocks occupy storage memory until the ContextCleaner
    * happens to run, so a session serving many requests degrades as
    * eviction sets in (measured: pass-2 of the 180-query bench ran
    * 1.6× pass-1, at-rest IVF reads 18×, before this hook). Call it
    * AFTER the request's frames are fully consumed — a transient
    * checkpoint still in use has no lineage to recompute from; for
    * the same reason TRANSIENT-holding requests must be serialized
    * around the call (it drops every never-pinned block, including
    * another in-flight request's). Standing frames are safer:
    * builds registering pins are safe concurrently (the write lock
    * waits for any in-flight [[materialized]] diff window), and a
    * frame RETIRED by an invalidation keeps its blocks for `graceMs`
    * after retirement — an in-flight request that was handed the
    * frame before the epoch bump finishes against it, however often
    * the hygiene fires meanwhile (IndexCacheRaceSpec drives exactly
    * that interleaving). Returns the number of RDDs released.
    */
  def releaseTransients(spark: SparkSession,
                        graceMs: Long = DefaultRetireGraceMs): Int = {
    pinLock.writeLock().lock()
    try {
      val now = System.currentTimeMillis()
      var n = 0
      val persistent = spark.sparkContext.getPersistentRDDs
      persistent.foreach { case (id, rdd) =>
        val retiredAt = retired.get(id)
        val inGrace = retired.containsKey(id) && now - retiredAt < graceMs
        if (!inGrace && !keyPins.values().stream().anyMatch(_.contains(id))) {
          rdd.unpersist(blocking = false)
          retired.remove(id)
          n += 1
        }
      }
      // drop bookkeeping for retired ids whose RDDs are already gone
      retired.keySet.removeIf(id => !persistent.contains(id))
      n
    } finally pinLock.writeLock().unlock()
  }

  /** Drop every cached frame (any session) whose key contains
    * `marker` — the invalidation hook for mutable at-rest layouts: a
    * write that changes what a read should see evicts the path's
    * materialized serving views, un-pins their RDD ids (so the next
    * [[releaseTransients]] can reclaim the blocks), and the
    * ContextCleaner reclaims whatever is left unreferenced.
    */
  private[graft] def dropMatching(marker: String): Unit = {
    // a mutation issued from INSIDE a materialized build (this thread
    // already holds the read lock) must not try to upgrade to the
    // write lock — that self-deadlocks. The maps are concurrent, and
    // this thread's own read hold already fences releaseTransients.
    val building = pinLock.getReadHoldCount > 0
    if (!building) pinLock.writeLock().lock()
    try {
      cache.keySet.removeIf(_.contains(marker))
      // un-pin via RETIREMENT, not straight to transient: a request
      // handed the frame before this invalidation is still entitled
      // to finish against it (drain grace, one release cycle).
      // Retire BEFORE removing the pin: on the building-thread path
      // this runs without the write lock, and a concurrent release
      // from another build thread must never observe an id that is
      // already unpinned but not yet retired — that instant would
      // reclaim the frame with zero grace.
      val now = System.currentTimeMillis()
      keyPins.forEach { (k, ids) =>
        if (k.contains(marker)) ids.foreach(id => retired.put(id, now))
      }
      keyPins.keySet.removeIf(_.contains(marker))
    } finally if (!building) pinLock.writeLock().unlock()
  }

  /** Release a SPECIFIC set of persistent-RDD ids (an iterative
    * operator freeing its own dead rounds — see
    * [[graft.operators.Dedup.connectedComponents]]), skipping any id
    * pinned by a standing frame. Takes the write lock so it cannot
    * observe a build between its checkpoint and its pin registration;
    * called from INSIDE a build (read lock held by this thread) it
    * skips the lock — the caller's own read hold already fences
    * [[releaseTransients]]. Returns the number released.
    */
  private[graft] def releaseIds(spark: SparkSession, ids: Set[Int],
                                graceMs: Long = DefaultRetireGraceMs): Int = {
    val building = pinLock.getReadHoldCount > 0
    if (!building) pinLock.writeLock().lock()
    try {
      var n = 0
      val now = System.currentTimeMillis()
      val persistent = spark.sparkContext.getPersistentRDDs
      ids.foreach { id =>
        if (!retired.containsKey(id) &&
          !keyPins.values().stream().anyMatch(_.contains(id)))
          persistent.get(id).foreach { r => r.unpersist(blocking = false); n += 1 }
      }
      // the same grace-window reclaim [[releaseTransients]] applies:
      // retired frames past their grace are dead by definition, and a
      // workload that only ever runs this targeted hygiene must not
      // keep them cached until session end
      val expired = new java.util.ArrayList[Int]()
      retired.forEach { (id, at) => if (now - at >= graceMs) expired.add(id) }
      expired.forEach { id =>
        if (!keyPins.values().stream().anyMatch(_.contains(id))) {
          persistent.get(id).foreach { r => r.unpersist(blocking = false); n += 1 }
          retired.remove(id)
        }
      }
      n
    } finally if (!building) pinLock.writeLock().unlock()
  }

  /** Test hook: ids currently pinned (union across cached frames). */
  private[graft] def pinnedIdsSnapshot(): Set[Int] = {
    val b = Set.newBuilder[Int]
    keyPins.values().forEach(s => b ++= s)
    b.result()
  }
}
