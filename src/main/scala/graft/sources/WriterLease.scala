package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Cross-process writer fencing for the standing indexes.
  *
  * Same-JVM mutation is serialized by [[exclusive]]'s per-index-home
  * lock; this closes the class that lock cannot see: a SECOND DRIVER
  * PROCESS sharing an index home. Without it, two processes can
  * double-stamp a `setPayload`
  * sequence or interleave a compact with an append and neither ever
  * learns (the reference backends all have an answer here — ES
  * sequence numbers + primary terms, Qdrant's ordering guarantees).
  * graft's answer is a LEASE on the [[VersionedPointer]] primitive:
  *
  *  - a writer process takes the lease before mutating (`held
  *    <owner> <expiresAt>` installed as the next pointer version
  *    under `<home>/.lease`) and releases it after (`free <owner>`);
  *  - the installed VERSION NUMBER is the fencing token — versions
  *    are monotonic per pointer, so "is my version still the
  *    highest" detects takeover exactly the way a primary term does;
  *  - a process that dies mid-mutation leaves a lease that EXPIRES
  *    (wall-clock TTL): the next writer steals it, installing a
  *    higher version — if the "dead" writer was merely paused, its
  *    next fencing check fails and it aborts instead of corrupting
  *    the layout it no longer owns;
  *  - acquisition is refuse-not-queue: a live foreign lease raises
  *    [[ConcurrentWriterException]] naming the holder. Two writer
  *    processes on one index is a deployment error to surface, not
  *    a workload to arbitrate (the README contract table).
  *
  * The acquire protocol is claim / settle / confirm: install the
  * claim, wait `settleMs` (longer than a pointer write's latency),
  * re-read — if a competing claim landed with a higher version, the
  * re-read sees it and exactly one claimant survives. The settle
  * window makes a double-grant require a write latency longer than
  * `settleMs`; the per-verb fencing check at commit time catches
  * even that residue. Expiry compares wall clocks across processes —
  * NTP-grade skew is fine at minute-scale TTLs, which is why the
  * TTL floor is high rather than lock-grade tight.
  */
object WriterLease {

  final class ConcurrentWriterException(msg: String)
    extends RuntimeException(msg)

  /** Proof of ownership: the lease pointer's installed version (the
    * fencing token) plus what was installed.
    */
  final case class Token(leaseDir: Path, version: Long, owner: String,
                         expiresAtMs: Long) {
    private[sources] def content: String = s"held $owner $expiresAtMs"
  }

  /** One writer identity per process — same-process re-acquire is
    * always permitted (threads already serialize on [[exclusive]]'s
    * per-home lock), so the lease arbitrates only BETWEEN processes.
    */
  val processOwner: String =
    java.util.UUID.randomUUID().toString.take(8) + "@" +
      ProcessHandle.current().pid()

  /** Default lease lifetime. Long enough to cover any single
    * maintenance verb at test scale with margin; a verb that can
    * outlive it (a 100 TB compact) calls [[renew]] from its progress
    * points.
    */
  val DefaultTtlMs: Long = 10L * 60 * 1000

  /** Claim-settle window — must exceed one pointer write's latency
    * on the store (local fs / HDFS: milliseconds).
    */
  val DefaultSettleMs: Long = 15L

  private def leaseDir(pathOrHome: String): Path =
    new Path(pathOrHome, ".lease")

  /** The path a lease actually lives at: a CONCRETE GENERATION
    * directory under an alias home leases the HOME, so both
    * spellings of one index ("every index API accepts a concrete
    * path and an alias home interchangeably" — [[IndexAlias]])
    * contend on ONE lease; any other path leases itself. Without
    * this, a writer addressing `home/gen-0000000003` and one
    * addressing `home` would hold different leases and never fence
    * each other.
    *
    * The generation NAME alone decides (it is this library's own
    * convention, [[IndexAlias.nextGenerationPath]]) — deliberately
    * NOT conditioned on `<parent>/.ptr` existing: the pointer is
    * first installed by the swap at the END of the first build, so a
    * first-build writer addressing the concrete gen path would lease
    * the gen directory, and after the swap every home-addressed
    * writer would lease the home — two spellings that never fence
    * each other for the rest of that first lease's lifetime.
    */
  private[sources] def normalizeHome(fs: FileSystem, pathOrHome: String): String = {
    val p = new Path(pathOrHome)
    val parent = p.getParent
    if (parent != null && p.getName.matches("gen-\\d{10}")) parent.toString
    else p.toString
  }

  private def parse(content: String): Option[(String, Long)] = {
    val parts = content.split(' ')
    if (parts.length == 3 && parts(0) == "held")
      Some(parts(1) -> parts(2).toLong)
    else None // "free <owner>" or unparseable => not held
  }

  /** Acquire the index's writer lease, or raise
    * [[ConcurrentWriterException]] if another live writer holds it.
    * An expired foreign lease is stolen (the higher claim version
    * fences the previous holder out).
    */
  def acquire(fs: FileSystem, pathOrHome: String,
              ownerId: String = processOwner,
              ttlMs: Long = DefaultTtlMs,
              settleMs: Long = DefaultSettleMs,
              nowMs: () => Long = System.currentTimeMillis): Token = {
    val dir = leaseDir(normalizeHome(fs, pathOrHome))
    VersionedPointer.read(fs, dir).flatMap(parse).foreach {
      case (holder, expiry) =>
        if (holder != ownerId && expiry > nowMs())
          throw new ConcurrentWriterException(
            s"index at $pathOrHome has a live writer lease held by " +
              s"$holder (expires in ${expiry - nowMs()} ms) — " +
              "one writer process per index; wait, or break the lease " +
              "if the holder is known dead (WriterLease.break_)")
    }
    val tok = Token(dir, -1L, ownerId, nowMs() + ttlMs)
    val v = VersionedPointer.writeReturningVersion(fs, dir, tok.content)
    if (settleMs > 0) Thread.sleep(settleMs)
    VersionedPointer.readVersioned(fs, dir) match {
      case Some((cv, cc)) if cv == v && cc == tok.content =>
        tok.copy(version = v)
      case other =>
        throw new ConcurrentWriterException(
          s"lost the writer-lease race on $pathOrHome to " +
            s"${other.map(_._2).getOrElse("(gone)")}")
    }
  }

  /** Is `token` still the live lease? False means another process
    * took over (or the lease was broken) — the holder must abort.
    */
  def check(fs: FileSystem, token: Token): Boolean =
    VersionedPointer.readVersioned(fs, token.leaseDir)
      .exists { case (v, c) => v == token.version && c == token.content }

  /** Extend a held lease (long verbs call this from progress
    * points). Fails with [[ConcurrentWriterException]] if ownership
    * was lost.
    */
  def renew(fs: FileSystem, token: Token, ttlMs: Long = DefaultTtlMs,
            nowMs: () => Long = System.currentTimeMillis): Token = {
    if (!check(fs, token))
      throw new ConcurrentWriterException(
        s"writer lease on ${token.leaseDir.getParent} lost before renew")
    val t2 = Token(token.leaseDir, -1L, token.owner, nowMs() + ttlMs)
    val v = VersionedPointer.writeReturningVersion(fs, token.leaseDir, t2.content)
    t2.copy(version = v)
  }

  /** Release a held lease. A token that already lost ownership is a
    * no-op, and the "free" write itself is VERSION-CONDITIONAL
    * ([[VersionedPointer.writeIfAtVersion]]): a holder whose TTL
    * lapses between the check and the write — so a thief installs a
    * new lease in that window — loses the version-name CAS and
    * leaves the thief's live lease intact, instead of clobbering it
    * with a higher-version "free" that a third writer could then
    * acquire under.
    */
  def release(fs: FileSystem, token: Token): Unit =
    if (check(fs, token)) {
      VersionedPointer.writeIfAtVersion(fs, token.leaseDir,
        s"free ${token.owner}", token.version); ()
    }

  /** Operator escape hatch: force-free a lease whose holder is known
    * dead before its TTL lapses.
    */
  def break_(fs: FileSystem, pathOrHome: String): Unit =
    VersionedPointer.write(fs, leaseDir(normalizeHome(fs, pathOrHome)), "free (broken)")

  // ---- the verb-side wrapper ----------------------------------------

  // leases this process currently holds, by lease-dir path — lets a
  // verb nested inside another verb on the same index ride the outer
  // lease instead of re-acquiring (and then freeing the outer verb's
  // lease on its way out)
  private val held = new java.util.concurrent.ConcurrentHashMap[String, Token]()

  // Same-JVM body-duration mutual exclusion, PER index home (not a
  // stripe): two unrelated indexes never serialize against each
  // other, and a nested exclusive on a DIFFERENT index while one is
  // held cannot deadlock on a shared stripe monitor (genuinely
  // crossed A->B / B->A nesting on the SAME two indexes remains the
  // caller's lock-ordering responsibility, as with any lock). Locks
  // are created on demand and removed when uncontended, so the map
  // is bounded by the number of indexes under CONCURRENT mutation,
  // not by the number ever touched.
  private val bodyLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  @annotation.tailrec
  private def lockBody(key: String): java.util.concurrent.locks.ReentrantLock = {
    val l = bodyLocks.computeIfAbsent(key, _ => new java.util.concurrent.locks.ReentrantLock())
    l.lock()
    // the entry may have been removed (and re-created by a third
    // thread) between the map read and the lock(); holding a lock no
    // longer in the map would not exclude anyone — re-check
    if (bodyLocks.get(key) eq l) l
    else { l.unlock(); lockBody(key) }
  }

  private def unlockBody(key: String, l: java.util.concurrent.locks.ReentrantLock): Unit = {
    val last = l.getHoldCount == 1
    l.unlock()
    if (last && !l.isLocked && !l.hasQueuedThreads) bodyLocks.remove(key, l)
  }

  /** Test hook: body locks outstanding (removed when uncontended, so
    * a long-lived session touching many indexes stays bounded).
    */
  private[graft] def bodyLockCount: Int = bodyLocks.size

  /** Renew the lease THIS PROCESS currently holds on `pathOrHome`
    * (no-op token refresh from inside an [[exclusive]] body) — the
    * progress-point call a verb that can outlive the TTL makes
    * between its phases (a 100 TB compact rewrites several tables;
    * each boundary is a natural renewal point). Raises
    * [[ConcurrentWriterException]] if ownership was lost — the verb
    * must abort rather than start its next phase on a layout a new
    * owner may be rewriting. Called outside an exclusive block it is
    * an error by contract (there is nothing to renew) and throws.
    */
  def renewHeld(spark: SparkSession, pathOrHome: String,
                ttlMs: Long = DefaultTtlMs): Unit = {
    val fs = new Path(pathOrHome)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = leaseDir(normalizeHome(fs, pathOrHome)).toString
    val tok = held.get(key)
    if (tok == null)
      throw new ConcurrentWriterException(
        s"renewHeld($pathOrHome) outside an exclusive block — no lease held")
    held.put(key, renew(fs, tok, ttlMs))
  }

  /** Run `body` as THE writer of the index at `pathOrHome`: same-JVM
    * threads serialize on a per-index-home lock (concrete generation
    * paths normalize to their alias home, so both spellings of one
    * index contend on one lock AND one lease), cross-process writers
    * on the lease. After `body` returns, the fencing token is
    * checked once more — a takeover mid-mutation (holder paused past
    * its TTL) raises [[ConcurrentWriterException]] so the operator
    * learns the mutation may have interleaved with the new owner's,
    * instead of both writers reporting success. The outermost
    * acquisition first finishes or undoes any interrupted in-place
    * rewrite of the layout ([[LayoutRewrite.recover]]), so `body`
    * always starts on complete tables. Check-then-act verbs
    * with an internal commit point can tighten this by calling
    * [[check]]/[[renew]] themselves right before the commit write.
    */
  def exclusive[A](spark: SparkSession, pathOrHome: String,
                   ttlMs: Long = DefaultTtlMs)(body: => A): A = {
    val fs = new Path(pathOrHome)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val home = normalizeHome(fs, pathOrHome)
    val key = leaseDir(home).toString
    val l = lockBody(key)
    try {
      if (held.containsKey(key)) body // nested verb: outer lease covers it
      else {
        held.put(key, acquire(fs, home, ttlMs = ttlMs))
        try {
          LayoutRewrite.recover(fs, new Path(IndexAlias.resolve(spark, pathOrHome)))
          val r = body
          // the held entry is re-read: a renewHeld inside the body
          // replaced the token, and the fencing check must be
          // against the CURRENT lease version
          if (!check(fs, held.get(key)))
            throw new ConcurrentWriterException(
              s"writer lease on $pathOrHome was taken over mid-mutation " +
                "— the layout may hold interleaved writes; re-verify " +
                "against the new owner before trusting this mutation")
          r
        } finally {
          val cur = held.remove(key)
          if (cur != null) release(fs, cur)
        }
      }
    } finally unlockBody(key, l)
  }
}
