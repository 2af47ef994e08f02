package graft.plans

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The table store's commit path: version directories + an
  * atomically-swapped pointer file, with optimistic concurrency. Kept
  * apart from [[BucketedMergeWriter]] so the compare-and-swap algorithm
  * can be read (and reasoned about) without the merge logic around it.
  *
  * A table is a directory holding immutable version subdirectories
  * `v0/ v1/ …` plus a single pointer file (the store's `_MANIFEST`)
  * whose CONTENT names the live version(s). All durability and
  * isolation properties live here:
  *
  *   - **Atomic visibility** — the pointer is replaced via tmp-file +
  *     `ATOMIC_MOVE`; readers either see the whole old state or the whole
  *     new state. A crash mid-commit leaves an orphan version directory no
  *     pointer references, which [[reserveVersion]] never reuses and a
  *     vacuum can reap.
  *   - **Optimistic concurrency** — [[commitLoop]] snapshots the pointer
  *     content, lets the caller compute and write a fresh version
  *     directory UNLOCKED, then swaps only if the pointer is still
  *     byte-identical to the snapshot. A loser deletes its version dir and
  *     recomputes against the winner's state (its per-key decisions are
  *     state-dependent, so a blind pointer retry would lose the winner's
  *     updates). This is the Delta/Iceberg commit model, and stands in for
  *     the serialization Postgres gives the reference for free
  *     (reference: flink/stream_to_star.py:99-282, ON CONFLICT).
  *   - **Version allocation** — a JVM-wide monotonic counter per table,
  *     floored by a directory scan, so version numbers are never reused
  *     even while a conflict loser is still deleting its directory (a
  *     scan-only scheme would hand the loser's number to the next writer
  *     mid-delete). Reserved dirs are registered in-flight so vacuum never
  *     reaps a directory a concurrent commit is still writing.
  *
  * The check-and-swap critical section is a JVM-wide per-table lock
  * (commit = one file rename; no Spark job runs inside the lock). Writers
  * in DIFFERENT processes additionally need a shared lock service for the
  * swap itself — the documented deployment model is all writers of a table
  * in one driver (ingestion + compaction + vacuum), which is what
  * Structured Streaming gives.
  */
object CommitProtocol {

  /** One commit attempt, produced by the caller's `compute` against a
    * pointer snapshot.
    *
    * @param writeVersion writes the new data into version dir `v`
    *                     (unlocked — the expensive Spark job)
    * @param swap         executed under the table lock after the CAS check
    *                     passes; must atomically replace the pointer (via
    *                     [[atomicWrite]]) with content referencing `v`
    * @param result       the caller-visible result once `v` is committed
    */
  final case class Attempt[T](
      writeVersion: Long => Unit,
      swap: Long => Unit,
      result: Long => T)

  private val commitLocks = new ConcurrentHashMap[String, Object]()
  private val versionCounters = new ConcurrentHashMap[String, AtomicLong]()
  /** `"$tableKey/v$n"` entries reserved but not yet committed/discarded. */
  private val inFlight = ConcurrentHashMap.newKeySet[String]()

  /** Canonical identity of a table directory (absolute, normalized) —
    * two store instances over the same path share locks and counters. */
  def tableKey(tableDir: String): String =
    Paths.get(tableDir).toAbsolutePath.normalize.toString

  def lockFor(tableDir: String): Object =
    commitLocks.computeIfAbsent(tableKey(tableDir), _ => new Object)

  /** Pointer content, None if the table does not exist yet. */
  def readPointer(tableDir: String, pointerFile: String): Option[String] = {
    val p = Paths.get(tableDir, pointerFile)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p))) else None
  }

  /** tmp-file + ATOMIC_MOVE replace — the only way pointers are written. */
  def atomicWrite(tableDir: String, pointerFile: String, body: String): Unit = {
    val tmp = Paths.get(tableDir, s"$pointerFile.tmp")
    Files.write(tmp, body.getBytes)
    Files.move(tmp, Paths.get(tableDir, pointerFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Next unused version number — scanned from the directory (orphans from
    * crashed commits are skipped, never reused), floored by the JVM-wide
    * monotonic counter (numbers never reused while a loser's delete is in
    * progress). Creates the directory and registers it in-flight, all
    * under the table lock. */
  def reserveVersion(tableDir: String): Long = lockFor(tableDir).synchronized {
    Files.createDirectories(Paths.get(tableDir))
    val scanned = versionDirs(tableDir).lastOption.getOrElse(-1L) + 1
    val ctr = versionCounters.computeIfAbsent(tableKey(tableDir), _ => new AtomicLong(-1L))
    val v = math.max(scanned, ctr.get + 1)
    ctr.set(v)
    Files.createDirectories(Paths.get(s"$tableDir/v$v"))
    inFlight.add(s"${tableKey(tableDir)}/v$v")
    v
  }

  /** Version directories `vN/` on disk under `tableDir` (live, superseded
    * and crash orphans alike), ascending; empty if the table directory does
    * not exist. The directory stream is closed: one leaked fd per commit
    * adds up. */
  def versionDirs(tableDir: String): Seq[Long] = {
    val d = Paths.get(tableDir)
    if (!Files.exists(d)) Nil
    else {
      val ls = Files.list(d)
      try ls.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
        .toSeq.sorted
      finally ls.close()
    }
  }

  /** Is `vN/` reserved by a commit that has neither landed nor aborted? */
  def isInFlight(tableDir: String, versionName: String): Boolean =
    inFlight.contains(s"${tableKey(tableDir)}/$versionName")

  def deleteDir(path: Path): Unit =
    if (Files.exists(path)) {
      val walk = Files.walk(path)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }

  /** One optimistic attempt: compute against the current pointer snapshot,
    * write, CAS-swap. Returns None on a lost race (the reserved version
    * dir is deleted); the caller decides whether to retry ([[commitLoop]])
    * or abandon (compaction — the next commit re-triggers it). */
  def commitOnce[T](tableDir: String, pointerFile: String)
      (compute: Option[String] => Attempt[T]): Option[T] = {
    val snap = readPointer(tableDir, pointerFile)
    val attempt = compute(snap)
    val v = reserveVersion(tableDir)
    // `committed` flips the moment swap() lands: from then on v is the
    // LIVE version and must never be deleted — even if the result thunk
    // below throws, the pointer already references v
    var committed = false
    // in-flight registration is released in finally: a failed write (or
    // cancellation) must not leak the entry, or vacuum could never reclaim
    // the half-written dir for the life of the JVM
    try {
      attempt.writeVersion(v)
      lockFor(tableDir).synchronized {
        if (readPointer(tableDir, pointerFile) == snap) {
          attempt.swap(v)
          committed = true
        }
      }
    } finally {
      // losers/failures delete before deregistering so vacuum never races
      // the walk; winners deregister their (now live) dir only
      if (!committed) deleteDir(Paths.get(s"$tableDir/v$v"))
      inFlight.remove(s"${tableKey(tableDir)}/v$v")
    }
    if (committed) Some(attempt.result(v)) else None
  }

  /** The standard writer path: retry [[commitOnce]] until the swap lands
    * (each retry recomputes against the new winner's state). */
  def commitLoop[T](tableDir: String, pointerFile: String, maxRetries: Int = 20)
      (compute: Option[String] => Attempt[T]): T = {
    for (_ <- 1 to maxRetries)
      commitOnce(tableDir, pointerFile)(compute).foreach(r => return r)
    throw new IllegalStateException(
      s"table $tableDir: $maxRetries consecutive commit conflicts")
  }

  /** Delete version directories the live set does not reference — except
    * in-flight ones. `liveVersions` comes from the store's pointer parse;
    * `ageMillis` maps a dead version number to its age (tombstone- or
    * mtime-based) for retention. Runs under the table lock so it never
    * interleaves with a commit's check-and-swap. Returns reclaimed
    * version numbers. */
  def vacuumVersions(tableDir: String, liveVersions: Set[Long],
                     retainMillis: Long = 0L,
                     ageMillis: Long => Long): Seq[Long] =
    lockFor(tableDir).synchronized {
      val dead = versionDirs(tableDir)
        .filterNot(liveVersions.contains)
        .filterNot(v => isInFlight(tableDir, s"v$v"))
        .filter(v => ageMillis(v) >= retainMillis)
      dead.foreach(v => deleteDir(Paths.get(s"$tableDir/v$v")))
      dead
    }
}
