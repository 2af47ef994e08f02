package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Config-routable eager materialization — the ONE place every operator
  * goes through when it needs a frame computed once and re-read by several
  * downstream branches (iterative loops cutting lineage, multi-consumer
  * staging frames, merge writers snapshotting a store version).
  *
  * Mode is `spark.graft.materialize` (read per call, so a session can
  * switch mid-stream), one of:
  *
  *   - `local` (default): `localCheckpoint(eager = true)` — partitions
  *     stored on the executors (memory, spilling to disk), lineage
  *     truncated, blocks reclaimed by the ContextCleaner on driver GC.
  *     Fastest, and the right choice on static executors (this sandbox,
  *     dedicated clusters) — but NOT fault-tolerant: losing an executor
  *     loses blocks with no lineage to recompute them, failing the job.
  *   - `reliable`: `checkpoint(eager = true)` to the SparkContext
  *     checkpoint dir — survives executor loss, the right choice under
  *     dynamic allocation / preemptible (spot) executors where an
  *     8-iteration PageRank or a 64-round BPE train must not die with one
  *     node. If no checkpoint dir is set, `spark.graft.checkpointDir` is
  *     applied; with neither, this fails loudly rather than guessing a
  *     path. Checkpoint FILES outlive the job unless
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true`.
  *   - `persist`: `persist(MEMORY_AND_DISK)` + a forcing `count()` —
  *     keeps lineage (recompute on block loss instead of job failure,
  *     at recompute-the-subtree cost) and pays one extra pass for the
  *     forcing action. Two consequences a deployer must weigh (the r15
  *     review): because lineage is KEPT, each loop round of an
  *     iterative operator nests the previous round's plan — fine at
  *     this library's bounded depths (PageRank ≤ 50, BPE ≤ 64 rounds;
  *     analysis cost grows quadratically with depth), wrong for
  *     unbounded loops, where `reliable` is the fault-tolerant choice
  *     that also cuts lineage. Outside a [[scoped]] block, entries park
  *     in the CacheManager for the session and every later query scans
  *     them; inside one, the scope's exit removes them. A THIRD caveat
  *     (the r15 review): the recompute-on-block-loss guarantee does
  *     NOT hold across the table store's vacuum. Inside
  *     [[graft.plans.BucketedMergeWriter]] commit paths, kept lineage
  *     bottoms out in parquet scans of the store version that was
  *     CURRENT at materialization time; once `vacuum` deletes
  *     superseded versions, recomputing a lost block reads deleted
  *     files and fails — and even before vacuum, a
  *     concurrent commit can make the recompute read a DIFFERENT
  *     version than the one the block was cut from. Under `persist`,
  *     treat any executor loss that lands mid-merge as a job failure
  *     to rerun (the store's CAS manifest makes reruns safe); for
  *     genuine in-flight fault tolerance over the table store, use
  *     `reliable`, whose lineage cut snapshots the bytes.
  *
  * All three produce IDENTICAL results (MaterializeSpec proves it on the
  * iterative pageRankDirected); only failure semantics and storage
  * placement differ.
  *
  * '''Scopes.''' [[scoped]] frees exactly what was materialized inside it:
  * a star micro-batch, a monitor's micro-batch, one Bench attempt or one
  * Verify query. The scope puts its id in the thread's local property
  * [[ScopeKey]]; `apply` records a release action under that id, and the
  * scope's exit runs them. Nothing materialized inside a scope may be
  * read after the scope returns. Frames made outside any scope are not
  * recorded, and the ContextCleaner frees their blocks after driver GC.
  * `local` releases the checkpointed RDD (the `LogicalRDD` under the
  * returned frame) with `SparkContext.unpersistRDD` through [[Bridge]]:
  * the same block removal as `RDD.unpersist`, without its WARN that a
  * locally checkpointed RDD "cannot be recomputed after unpersisting" —
  * that is the point of the release. `persist` releases with
  * `Dataset.unpersist`, which also drops the CacheManager entry.
  * `reliable` records nothing: its files follow the cleaner flag above.
  */
object Materialize {

  /** The local property that names the open [[scoped]] block. A thread
    * that runs work for a scope on another thread (a pooled future) copies
    * it there, because pooled threads keep stale local properties. */
  private[graft] val ScopeKey = "graft.materialize.scope"

  private val nextScope = new AtomicLong
  /** Open scopes: id → release actions recorded under it. */
  private val open = new ConcurrentHashMap[String, ConcurrentLinkedQueue[() => Unit]]()

  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    ds.sparkSession.conf.get("spark.graft.materialize", "local") match {
      case "local" =>
        val out = ds.localCheckpoint(eager = true)
        out.queryExecution.logical match {
          case r: LogicalRDD =>
            val id = r.rdd.id
            record(sc, () => Bridge.unpersistRdd(sc, id))
          case _ => ()
        }
        out
      case "reliable" =>
        if (sc.getCheckpointDir.isEmpty) {
          val dir = ds.sparkSession.conf.getOption("spark.graft.checkpointDir")
            .getOrElse(throw new IllegalStateException(
              "spark.graft.materialize=reliable needs a checkpoint dir: " +
                "call sparkContext.setCheckpointDir or set spark.graft.checkpointDir"))
          sc.setCheckpointDir(dir)
        }
        ds.checkpoint(eager = true)
      case "persist" =>
        val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
        p.count() // persist is lazy; the count makes eagerness uniform across modes
        record(sc, () => p.unpersist(blocking = false))
        p
      case other => throw new IllegalArgumentException(
        s"spark.graft.materialize must be local|reliable|persist, got '$other'")
    }
  }

  /** Records `release` under this thread's open scope, if any. A stale id
    * (its scope already closed) records nothing. */
  private def record(sc: SparkContext, release: () => Unit): Unit =
    Option(sc.getLocalProperty(ScopeKey)).foreach { id =>
      open.computeIfPresent(id, (_, rs) => { rs.add(release); rs })
    }

  /** Runs `body` as one scope and, on exit, releases exactly what `apply`
    * materialized inside it, on this thread or on any thread that carries
    * its [[ScopeKey]]. `free` is read at exit: false keeps the blocks (a
    * caller that cannot prove its readers have stopped), and the
    * ContextCleaner reclaims them later. Scopes nest: the caller's scope id
    * is restored on exit. */
  def scoped[T](sc: SparkContext, free: => Boolean = true)(body: => T): T = {
    val id = s"scope-${nextScope.incrementAndGet()}"
    val outer = sc.getLocalProperty(ScopeKey)
    val releases = new ConcurrentLinkedQueue[() => Unit]()
    open.put(id, releases)
    sc.setLocalProperty(ScopeKey, id)
    try body
    finally {
      sc.setLocalProperty(ScopeKey, outer)
      open.remove(id)
      if (free) releases.forEach(_())
    }
  }

  /** `df.materialized` — the call-site form every operator uses. */
  implicit final class MaterializeOps[T](private val ds: Dataset[T]) extends AnyVal {
    def materialized: Dataset[T] = Materialize(ds)
  }
}
