package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.plans.{AggMaintenance, BucketedMergeWriter, TableStore}

/** Idempotent incremental aggregate maintenance: per-(key, batch) partial
  * slices make replays exactly-once (a replayed batch overwrites its own
  * slice), compaction folds history atomically via replaceTable, and the
  * rollup always equals the from-scratch recompute. */
class AggMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("day")
  private val adds = Seq("revenue", "n")

  private def delta(rows: (String, Long, Long)*) =
    rows.toDF("day", "revenue", "n")

  private def rollup(store: TableStore): Map[String, (Long, Long)] =
    AggMaintenance.read(store, "rev_by_day", keys, adds).collect()
      .map(r => r.getAs[String]("day") ->
        (r.getAs[Long]("revenue"), r.getAs[Long]("n"))).toMap

  private def exercise(store: TableStore): Unit = {
    AggMaintenance.upsertSlice(store, "rev_by_day",
      delta(("d1", 100L, 2L), ("d2", 50L, 1L)), keys, batchId = 0)
    AggMaintenance.upsertSlice(store, "rev_by_day",
      delta(("d1", 10L, 1L), ("d3", 7L, 1L)), keys, batchId = 1)
    // REPLAY of batch 1 (checkpoint restart): must absorb, not double-add
    AggMaintenance.upsertSlice(store, "rev_by_day",
      delta(("d1", 10L, 1L), ("d3", 7L, 1L)), keys, batchId = 1)
    assert(rollup(store) === Map(
      "d1" -> ((110L, 3L)), "d2" -> ((50L, 1L)), "d3" -> ((7L, 1L))))

    // compaction folds slices up to the watermark; rollup unchanged;
    // slice count collapses to one row per key
    AggMaintenance.compact(store, "rev_by_day", keys, adds, upTo = 1)
    assert(rollup(store) === Map(
      "d1" -> ((110L, 3L)), "d2" -> ((50L, 1L)), "d3" -> ((7L, 1L))))
    assert(store.read("rev_by_day").count() === 3,
      "compaction must leave one slice row per key")
    // compacting twice at the same watermark is a no-op
    AggMaintenance.compact(store, "rev_by_day", keys, adds, upTo = 1)
    assert(rollup(store)("d1") === ((110L, 3L)))

    // REPLAY of batch 1 AFTER its slice was folded: must be absorbed (its
    // contribution lives inside the compacted slice; re-adding it would
    // double-count) — the watermark encoded in the fold's slice id
    AggMaintenance.upsertSlice(store, "rev_by_day",
      delta(("d1", 10L, 1L), ("d3", 7L, 1L)), keys, batchId = 1)
    assert(rollup(store) === Map(
      "d1" -> ((110L, 3L)), "d2" -> ((50L, 1L)), "d3" -> ((7L, 1L))),
      "a batch folded into the compacted slice must not be re-added on replay")

    // maintenance continues after compaction
    AggMaintenance.upsertSlice(store, "rev_by_day",
      delta(("d1", 5L, 1L)), keys, batchId = 2)
    assert(rollup(store)("d1") === ((115L, 4L)))
    // a LOWER watermark cannot reopen folded batches (effective = max)
    AggMaintenance.compact(store, "rev_by_day", keys, adds, upTo = 0)
    assert(rollup(store)("d1") === ((115L, 4L)))
    AggMaintenance.upsertSlice(store, "rev_by_day",
      delta(("d1", 10L, 1L), ("d3", 7L, 1L)), keys, batchId = 1)
    assert(rollup(store)("d1") === ((115L, 4L)),
      "watermark must never move backwards")
  }

  test("additive rollup maintenance is replay-idempotent and compactable [bucketed]") {
    exercise(new BucketedMergeWriter(spark,
      Files.createTempDirectory("graft-agg-b").toString, nBuckets = 4))
  }

  test("replaceTable drops rows absent from the replacement (delete by omission)") {
    val store = new BucketedMergeWriter(spark,
      Files.createTempDirectory("graft-replace").toString, nBuckets = 4)
    store.mergeFact("t", (1L to 100L).map(i => (i, i * 2)).toDF("k", "v"), Seq("k"))
    store.replaceTable("t", Seq((7L, 0L), (8L, 1L)).toDF("k", "v"), Seq("k"))
    val rows = store.read("t").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(7L -> 0L, 8L -> 1L))
  }
}
