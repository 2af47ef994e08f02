package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.plans.TableStore
import graft.Materialize.MaterializeOps

/** Incremental NO-SPLIT packing over a document STREAM — the operational
  * twin of [[graft.operators.Packing.nextFitPack]]: per micro-batch,
  * arriving documents extend the pack layout WITHOUT re-walking anything
  * already packed. Per id-range the persisted state is one row —
  * (last open bin, its fill) — and a batch's walk seeds from it, so a
  * range's bins keep filling exactly where the previous batch stopped.
  *
  * Semantics: documents pack in ascending id order WITHIN each
  * (micro-batch, range); when ids arrive in ascending order per range
  * (the append-only ingest case), the accumulated layout is BIT-IDENTICAL
  * to running the batch operator over the full corpus — asserted in
  * StreamingSpec. Out-of-order arrivals still pack deterministically (in
  * arrival-batch order), they just differ from the all-at-once layout,
  * exactly like any online bin packer.
  *
  * Assignments are emitted as (`doc_id`, `n_tok`, `rng`, `lbin`,
  * `fill_before`) with (rng, lbin) the STABLE streaming bin key — global
  * dense bin ids are a batch readout (prefix-sum over ranges, see
  * nextFitPack) because a global offset cannot be final while earlier
  * ranges still receive documents.
  *
  * EXACTLY-ONCE is the [[StreamingHeavyHitters]] batch-id watermark:
  * pack state (unlike a set) cannot absorb the same documents twice, so
  * every state row carries `upto` = the last folded batch id, committed
  * (keyed merge on rng — O(touched ranges)) AFTER the idempotent keyed
  * assignment merge. A replayed batch (batchId ≤ max upto) skips both:
  * its assignments are already in (they merge BEFORE the state commit);
  * a crash between the two replays the batch against the UNCHANGED state
  * and re-derives byte-identical assignments.
  *
  * INPUT CONTRACT — ids are unique across the stream's lifetime: the
  * watermark absorbs REPLAYS of a batch, but a NOVEL re-delivery of an
  * already-packed doc_id in a later batch (source retention re-read, CDC
  * update) would be walked again — double-counting its tokens in the
  * range state while the keyed assignment merge overwrites its old bin,
  * leaving a hole no reader can see. Sources without the guarantee must
  * pre-filter (`batch.join(store.read(assignTable), Seq(idCol),
  * "left_anti")`, or a Bloom of packed ids at scale) before the fold.
  *
  * Scale: per batch one shuffle to co-locate ranges (state sentinels ride
  * the same shuffle), an O(batch) in-partition walk with O(1) state, one
  * keyed merge ∝ batch, one state replace ∝ touched ranges.
  */
object StreamingPacker {

  /** One micro-batch fold; public so specs (and batch callers) can drive
    * replays directly. Safe to call with the same (batch, batchId) twice. */
  def processBatch(batch: DataFrame, batchId: Long, store: TableStore,
                   stateTable: String, assignTable: String,
                   capacity: Long, rangeWidth: Long,
                   idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(capacity >= 1 && rangeWidth >= 2, "bad capacity/rangeWidth")
    val spark = batch.sparkSession
    import spark.implicits._
    val upto =
      if (store.exists(stateTable))
        store.read(stateTable).agg(max(col("upto"))).head().getLong(0)
      else -1L
    if (batchId <= upto) return // replay past the watermark: all merged
    val tf = batch
      .select(col(idCol).as("_id"),
        graft.operators.Packing.tokenCount(col(textCol)).as("_n"))
      .filter(col("_n") > 0)
      .withColumn("_rng", expr(s"_id DIV $rangeWidth"))
      .select(col("_rng"), col("_id"), col("_n"), lit(-1L).as("_lb"),
        lit(false).as("_st"))
    // state sentinels sort FIRST in their range (id = MinValue) and seed
    // the walk; `_n` carries the open bin's fill for sentinel rows
    val sent =
      if (store.exists(stateTable))
        store.read(stateTable).select(col("rng").as("_rng"),
          lit(Long.MinValue).as("_id"), col("fill").as("_n"),
          col("lbin").as("_lb"), lit(true).as("_st"))
      else spark.emptyDataset[(Long, Long, Long, Long, Boolean)]
        .toDF("_rng", "_id", "_n", "_lb", "_st")
    // `_st` DESC tie-break: a REAL doc with id == Long.MinValue must not
    // sort ahead of its range's state sentinel (same id) and walk against
    // unseeded state
    val walked = tf.unionByName(sent)
      .as[(Long, Long, Long, Long, Boolean)]
      .repartition(col("_rng"))
      .sortWithinPartitions(col("_rng"), col("_id"), col("_st").desc)
      .mapPartitions { it =>
        var curRng = Long.MinValue
        var fill = 0L
        var lbin = -1L
        it.flatMap { case (rng, id, n, lb, isState) =>
          if (rng != curRng) { curRng = rng; fill = 0L; lbin = -1L }
          if (isState) { fill = n; lbin = lb; Iterator.empty }
          else {
            if (lbin < 0 || fill + n > capacity) { lbin += 1; fill = 0L }
            val before = fill
            fill += n
            Iterator.single((rng, id, n, lbin, before))
          }
        }
      }
      .toDF("rng", "doc_id", "n_tok", "lbin", "fill_before")
      .materialized // read twice: assignment merge + state fold
    if (!walked.isEmpty) {
      // 1) idempotent keyed assignments FIRST (see exactly-once contract)
      store.mergeFact(assignTable,
        walked.select(col("doc_id"), col("n_tok"), col("rng"), col("lbin"),
          col("fill_before")),
        Seq("doc_id"))
      // 2) then state: touched ranges advance to their last doc's fill
      val touched = walked.groupBy(col("rng")).agg(
        max_by(struct(col("lbin"), (col("fill_before") + col("n_tok"))
          .as("fill")), col("doc_id")).as("s"))
        .select(col("rng"), col("s.lbin").as("lbin"), col("s.fill").as("fill"))
      // keyed MERGE, not a full-table rewrite: only touched ranges get
      // restamped — the watermark is read as max(upto), which one touched
      // row advances, so untouched rows keep their old stamp at O(touched)
      // write cost instead of O(all ranges) per batch. An EMPTY batch
      // advances nothing: replaying an empty batch is already a no-op.
      store.mergeFact(stateTable,
        touched.withColumn("upto", lit(batchId)), Seq("rng"))
    }
  }

  def start(docs: DataFrame, store: TableStore,
            stateTable: String, assignTable: String, checkpointDir: String,
            capacity: Long, rangeWidth: Long = 1L << 16,
            idCol: String = "doc_id", textCol: String = "text",
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(docs.isStreaming, "docs must be a streaming DataFrame")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch block scope: see Materialize.scoped
        graft.Materialize.scoped(batch.sparkSession.sparkContext) {
        processBatch(batch, batchId, store, stateTable, assignTable,
          capacity, rangeWidth, idCol, textCol)
      }
      }
      .start()
  }

  /** Batch readout: the accumulated assignments with GLOBAL dense bin
    * ids — the same prefix-sum-over-ranges finish as the batch operator.
    * Run when the layout is consumed (epoch close), not per batch. */
  def globalBins(assignments: DataFrame): DataFrame = {
    val roff = assignments.groupBy(col("rng"))
      .agg((max(col("lbin")) + 1L).as("_nb"))
      // control-plane frame: one row per id RANGE — O(ranges), not O(docs)
      .withColumn("_boff", coalesce(
        sum(col("_nb")).over(Window.orderBy(col("rng"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_nb")
    assignments.join(broadcast(roff), "rng")
      .select(col("doc_id"), col("n_tok"),
        (col("_boff") + col("lbin")).as("bin_id"), col("fill_before"))
  }
}
