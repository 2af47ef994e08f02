package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.HeavyHitters
import graft.plans.TableStore
import graft.Materialize.MaterializeOps

/** Continuous frequent-items monitoring over a STREAM — the operational
  * twin of [[HeavyHitters.heavyHitters]], completing the r10 monitor
  * family (audit / drift / dedup / quantiles / heavy hitters): per
  * micro-batch the cumulative counter state updates and the current
  * top items MERGE into the verdict sink with EXPLICIT error bounds.
  *
  * Exact streaming heavy hitters needs Ω(n) space (an item can sit just
  * under every per-batch threshold), so the monitor is honest about
  * what bounded state buys — per batch b it folds the EXACT counts of
  * that batch's Misra-Gries candidates (≤ k·partitions items; any
  * NON-candidate has batch count ≤ ⌊n_b/k⌋ by the MG pigeonhole) and
  * tracks, per tracked item, `aerr` = the sum of ⌊n_b/k⌋ over batches
  * where it was NOT counted (plus the prune floor below). Invariants,
  * asserted in the spec:
  *
  *   - cnt ≤ true count ≤ cnt + aerr for every tracked item;
  *   - every item with true count > err_all + floor_err is tracked —
  *     ABSENT items are bounded above by err_all + floor_err, NOT by
  *     err_all alone: a never-tracked item's count is ≤ err_all
  *     (= Σ_b ⌊n_b/k⌋), but a PRUNED item's bound at prune time was
  *     ≤ floor_err and it can accrue at most err_all more afterwards,
  *     so only the sum bounds both cases. The verdict rows carry BOTH
  *     scalars so a consumer can apply the honest absence bound.
  *
  * State is capped at `cap` items by (cnt + aerr) descending; pruning
  * folds the largest pruned bound into a scalar `floor_err`, and items
  * (re-)entering later start at aerr = err_all + floor_err — a
  * conservative but VALID upper bound covering both "missed in earlier
  * batches" and "tracked once, pruned, returned".
  *
  * EXACTLY-ONCE is a BATCH-ID WATERMARK, not content dedup: counter
  * state (unlike [[StreamingQuantiles]]' sample SET) cannot absorb the
  * same rows twice, so the state table carries `upto` = the last merged
  * batch id, committed ATOMICALLY with the counters in one replaceTable
  * — and only AFTER that batch's verdict row is durably merged, so
  * `upto` reaching b proves verdict b exists. A replayed micro-batch at
  * the watermark (batchId == upto) skips the merge and re-emits its
  * idempotent keyed verdict from the committed state; one strictly
  * below it skips both (its verdict is already durable by the ordering
  * invariant). The classic transactional-offset pattern — which also
  * means one state table serves ONE logical stream+checkpoint lineage.
  *
  * Scale: per batch one map-only MG candidate pass + one exact
  * candidate recount (the [[HeavyHitters]] shuffle ledger), a ≤cap-row
  * driver fold, one k-row atomic replaceTable. The item stream is never
  * re-scanned; state is cap counters at any vocabulary size.
  */
object StreamingHeavyHitters {

  private case class St(item: String, cnt: Long, aerr: Long)

  def start(stream: DataFrame, itemCol: String, k: Int,
            store: TableStore, stateTable: String, verdictTable: String,
            checkpointDir: String, cap: Int = 4096, topM: Int = 20,
            vacuumEveryBatches: Int = 0,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(k >= 2, "k must be >= 2")
    require(cap >= 4 * k, "cap should comfortably exceed k")
    require(topM >= 1 && topM <= cap, "topM out of range")
    val spark = stream.sparkSession
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch block scope: see Materialize.scoped
        graft.Materialize.scoped(batch.sparkSession.sparkContext) {
        import spark.implicits._
        // ---- load state ----------------------------------------------
        val (prev, nSeen0, errAll0, floorErr0, upto0) =
          if (store.exists(stateTable)) {
            val rows = store.read(stateTable).collect()
            val meta = rows.head // every row carries the same meta
            (rows.map(r => St(r.getAs[String]("item"), r.getAs[Long]("cnt"),
                r.getAs[Long]("aerr"))).toSeq,
              meta.getAs[Long]("n_seen"), meta.getAs[Long]("err_all"),
              meta.getAs[Long]("floor_err"), meta.getAs[Long]("upto"))
          } else (Seq.empty[St], 0L, 0L, 0L, -1L)

        var state = prev
        var nSeen = nSeen0; var errAll = errAll0; var floorErr = floorErr0
        var upto = upto0
        // lineage note: a batchId strictly BELOW the watermark is either
        // the SUPPORTED fresh-checkpoint tail replay (same data, renumbered
        // from 0 — skipping is exactly right, proven in StreamingSpec) or a
        // wiped checkpoint whose NEW lineage numbers different data below
        // upto (skipping would drop rows). The two are indistinguishable
        // from ids alone, so the skip stays but the hazard surfaces loudly.
        if (batchId < upto0)
          System.err.println(s"[graft] StreamingHeavyHitters: batch $batchId " +
            s"below state watermark $upto0 — skipping as a replay. If this " +
            "checkpoint is NEW over old state with DIFFERENT batching, " +
            "counts will silently drop rows: wipe the state table too.")
        if (batchId > upto0) {
          // ---- batch: exact counts of the MG candidate set -----------
          // The fold must re-derive IDENTICALLY on a crash replay (the
          // verdict-before-watermark ordering depends on it), so the MG
          // candidate pass cannot run on arrival partitioning — input
          // splits change with executor count across restarts. Hash-
          // partitioning by item first makes the candidate set a pure
          // function of (batch content, spark.sql.shuffle.partitions):
          // each item's full batch count lands in ONE partition. Cost is
          // unchanged — the exact-count groupBy below REUSES this
          // exchange instead of adding its own. (Changing
          // shuffle.partitions between a crash and its replay would
          // still perturb the candidate set; keep it pinned per stream.)
          val strItems = batch.select(col(itemCol).cast("string").as("item"))
            .filter(col("item").isNotNull)
          val obs = Observation()
          val spreadItems = strItems
            .observe(obs, count(lit(1)).as("n"))
            .repartition(col("item"))
            .materialized // read twice: candidate pass + recount
          val cands = spreadItems
            .as[String]
            .mapPartitions(it => HeavyHitters.mgSummary(k, it))
            .toDF("item").distinct()
            .materialized
          val nB = graft.plans.Observed.poll(obs).flatMap(_.get("n"))
            .map(_.asInstanceOf[Long]).getOrElse(strItems.count())
          if (nB > 0) {
            val counted = spreadItems.join(broadcast(cands), "item")
              .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            val errB = nB / k
            // ---- driver fold over ≤ cap + k·P counters ---------------
            val entryAerr = errAll + floorErr
            val known = state.map(_.item).toSet
            val updated = state.map { s =>
              counted.get(s.item) match {
                case Some(c) => s.copy(cnt = s.cnt + c)
                case None    => s.copy(aerr = s.aerr + errB)
              }
            } ++ counted.collect { case (item, c) if !known(item) =>
              St(item, c, entryAerr)
            }
            errAll += errB
            nSeen += nB
            // ---- prune to cap, folding pruned bounds into floor_err --
            val sorted = updated.sortBy(s => (-(s.cnt + s.aerr), s.item))
            val (keep, pruned) = sorted.splitAt(cap)
            if (pruned.nonEmpty)
              floorErr = math.max(floorErr,
                pruned.iterator.map(s => s.cnt + s.aerr).max)
            state = keep
          }
          upto = batchId
        }
        // ---- verdict: current top items with bounds (idempotent) -----
        // Emitted BEFORE the state watermark advances (the replaceTable
        // below): the watermark reaching b then PROVES batch b's verdict
        // is durable, so a stale replay (batchId < upto0) can safely skip
        // re-emission — re-emitting there would rebuild the row from the
        // FINAL cumulative state and flatten the per-batch time series.
        // A crash between the two merges replays as batchId > upto and
        // re-derives the IDENTICAL fold (deterministic in prior state +
        // batch content), so the keyed re-merge is a no-op.
        // batchId == upto0 (state committed, tail replay) re-emits from
        // the loaded state — idempotent because the state matches the id.
        val top = if (batchId >= upto0) state.sortBy(s => (-s.cnt, s.item)).take(topM)
          else Seq.empty[St]
        if (top.nonEmpty) {
          val verdict = top.toDF()
            .select(lit(batchId).as("batch_id"), col("item"),
              col("cnt").as("cnt_lo"), (col("cnt") + col("aerr")).as("cnt_hi"))
            .withColumn("n_seen", lit(nSeen))
            .withColumn("err_all", lit(errAll))
            // absence bound = err_all + floor_err (see invariant above);
            // emitting only err_all would let a consumer under-bound a
            // pruned-and-absent item's true count
            .withColumn("floor_err", lit(floorErr))
          store.mergeFact(verdictTable, verdict, Seq("batch_id", "item"))
        }
        // ---- atomic state commit: counters + watermark together, AFTER
        // the verdict so the watermark never outruns a durable verdict --
        if (batchId > upto0 && state.nonEmpty) {
          store.replaceTable(stateTable,
            state.toDF()
              .withColumn("n_seen", lit(nSeen))
              .withColumn("err_all", lit(errAll))
              .withColumn("floor_err", lit(floorErr))
              .withColumn("upto", lit(upto)),
            Seq("item"))
        }
        if (top.nonEmpty && vacuumEveryBatches > 0 &&
            (batchId + 1) % vacuumEveryBatches == 0) {
          if (store.exists(stateTable)) store.vacuum(stateTable)
          if (store.exists(verdictTable)) store.vacuum(verdictTable)
        }
        ()
      }
      }
      .start()
  }
}
