package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.ApproxQuantile
import graft.plans.TableStore
import graft.Materialize.MaterializeOps

/** Continuous quantile monitoring over a STREAM — the operational twin of
  * [[ApproxQuantile.sampledQuantiles]], closing the r10 rank-sketch
  * family: per micro-batch, the CUMULATIVE bottom-k-by-hash sample is
  * updated and one verdict row (p50/p99/… over everything seen so far)
  * MERGEs into the sink keyed by batch_id — the latency/size dashboard a
  * 100 TB ingest watches beside [[StreamingDrift]]'s PSI.
  *
  * Why this composes EXACTLY (no approximation drift across batches):
  * the bottom-k state is a pure function of the SET of (hash, value)
  * pairs seen — so folding batches one at a time, in any order, with any
  * batching, yields the BIT-IDENTICAL sample a single batch pass over
  * the union would build: bottomK(D ∪ B) = bottomK(distinct(bottomK(D)
  * ∪ bottomK(B))) (a pair dropped from either side is above its own
  * k-th smallest and can never re-enter the union's bottom-k). Proven
  * against the batch operator in the spec. `idCols` must uniquely key
  * rows (the [[ApproxQuantile.sampledQuantiles]] contract) — under it,
  * the set-dedup also makes a REPLAYED micro-batch a no-op: same rows →
  * same pairs → same state, and the verdict MERGE overwrites its own
  * batch_id row. Effectively-once without Spark-managed state — the
  * [[StreamToStar]] pattern (all state lives in merged tables).
  *
  * Scale: per batch one TakeOrdered(k) over the batch (map-side top-k,
  * one tiny shuffle), a ≤2k-row dedup-sort, one k-row atomic
  * replaceTable, one collect_list over ≤k rows for the readout. The
  * value stream is never re-scanned; state is k pairs, any tail shape.
  */
object StreamingQuantiles {

  def start(stream: DataFrame, valueCol: String, idCols: Seq[String],
            qs: Seq[(String, Double)],
            store: TableStore, stateTable: String, verdictTable: String,
            checkpointDir: String, k: Int = 1024,
            vacuumEveryBatches: Int = 0,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(qs.nonEmpty && qs.forall { case (_, q) => q >= 0 && q <= 1 },
      "quantile fractions must be in [0, 1]")
    require(k >= 16 && k <= (1 << 20), "sample size k must be in [16, 2^20]")
    val spark = stream.sparkSession
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch block scope: see Materialize.scoped
        graft.Materialize.scoped(batch.sparkSession.sparkContext) {
        val pairs = batch.filter(col(valueCol).isNotNull)
          .select(ApproxQuantile.rowHash60(idCols).as("h"),
            col(valueCol).cast("double").as("v"))
        // (h, v) SET dedup BEFORE the limit: the cross-batch state is a
        // set, and a multiset bottom-k here would let an in-batch
        // redelivery occupy two slots and evict the true k-th pair —
        // making the final sample depend on batching, which the header
        // forbids
        val batchTop = pairs.dropDuplicates("h", "v")
          .orderBy(col("h"), col("v")).limit(k)
        val prev = if (store.exists(stateTable)) store.read(stateTable)
                   else spark.emptyDataFrame
            .withColumn("h", lit(0L)).withColumn("v", lit(0d)).limit(0)
        val state = prev.unionByName(batchTop)
          .dropDuplicates("h", "v")
          .orderBy(col("h"), col("v")).limit(k)
          .materialized // replaceTable + readout both consume it
        val m = state.count()
        if (m > 0) {
          store.replaceTable(stateTable, state, Seq("h"))
          // k ≤ 2^20 values: a driver-sized sort_array readout, shaped
          // exactly like the batch operator's (shared readSampleQuantiles)
          val sampled = state
            .agg(sort_array(collect_list(col("v"))).as("_smp"))
            .withColumn("batch_id", lit(batchId))
            .withColumn("n_sample", size(col("_smp")).cast("long"))
          val verdict = ApproxQuantile.readSampleQuantiles(
            sampled, Seq("batch_id", "n_sample"), qs)
          store.mergeFact(verdictTable, verdict, Seq("batch_id"))
        }
        // both tables accrete one store version per micro-batch — a
        // resident query must reclaim them (the StreamingDedup knob)
        if (vacuumEveryBatches > 0 && (batchId + 1) % vacuumEveryBatches == 0) {
          if (store.exists(stateTable)) store.vacuum(stateTable)
          if (store.exists(verdictTable)) store.vacuum(verdictTable)
        }
        ()
      }
      }
      .start()
  }
}
