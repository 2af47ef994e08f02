package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.IncrementalDedupIndex

/** Continuous near-dup detection over a document STREAM — the operational
  * composition of [[graft.operators.IncrementalDedupIndex]] with
  * Structured Streaming: each micro-batch of arriving documents is
  * indexed and compared against everything already indexed (batch ×
  * (indexed ∪ batch) through the persisted band tables — never old×old),
  * its near-dup pairs appended to a sink table, and the index committed
  * via idempotent MERGE so a replayed micro-batch (crash between the
  * sink write and the checkpoint commit) re-emits pairs without ever
  * corrupting the index — the same effectively-once contract as the star
  * pipeline, from the same building blocks.
  *
  * The pair sink is keyed MERGE on (doc_a, doc_b), so replays are
  * absorbed there too: at-least-once emission + keyed idempotent sink =
  * exactly-once pair rows. Run `index.maintain()` on a schedule (or pass
  * `vacuumEveryBatches`) to keep superseded index versions reclaimed
  * under sustained ingest.
  *
  * Scale: identical to the batch index — per-micro-batch cost ∝ batch
  * size and touched buckets (measured flat as the index grows 9×,
  * SCALE.md); the stream adds only checkpoint bookkeeping.
  */
object StreamingDedup {

  /** Start a stream that drains `docs` (a streaming DataFrame with
    * `doc_id`/`text` columns) into the index, merging emitted pairs into
    * `pairsTable` in the index's own store. Returns the running query.
    *
    * The default trigger is AvailableNow — process the current backlog
    * and stop (the batch-job-over-a-stream shape, and what a test
    * drains); pass `Trigger.ProcessingTime(...)` for a resident query
    * over a live unbounded source. */
  def start(docs: DataFrame, index: IncrementalDedupIndex,
            pairsTable: String, checkpointDir: String,
            idCol: String = "doc_id", textCol: String = "text",
            vacuumEveryBatches: Int = 0,
            vacuumRetainMillis: Long = 0L,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(docs.isStreaming, "docs must be a streaming DataFrame")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch block scope: see Materialize.scoped
        graft.Materialize.scoped(batch.sparkSession.sparkContext) {
        val pairs = index.ingest(batch, idCol, textCol)
        // keyed MERGE: replayed batches re-emit the same (doc_a, doc_b)
        // rows and collapse to one — the pair table is exactly-once
        if (!pairs.isEmpty)
          index.store.mergeFact(pairsTable, pairs, Seq("doc_a", "doc_b"))
        if (vacuumEveryBatches > 0 && (batchId + 1) % vacuumEveryBatches == 0) {
          // vacuumRetainMillis > 0 is REQUIRED when external readers scan
          // these tables concurrently: retain-0 deletes a superseded
          // version a reader resolved moments ago (maintain's contract)
          index.maintain(vacuumRetainMillis)
          // the pair sink accretes one version per micro-batch exactly
          // like the index tables — reclaim it on the same schedule
          if (index.store.exists(pairsTable))
            index.store.vacuum(pairsTable, vacuumRetainMillis)
        }
        ()
      }
      }
      .start()
  }
}
