package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.IncrementalAnnIndex

/** Continuous vector indexing over an embedding STREAM — the
  * [[StreamingDedup]] twin for similarity search: each micro-batch of
  * arriving vectors is assigned to its nearest frozen centroid (one
  * broadcast of the ≤√N centroid table, map-only scoring — the stored
  * corpus is never re-read) and MERGEd into the persisted assignment
  * table on vec_id, so a replayed micro-batch (crash between sink write
  * and checkpoint commit) updates-in-place instead of duplicating —
  * searches served from the index during or after ingestion see
  * exactly-once vectors.
  *
  * The centroid geometry must exist before the stream starts
  * ([[IncrementalAnnIndex.ensureCentroids]] over a bootstrap sample) and
  * is immutable while the stream runs — the IVF add-vs-train contract;
  * assignments made under different geometries would be incomparable.
  *
  * Scale: per-micro-batch cost ∝ batch size (measured ~flat as the index
  * grows 10×, SCALE.md `ann_ingest`); the stream adds only checkpoint
  * bookkeeping. Run maintain() via `vacuumEveryBatches` under sustained
  * ingest so on-disk versions stay ∝ the live index.
  */
object StreamingAnn {

  /** Start a stream draining `vectors` (a streaming DataFrame with the
    * index's id/vector columns) into the index. Default trigger is
    * AvailableNow — drain the backlog and stop; pass
    * `Trigger.ProcessingTime(...)` for a resident query. */
  def start(vectors: DataFrame, index: IncrementalAnnIndex,
            checkpointDir: String,
            vacuumEveryBatches: Int = 0,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(vectors.isStreaming, "vectors must be a streaming DataFrame")
    require(index.store.exists(index.centroidTable),
      s"no centroid table '${index.centroidTable}' — run ensureCentroids " +
        "over a bootstrap sample before streaming ingest")
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch block scope: see Materialize.scoped
        graft.Materialize.scoped(batch.sparkSession.sparkContext) {
        index.ingest(batch)
        if (vacuumEveryBatches > 0 && (batchId + 1) % vacuumEveryBatches == 0)
          index.maintain()
        ()
      }
      }
      .start()
  }
}
