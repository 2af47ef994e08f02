package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Expectations
import graft.plans.TableStore

/** Continuous data-contract enforcement over a STREAM — the operational
  * composition of [[graft.operators.Expectations.audit]] with Structured
  * Streaming: every micro-batch is audited against the declared rule
  * suite and one verdict row per (batch, rule) is MERGEd into a sink
  * table — the live quality dashboard / alerting feed a 100 TB ingest
  * runs beside its error channel ([[ErrorChannel]] handles per-RECORD
  * failures; this handles per-BATCH contract drift, e.g. "the upstream
  * schema change NULLed 40% of a column three batches ago").
  *
  * The sink is keyed MERGE on (batch_id, rule), so a replayed
  * micro-batch (crash between sink write and checkpoint commit)
  * overwrites its own verdicts — exactly-once verdict rows, the star
  * pipeline's contract. Because row-rule counts are sums, the per-batch
  * verdicts ADD: total violations across batches = the batch audit of
  * the full data (proven in the spec). Uniqueness rules are per-batch
  * only by design — cross-batch key collisions are the store's MERGE
  * semantics, not a stream-side count (document: a global uniqueness
  * audit belongs on the TABLE, not the stream).
  *
  * Scale: [[Expectations.audit]]'s law per batch — one scan for every
  * row rule plus one key-count aggregate per uniqueness rule; the sink
  * grows one row per rule per batch, trivially compactable.
  */
object StreamingAudit {

  def start(stream: DataFrame, rules: Seq[Expectations.Rule],
            uniqueKeys: Seq[(String, Seq[String])],
            store: TableStore, verdictTable: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch block scope: see Materialize.scoped
        graft.Materialize.scoped(batch.sparkSession.sparkContext) {
        val verdicts = Expectations.audit(batch, rules, uniqueKeys)
          .withColumn("batch_id", lit(batchId))
        store.mergeFact(verdictTable, verdicts, Seq("batch_id", "rule"))
        ()
      }
      }
      .start()
  }
}
