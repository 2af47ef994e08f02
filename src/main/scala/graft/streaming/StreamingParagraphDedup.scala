package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Dedup
import graft.plans.TableStore
import graft.Materialize.MaterializeOps

/** Continuous paragraph-level dedup over a document STREAM — the
  * operational twin of [[Dedup.paragraphDedup]] (the C4/CCNet unit),
  * completing the dedup monitor family beside [[StreamingDedup]]'s
  * near-dup index: a paragraph fingerprint REGISTRY persists across
  * micro-batches (fp → the first-arrived (doc_id, para_ix) OWNER), each
  * arriving doc keeps only paragraphs the registry doesn't already own,
  * and per-doc verdicts (n_paras, n_kept, kept_md5 of the rebuilt text)
  * MERGE keyed by doc_id.
  *
  * EXACTLY-ONCE by ownership, not a batch-id watermark: registry rows
  * carry their owner, and a batch row is kept iff the fp is UNSEEN or
  * owned BY THIS ROW — so a replayed micro-batch (crash between the two
  * merges, or a fresh-checkpoint tail replay) re-derives the identical
  * verdicts: its own paragraphs read back as self-owned, another doc's
  * claim on the same fp still loses. Both merges are keyed and
  * idempotent (registry on fp with the same owner, verdicts on doc_id).
  * First-ARRIVAL order replaces the batch operator's global
  * (doc_id, para_ix) order — identical when batches arrive id-ordered,
  * which the equivalence spec drives.
  *
  * Re-ingesting a REVISED doc_id (new text) updates its verdict row but
  * never releases fingerprints its old text registered — an append-only
  * registry, the same contract as the incremental near-dup index.
  *
  * Scale: per batch one paragraph explode, one fingerprint window over
  * the BATCH only, one keyed join against the stored registry (bucketed
  * store → touched buckets only), two keyed merges. The registry grows
  * with DISTINCT paragraphs, never with occurrences. */
object StreamingParagraphDedup {

  def start(docs: DataFrame, store: TableStore,
            registryTable: String, verdictTable: String,
            checkpointDir: String,
            idCol: String = "doc_id", textCol: String = "text",
            sepRegex: String = "\\n{2,}",
            vacuumEveryBatches: Int = 0,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(docs.isStreaming, "docs must be a streaming DataFrame")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch block scope: see Materialize.scoped
        graft.Materialize.scoped(batch.sparkSession.sparkContext) {
          val paras = Dedup.paragraphRows(batch, idCol, textCol, sepRegex)
            .materialized // read by the window AND both merges
          if (!paras.isEmpty) {
            val w = Window.partitionBy(col("_fp"))
              .orderBy(col("doc_id").asc, col("para_ix").asc)
            val ranked = paras.withColumn("_rk", row_number().over(w))
            val reg =
              if (store.exists(registryTable))
                store.read(registryTable).select(col("fp"),
                  col("doc_id").as("_own_doc"), col("para_ix").as("_own_ix"))
              else {
                val sq = paras.sparkSession
                import sq.implicits._
                Seq.empty[(String, Long, Long)].toDF("fp", "_own_doc", "_own_ix")
              }
            // kept = owned BY THIS ROW (replay stability: the registered
            // owner keeps its paragraph regardless of its rank inside a
            // replayed/coalesced batch — rank-1 might be a LATER doc that
            // correctly lost the original race), OR the batch-first
            // occurrence of an UNSEEN fingerprint. Ownership is
            // (doc_id, para_ix)-exact: a REVISED doc whose paragraph
            // moved to a new index re-scores as a duplicate — the
            // append-only-registry contract (header), same as the
            // incremental near-dup index.
            val marked = ranked
              .join(reg, ranked("_fp") === reg("fp"), "left")
              .withColumn("kept", when(
                  (col("_own_doc") === col("doc_id") &&
                    col("_own_ix") === col("para_ix")) ||
                  (col("_rk") === 1 && col("fp").isNull), 1L)
                .otherwise(0L))
              .materialized // read by the registry merge + stats
            // registry: new owners only; a replay re-merges itself (no-op)
            val newOwners = marked.filter(col("kept") === 1L)
              .select(col("_fp").as("fp"), col("doc_id"), col("para_ix"))
            if (!newOwners.isEmpty)
              store.mergeFact(registryTable, newOwners, Seq("fp"))
            val verdicts = Dedup.paragraphStats(
              marked.select(col("doc_id"), col("para_ix"), col("_p"), col("kept")))
            store.mergeFact(verdictTable, verdicts, Seq("doc_id"))
            if (vacuumEveryBatches > 0 && (batchId + 1) % vacuumEveryBatches == 0) {
              if (store.exists(registryTable)) store.vacuum(registryTable)
              if (store.exists(verdictTable)) store.vacuum(verdictTable)
            }
          }
          ()
        }
      }
      .start()
  }
}
