package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{Html, Warc}
import graft.plans.TableStore
import graft.Materialize.MaterializeOps

/** Continuous crawl ingestion — the operational twin of the q252 batch
  * chain: a STREAM of WARC/WET shard payloads (new shards landing in a
  * bucket is exactly a file stream) is, per micro-batch, member-split
  * (RFC 1952 walk), record-parsed, HTML-stripped, and MERGED into a
  * documents table keyed (shard_id, member_idx) — the natural key a
  * ranged re-read would use. Records that fail gzip framing or WARC
  * parsing go to a DEAD-LETTER table under the same key, carrying the
  * batch id that saw them: per-record error visibility, the
  * [[ErrorChannel]] philosophy, never a dropped shard and never a killed
  * stream.
  *
  * Effectively-once: both sinks are keyed idempotent MERGEs, so a
  * replayed micro-batch (crash between sink write and checkpoint commit)
  * overwrites itself. The expensive work (inflate + parse + regex
  * extraction) is all map-side; the only shuffle is the merge write's
  * bucketing — per-batch cost ∝ batch bytes, state = none.
  */
object StreamingCrawl {

  /** Start draining `shards` (a streaming DataFrame with
    * `asset_id`/`payload` columns — [[graft.operators.Multimodal.toAssets]]
    * shape) into `docsTable` + `deadTable`. AvailableNow by default (the
    * drain-the-backlog shape); pass ProcessingTime for a resident query. */
  def start(shards: DataFrame, store: TableStore,
            docsTable: String, deadTable: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(shards.isStreaming, "shards must be a streaming DataFrame")
    shards.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch block scope: see Materialize.scoped
        graft.Materialize.scoped(batch.sparkSession.sparkContext) {
        // parsed once, read twice (ok + dead) — materialize
        val recs = Warc.warcTextRecords(batch).toDF().materialized
        val docs = recs.filter(col("ok") === 1)
          .select(col("shard_id"), col("member_idx"), col("target_uri"),
            Html.title(col("text")).as("title"),
            Html.extractText(col("text")).as("text"))
          .withColumn("text_chars", length(col("text")).cast("long"))
        if (!docs.isEmpty)
          store.mergeFact(docsTable, docs, Seq("shard_id", "member_idx"))
        // last_seen (not first_seen): the keyed MERGE is last-write-wins,
        // so a re-delivered bad member refreshes the column — an honest
        // name beats a first-seen promise the sink can't keep
        val dead = recs.filter(col("ok") === 0)
          .select(col("shard_id"), col("member_idx"),
            lit(batchId).as("last_seen_batch"))
        if (!dead.isEmpty)
          store.mergeFact(deadTable, dead, Seq("shard_id", "member_idx"))
        ()
      }
      }
      .start()
  }
}
