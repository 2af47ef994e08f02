package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.plans.TableStore

/** Continuous conformal-coverage monitoring over a STREAM — the
  * operational twin of [[graft.operators.Eval.conformalCalibration]]:
  * the per-group threshold frame (qhat = the ⌈(n+1)(1−α)⌉-th smallest
  * calibration nonconformity) is FROZEN once at start — the conformal
  * guarantee is against the calibration distribution, so a "drifting"
  * threshold would hide exactly the miscoverage this monitor exists to
  * catch — and every micro-batch is scored against it: one verdict row
  * per (batch_id, group) with the covered count and a breach flag when
  * coverage drops below `minCovNum/minCovDen` (e.g. 85/100 under
  * α = 1/10 leaves 5 points of slack). Miscoverage on exchangeable data
  * stays ≤ α; a breached batch means the exchangeability assumption
  * broke — distribution shift, the streaming-eval alarm. A group with
  * NO calibration threshold (brand-new in the stream — the clearest
  * shift of all) still gets its verdict row: unscored (NULL coverage)
  * and breached, never silently dropped.
  *
  * Determinism and exactly-once: the threshold is an exact order
  * statistic ([[graft.operators.Eval.conformalThreshold]], computed once
  * at start and held as a DRIVER-LITERAL frame — a localCheckpoint would
  * truncate lineage to executor blocks, and losing an executor mid-stream
  * would fail every later micro-batch of a long-running monitor; the
  * frame is ≤|groups| rows, the same bound that makes it broadcastable,
  * so the driver copy is free and every batch can always rebuild the
  * broadcast from it); per-batch
  * coverage is integer counting with the ONE rounded readout; the
  * breach test is cross-multiplied integers (`covered·den < n·num` —
  * no float threshold); verdicts MERGE keyed (batch_id, group), so a
  * replayed batch overwrites itself — the [[StreamingAudit]] shape.
  *
  * Scale: per batch one broadcast join against the ≤|groups|-row frozen
  * frame + one grouped count. The calibration set is never rescanned. */
object StreamingConformal {

  def start(stream: DataFrame, calibration: DataFrame,
            groupCol: String, scoreCol: String,
            alphaNum: Long, alphaDen: Long,
            minCovNum: Long, minCovDen: Long,
            store: TableStore, verdictTable: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(minCovNum >= 0 && minCovDen > 0 && minCovNum <= minCovDen,
      "minimum coverage must be a rational in [0, 1]")
    // freeze the thresholds NOW, as a driver-literal frame: compute once,
    // collect (≤|groups| rows — already the broadcast-size contract), and
    // re-create as a LocalRelation. Replayable from the driver forever —
    // an executor loss can never strand the monitor the way a
    // lineage-truncated localCheckpoint block would.
    val computed = graft.operators.Eval.conformalThreshold(
      calibration, groupCol, scoreCol, alphaNum, alphaDen)
    val thrRows = computed.collect()
    require(thrRows.nonEmpty, "empty calibration set: no thresholds to monitor")
    val thr = calibration.sparkSession.createDataFrame(
      java.util.Arrays.asList(thrRows: _*), computed.schema)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch block scope: see Materialize.scoped
        graft.Materialize.scoped(batch.sparkSession.sparkContext) {
        // LEFT join: a group with no calibration threshold is the
        // clearest exchangeability break there is — it must surface as
        // an unscored-and-breached verdict row, never vanish silently.
        // NULL scores are NOT pre-filtered: a group whose scores go
        // all-NULL (upstream schema drift — the other silent failure)
        // keeps its verdict row with n_scored = 0 and breaches; a
        // partially-NULL batch shows the exclusion as n_rows > n_scored
        // while coverage is honestly computed over the scored remainder.
        val scored = batch
          .select(col(groupCol), col(scoreCol).cast("double").as("_tv"))
          .join(broadcast(thr), col(groupCol) <=> col("_g"), "left")
        val verdict = scored.groupBy(col(groupCol))
          .agg(count(lit(1)).as("n_rows"),
            count(col("_tv")).as("n_scored"),
            max(col("_g").isNotNull).as("_thr"),
            sum(when(col("_tv").isNotNull &&
                (col("_inf") || col("_tv") <= col("qhat")), 1L)
              .otherwise(0L)).as("_cov"))
          .select(lit(batchId).as("batch_id"), col(groupCol),
            col("n_rows"), col("n_scored"),
            when(col("_thr") && col("n_scored") > 0, col("_cov")).as("n_covered"),
            when(col("_thr") && col("n_scored") > 0,
              round(col("_cov").cast("double") / col("n_scored"), 6))
              .as("coverage"),
            (!col("_thr") || col("n_scored") === 0 ||
              col("_cov") * minCovDen < col("n_scored") * minCovNum)
              .as("breached"))
        store.mergeFact(verdictTable, verdict, Seq("batch_id", groupCol))
        ()
      }
      }
      .start()
  }
}
