package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.plans.TableStore

/** Continuous distribution-drift monitoring over a STREAM — the
  * operational twin of [[graft.operators.Stats.psi]]: the reference
  * distribution is FROZEN once at start (bin edges from the reference's
  * min/max, its bin counts collected — B+2 numbers of driver state, the
  * model-monitoring contract where "drift" means "drifted from what we
  * trained on", not from last week's already-drifted batch), and every
  * micro-batch is binned on those same edges and scored PSI(batch →
  * reference). One verdict row per batch MERGEs into the sink keyed by
  * batch_id — exactly-once, the [[StreamingAudit]] shape.
  *
  * Determinism: bin assignment is the same IEEE floor arithmetic as
  * Stats.psi; batch values OUTSIDE the frozen span clamp into the edge
  * bins (the live-stream case the batch operator's global span never
  * meets); the PSI fold replicates Stats.psi's once-rounded-term
  * DECIMAL sum in driver BigDecimal — when the batch lies inside the
  * reference span, the score is BIT-IDENTICAL to Stats.psi over the
  * union frame (proven in the spec).
  *
  * Scale: per batch, one filter + one B-bucket aggregate; the collect
  * is B rows. The reference is never rescanned. */
object StreamingDrift {

  def start(stream: DataFrame, reference: DataFrame, valueCol: String,
            bins: Int, threshold: Double,
            store: TableStore, verdictTable: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(bins >= 2 && bins <= 4096, "bins out of range")
    val x = col(valueCol).cast("double")
    val span = reference.filter(x.isNotNull)
      .agg(min(x).as("mn"), max(x).as("mx")).collect().head
    require(!span.isNullAt(0), "empty reference distribution")
    val (mn, mx) = (span.getDouble(0), span.getDouble(1))
    def binOf(c: org.apache.spark.sql.Column) =
      if (mx > mn)
        least(lit(bins - 1L), greatest(lit(0L),
          floor((c - lit(mn)) * lit(bins.toDouble) / (lit(mx) - lit(mn)))))
      else lit(0L)
    val refCounts = new Array[Long](bins)
    reference.filter(x.isNotNull).select(binOf(x).as("_bin"))
      .groupBy("_bin").count().collect()
      .foreach(r => refCounts(r.getLong(0).toInt) = r.getLong(1))
    val refN = refCounts.sum
    val spark = stream.sparkSession
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch block scope: see Materialize.scoped
        graft.Materialize.scoped(batch.sparkSession.sparkContext) {
        val bx = batch.select(col(valueCol).cast("double").as("_x"))
          .filter(col("_x").isNotNull)
        val counts = new Array[Long](bins)
        bx.select(binOf(col("_x")).as("_bin")).groupBy("_bin").count()
          .collect().foreach(r => counts(r.getLong(0).toInt) = r.getLong(1))
        val n = counts.sum
        val psi = if (n == 0) None else Some(psiScore(counts, n, refCounts, refN))
        import spark.implicits._
        val verdict = Seq((batchId, n, psi, psi.exists(_ > threshold)))
          .toDF("batch_id", "n_rows", "psi", "drifted")
        store.mergeFact(verdictTable, verdict, Seq("batch_id"))
        ()
      }
      }
      .start()
  }

  /** Stats.psi's fold, replayed in driver BigDecimal: per-bin term
    * rounded once to 12 dp, exact decimal sum, one rounded readout. */
  private[streaming] def psiScore(cur: Array[Long], curN: Long,
                                  ref: Array[Long], refN: Long): Double = {
    val b = cur.length
    def r(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    var sum = BigDecimal(0)
    var i = 0
    while (i < b) {
      val ca1 = cur(i) + 1.0; val na1 = curN + b.toDouble
      val cb1 = ref(i) + 1.0; val nb1 = refN + b.toDouble
      val pDiff = ca1 / na1 - cb1 / nb1
      val lnRatio = (BigDecimal(r(math.log(ca1), 6)) - BigDecimal(r(math.log(na1), 6)) -
        BigDecimal(r(math.log(cb1), 6)) + BigDecimal(r(math.log(nb1), 6))).toDouble
      sum += BigDecimal(r(pDiff * lnRatio, 12))
      i += 1
    }
    r(sum.toDouble, 6)
  }
}
