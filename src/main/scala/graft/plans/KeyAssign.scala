package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed dense surrogate-key assignment for the table store:
  * sk = offset + 1-based global index over the frame.
  *
  * Same shape as RDD `zipWithIndex` (one job to learn partition sizes,
  * then a per-partition counter — no global window, no single-task sort),
  * but the size job's total IS the row count, so callers that need the
  * count (BucketedMergeWriter's `_MAXSK` advance) don't pay a second pass
  * over the data — `zipWithIndex` + `count()` ran the mapped lineage twice.
  *
  * Index→row mapping follows partition order; only *stability after
  * assignment* matters (SURVEY.md §7.4.2 — Postgres BIGSERIAL skips ids on
  * conflicts too), and stability comes from persisting the table.
  */
private[plans] object KeyAssign {
  def dense(df: DataFrame, skCol: String, offset: Long): (DataFrame, Long) = {
    val schema = StructType(
      df.schema.fields :+ StructField(skCol, LongType, nullable = false))
    val base = df.rdd
    val sizes = base
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
      .collect().sortBy(_._1).map(_._2)
    val starts = sizes.scanLeft(0L)(_ + _)
    val total = starts.lastOption.getOrElse(0L)
    val rows = base.mapPartitionsWithIndex { (i, it) =>
      var k = offset + starts(i)
      it.map { r => k += 1; Row.fromSeq(r.toSeq :+ k) }
    }
    (df.sparkSession.createDataFrame(rows, schema), total)
  }
}
