package graft

import org.apache.spark.sql.SparkSession
import graft.plans.{BucketedMergeWriter, Integrity}
import graft.streaming.StreamToStar

/** E2E entry point: replay a CSV sales feed into the star schema, then run
  * the reference's verification suite (row counts, fact uniqueness, the
  * 6-way referential-integrity audit) and print the results — the
  * reference's `main()` + manual psql checks in one shot
  * (reference: flink/stream_to_star.py:301-322 + README.md:183-219).
  *
  * Usage: runMain graft.RunStar <csvGlob> <tableRoot> [checkpointDir]
  * Tables land in a [[BucketedMergeWriter]] rooted at `tableRoot`.
  */
object RunStar {
  val starTables: Seq[String] = Seq(
    "dim_customer", "dim_seller", "dim_product",
    "dim_store", "dim_supplier", "dim_date", "fact_sales")

  def main(args: Array[String]): Unit = {
    val glob = args(0)
    val root = args(1)
    val checkpoint = if (args.length > 2) args(2)
      else java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val spark = GraftSession.local("graft-run-star")
    run(spark, glob, root, checkpoint)
    spark.stop()
  }

  def run(spark: SparkSession, glob: String, root: String, checkpoint: String): Unit = {
    val store = new BucketedMergeWriter(spark, root)
    val query = StreamToStar.startFromFiles(spark, glob, store, checkpoint)
    query.awaitTermination()

    val tables = starTables.map(t => t -> store.read(t)).toMap
    println("== row counts ==")
    Integrity.rowCounts(tables).toSeq.sortBy(_._1)
      .foreach { case (t, n) => println(f"$t%-14s $n%d") }

    val (nRows, nIds) = Integrity.uniqueness(tables("fact_sales"), "source_sale_id")
    println(s"== fact uniqueness == rows=$nRows distinct_ids=$nIds " +
      (if (nRows == nIds) "OK" else "VIOLATION"))

    val audit = Integrity.audit(tables("fact_sales"), Seq(
      ("customer", tables("dim_customer"), "customer_key", "customer_sk"),
      ("seller",   tables("dim_seller"),   "seller_key",   "seller_sk"),
      ("product",  tables("dim_product"),  "product_key",  "product_sk"),
      ("store",    tables("dim_store"),    "store_key",    "store_sk"),
      ("supplier", tables("dim_supplier"), "supplier_key", "supplier_sk"),
      ("date",     tables("dim_date"),     "date_key",     "date_sk")))
    println("== referential integrity (all must be 0) ==")
    audit.toSeq.sortBy(_._1).foreach { case (d, n) => println(f"missing_$d%-10s $n%d") }
  }
}
