package graft

import java.nio.file.Files
import graft.plans.BucketedMergeWriter
import graft.streaming.StreamToStar

/** T2/T7 restart semantics: a stream stopped mid-feed and resumed with the
  * SAME checkpoint must converge to the same final state as an unbroken
  * run — checkpointed offsets + idempotent MERGE, the engine's
  * effectively-once contract. */
class RestartSpec extends SparkSpec {

  test("stop after the first micro-batch, resume from the checkpoint, converge [bucketed]") {
    val feedDir = Files.createTempDirectory("graft-restart-feed").toString
    for (f <- 0 until 3) {
      val pw = new java.io.PrintWriter(s"$feedDir/MOCK_DATA_$f.csv")
      pw.println(graft.sources.SalesFeed.fieldNames.mkString(","))
      for (i <- 1 to 30) {
        val m = Map("id" -> i.toString, "sale_customer_id" -> i.toString,
          "customer_first_name" -> s"F$i", "customer_last_name" -> s"L${i}_f$f",
          "sale_seller_id" -> i.toString, "sale_product_id" -> i.toString,
          "product_name" -> s"P$i", "store_name" -> s"S${i % 7}",
          "supplier_name" -> s"Su${i % 4}", "sale_date" -> "3/14/2021",
          "sale_quantity" -> "2", "sale_total_price" -> s"$i.50")
        pw.println(graft.sources.SalesFeed.fieldNames.map(c => m.getOrElse(c, "")).mkString(","))
      }
      pw.close()
    }
    val tableRoot = Files.createTempDirectory("graft-restart-tables").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val store = new BucketedMergeWriter(spark, tableRoot, nBuckets = 4)

    // phase 1: process at most one file, then stop mid-feed
    val q1 = StreamToStar.startFromFiles(spark, s"$feedDir/MOCK_DATA_*.csv", store, ckpt)
    // wait until the first batch has committed (dim_customer exists), then stop
    val deadline = System.currentTimeMillis() + 60000
    while (!store.exists("fact_sales") && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    q1.stop()
    assert(store.exists("fact_sales"), "first micro-batch must have committed")

    // phase 2: resume with the SAME checkpoint — remaining files replay
    val q2 = StreamToStar.startFromFiles(spark, s"$feedDir/MOCK_DATA_*.csv", store, ckpt)
    q2.awaitTermination()

    assert(store.read("fact_sales").count() === 30)
    assert(store.read("dim_customer").count() === 30)
    assert(store.read("dim_store").count() === 7)
    // last-write-wins converged to the lexicographically-last file
    val names = store.read("dim_customer")
      .select(org.apache.spark.sql.functions.col("customer_name"))
      .collect().map(_.getString(0))
    assert(names.forall(_.endsWith("_f2")),
      s"resume must finish the feed: ${names.take(3).mkString(",")}")
  }
}
