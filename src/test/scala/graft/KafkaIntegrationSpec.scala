package graft

import java.nio.file.Files
import graft.plans.BucketedMergeWriter
import graft.sources.SalesFeed
import graft.streaming.StreamToStar

/** S2/S3 integration: CSV → Kafka producer write → Kafka source → star.
  * Requires a reachable broker AND the spark-sql-kafka connector on the
  * classpath — neither exists in the sandbox, so this suite self-skips
  * unless GRAFT_KAFKA_BOOTSTRAP is set (e.g. "localhost:9092"). The
  * non-Kafka 95% of the pipeline (JSON encode/decode, _seq ordering,
  * merge) is covered broker-free by the other suites. */
class KafkaIntegrationSpec extends SparkSpec {

  private val bootstrap = sys.env.get("GRAFT_KAFKA_BOOTSTRAP")

  /** Minimal 2-file feed fixture in a temp dir. */
  private lazy val feedGlob: String = {
    val dir = Files.createTempDirectory("graft-kafka-feed").toString
    for (f <- 0 until 2) {
      val pw = new java.io.PrintWriter(s"$dir/MOCK_DATA_$f.csv")
      pw.println(SalesFeed.fieldNames.mkString(","))
      for (i <- 1 to 20) {
        val m = Map("id" -> i.toString, "sale_customer_id" -> i.toString,
          "customer_first_name" -> s"F$i", "customer_last_name" -> s"L${i}_f$f",
          "sale_seller_id" -> i.toString, "sale_product_id" -> i.toString,
          "product_name" -> s"P$i", "store_name" -> s"S${i % 5}",
          "supplier_name" -> s"Su${i % 3}", "sale_date" -> "3/14/2021",
          "sale_quantity" -> "2", "sale_total_price" -> s"$i.50")
        pw.println(SalesFeed.fieldNames.map(c => m.getOrElse(c, "")).mkString(","))
      }
      pw.close()
    }
    s"$dir/MOCK_DATA_*.csv"
  }

  test("produce CSV feed to Kafka and stream it into the star (broker-gated)") {
    assume(bootstrap.isDefined, "no Kafka broker in this environment")
    val bs = bootstrap.get
    val topic = s"graft_sales_${System.currentTimeMillis()}"

    val feed = SalesFeed.readCsv(spark, feedGlob)
      .drop("_seq", graft.streaming.ErrorChannel.corruptCol)
    SalesFeed.writeToKafka(feed, bs, topic)

    val store = new BucketedMergeWriter(spark,
      Files.createTempDirectory("graft-kafka").toString, nBuckets = 4)
    val q = StreamToStar.startFromKafka(spark, bs, topic, store,
      Files.createTempDirectory("graft-kafka-ckpt").toString)
    q.awaitTermination(60000)
    assert(store.read("fact_sales").count() > 0)
  }

  test("producer JSONL output replays into the same star as the CSV path (broker-free)") {
    import org.apache.spark.sql.functions._
    val msgsDir = Files.createTempDirectory("graft-msgs").toString
    val feed = SalesFeed.readCsv(spark, feedGlob)
      .drop("_seq", graft.streaming.ErrorChannel.corruptCol)
    SalesFeed.toKafkaMessages(feed).write.mode("overwrite").text(msgsDir)

    val store = new BucketedMergeWriter(spark,
      Files.createTempDirectory("graft-json-star").toString, nBuckets = 4)
    StreamToStar.startFromJsonFiles(spark, s"$msgsDir/part-*", store,
      Files.createTempDirectory("graft-json-ckpt").toString).awaitTermination()

    assert(store.read("fact_sales").count() === 20)
    assert(store.read("dim_store").count() === 5)
    assert(store.read("fact_sales").filter(col("customer_key").isNull).count() === 0)
  }

  test("kafka message round-trip preserves all 50 fields (broker-free)") {
    import org.apache.spark.sql.functions._
    val feed = SalesFeed.readCsv(spark, feedGlob)
      .drop("_seq", graft.streaming.ErrorChannel.corruptCol)
    val roundTrip0 = SalesFeed.fromKafkaMessages(SalesFeed.toKafkaMessages(feed))
    // the parse CARRIES the corrupt-record column (T8: malformed messages
    // route to the dead letter, never silently null) — all-NULL on a
    // well-formed feed
    val cc = graft.streaming.ErrorChannel.corruptCol
    assert(roundTrip0.columns.toSeq === SalesFeed.fieldNames :+ cc)
    assert(roundTrip0.filter(col(cc).isNotNull).count() === 0L,
      "well-formed messages must not flag corrupt")
    val roundTrip = roundTrip0.drop(cc)
    val a = feed.orderBy(col("id").cast("int")).collect()
    // JSON drops NULL fields; empty-string and NULL both mean "missing" in
    // the stringly-typed transport (the cleanse layer treats them alike)
    val b = roundTrip.orderBy(col("id").cast("int")).collect()
    assert(a.length === b.length)
    def norm(r: org.apache.spark.sql.Row) =
      r.toSeq.map(v => Option(v).map(_.toString).filter(_.nonEmpty))
    assert(a.map(norm).toSeq === b.map(norm).toSeq)
  }

  test("malformed/NULL kafka messages flag corrupt and route to the dead letter") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cc = graft.streaming.ErrorChannel.corruptCol
    val msgs = Seq(
      """{"id": "7", "customer_first_name": "Ann"}""", // valid (sparse)
      """{"id": "8", "customer_first""",               // truncated JSON
      null.asInstanceOf[String])                       // tombstone
      .toDF("value")
    val parsed = SalesFeed.fromKafkaMessages(msgs)
    val byId = parsed.collect()
    assert(byId.length === 3)
    val flagged = parsed.filter(col(cc).isNotNull)
    assert(flagged.count() === 2L, "truncated + null messages must flag")
    // and through the star batch they land in dead_letter, not fact_sales
    val store = new graft.plans.BucketedMergeWriter(spark,
      java.nio.file.Files.createTempDirectory("graft-kdl").toString, nBuckets = 4)
    graft.streaming.StreamToStar.processBatch(
      graft.sources.SalesFeed.withArrivalSeq(parsed), store)
    assert(store.read("dead_letter").count() === 2L)
    assert(store.read("fact_sales").filter(col("source_sale_id") === 7L).count() === 1L)
    assert(store.read("fact_sales").count() === 1L,
      "only the valid message becomes a fact row")
  }
}
