package graft

import java.io.PrintWriter
import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.plans.{BucketedMergeWriter, Integrity}
import graft.sources.SalesFeed
import graft.streaming.StreamToStar

/** End-to-end replay of the reference's feed shape: 10 files × 1000 rows,
  * ids 1–1000 repeated in every file, asserting the reference's published
  * post-load state (reference: README.md:183-219 + verified data facts):
  * fact 1000, dim_customer/seller/product 1000, dim_store/supplier 383,
  * dim_date 364, uniqueness, all-zeros audit — plus idempotent replay and
  * shuffled-partition determinism (SURVEY.md §7.4.1).
  */
class StarPipelineSpec extends SparkSpec {

  /** Deterministic MOCK_DATA-shaped feed: per file, every id 1..1000 with
    * file-dependent attribute values (so last-write-wins is observable),
    * 383 distinct store/supplier names, 364 distinct dates across the
    * reference's three formats. */
  private def writeFeed(dir: String, nFiles: Int = 10, nRows: Int = 1000): Unit = {
    val cols = SalesFeed.fieldNames
    for (f <- 0 until nFiles) {
      val pw = new PrintWriter(s"$dir/MOCK_DATA_$f.csv")
      pw.println(cols.mkString(","))
      for (i <- 1 to nRows) {
        val day = i % 364 // 0..363 distinct offsets from 2021-01-01
        val date = java.time.LocalDate.of(2021, 1, 1).plusDays(day)
        val dateStr = (i % 3) match {
          case 0 => s"${date.getMonthValue}/${date.getDayOfMonth}/${date.getYear}"
          case 1 => date.toString // yyyy-MM-dd
          case _ => s"${date.getDayOfMonth}.${date.getMonthValue}.${date.getYear}"
        }
        val m = Map(
          "id" -> i.toString,
          "customer_first_name" -> s"First$i",
          "customer_last_name" -> s"Last${i}_f$f",
          "customer_age" -> (if (i % 11 == 0) "NaN" else s"${20 + i % 60}.0"),
          "customer_email" -> s"c$i@x.com",
          "customer_country" -> s"C${i % 7}",
          "seller_first_name" -> s"S$i", "seller_last_name" -> s"L${i}_f$f",
          "seller_country" -> "DE", "seller_email" -> s"s$i@x.com",
          "product_name" -> s"Widget $i f$f", "product_category" -> s"cat${i % 9}",
          "product_price" -> s"${i % 50}.25", "product_rating" -> "4.5",
          "product_reviews" -> (i % 100).toString,
          "sale_date" -> dateStr,
          "sale_customer_id" -> (if (i % 17 == 0) "" else i.toString),
          "sale_seller_id" -> i.toString, "sale_product_id" -> i.toString,
          "sale_quantity" -> s"${i % 10}.0", "sale_total_price" -> s"${i * 2}.50",
          "store_name" -> s"Store ${i % 383}", "store_city" -> "Berlin",
          "store_country" -> "DE", "store_email" -> "st@x.com",
          "supplier_name" -> s"Supp ${i % 383}", "supplier_country" -> "FR",
          "supplier_email" -> "su@x.com")
        pw.println(cols.map(c => m.getOrElse(c, "")).mkString(","))
      }
      pw.close()
    }
  }

  private def counts(store: graft.plans.TableStore): Map[String, Long] =
    RunStar.starTables.map(t => t -> store.read(t).count()).toMap

  test("e2e replay reproduces the reference's published counts, uniqueness and audit [bucketed]") {
    val feedDir = Files.createTempDirectory("graft-feed").toString
    val tableDir = Files.createTempDirectory("graft-tables").toString
    writeFeed(feedDir)

    val store = new BucketedMergeWriter(spark, tableDir, nBuckets = 8)
    StreamToStar.startFromFiles(spark, s"$feedDir/MOCK_DATA_*.csv", store,
      Files.createTempDirectory("graft-ckpt").toString).awaitTermination()

    val c = counts(store)
    assert(c("fact_sales") === 1000)
    assert(c("dim_customer") === 1000)
    assert(c("dim_seller") === 1000)
    assert(c("dim_product") === 1000)
    assert(c("dim_store") === 383)
    assert(c("dim_supplier") === 383)
    assert(c("dim_date") === 364)

    val (rows, ids) = Integrity.uniqueness(store.read("fact_sales"), "source_sale_id")
    assert(rows === ids)

    val audit = Integrity.audit(store.read("fact_sales"), Seq(
      ("customer", store.read("dim_customer"), "customer_key", "customer_sk"),
      ("seller", store.read("dim_seller"), "seller_key", "seller_sk"),
      ("product", store.read("dim_product"), "product_key", "product_sk"),
      ("store", store.read("dim_store"), "store_key", "store_sk"),
      ("supplier", store.read("dim_supplier"), "supplier_key", "supplier_sk"),
      ("date", store.read("dim_date"), "date_key", "date_sk")))
    assert(audit.values.forall(_ == 0L), s"audit must be all zeros: $audit")

    // last write wins: attributes come from the lexicographically-last file
    val lastNames = store.read("dim_customer").select(col("customer_name"))
      .collect().map(_.getString(0))
    assert(lastNames.forall(_.endsWith("_f9")),
      s"expected every customer_name from file 9, got e.g. ${lastNames.take(3).mkString(",")}")

    // id-alias fallback: blank sale_customer_id rows still resolve their FK
    val nullFk = store.read("fact_sales").filter(col("customer_key").isNull).count()
    assert(nullFk === 0)

    // ---- idempotent replay: same feed, fresh checkpoint, same store ----
    val before = store.read("dim_customer")
      .select(col("source_customer_id"), col("customer_sk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    StreamToStar.startFromFiles(spark, s"$feedDir/MOCK_DATA_*.csv", store,
      Files.createTempDirectory("graft-ckpt2").toString).awaitTermination()
    assert(counts(store) === c, "replay must not change any table")
    val after = store.read("dim_customer")
      .select(col("source_customer_id"), col("customer_sk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after === before, "surrogate keys must be stable across replays")
  }

  test("star stream emits per-batch expectation verdicts (reference integrity rules, exactly-once)") {
    val feedDir = Files.createTempDirectory("graft-feed-av").toString
    val tableDir = Files.createTempDirectory("graft-tables-av").toString
    writeFeed(feedDir, nFiles = 3, nRows = 200)
    val store = new BucketedMergeWriter(spark, tableDir, nBuckets = 4)
    StreamToStar.startFromFiles(spark, s"$feedDir/MOCK_DATA_*.csv", store,
      Files.createTempDirectory("graft-ckpt-av").toString).awaitTermination()
    val v = store.read("audit_verdicts")
      .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("rule")) ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_violations"), r.getAs[Boolean]("pass")))
      .toMap
    // 3 single-file micro-batches × 8 rules (6 FK + uniqueness + its
    // key-complete twin), all green on this feed: every FK resolves
    // (including the id-alias rows — README's missing-FK counts all 0)
    // and post-lastWriteWins the batch is unique on source_sale_id
    assert(v.keys.map(_._1).toSet === Set(0L, 1L, 2L), s"batch ids: ${v.keys}")
    val ruleNames = StreamToStar.starExpectations.map(_.name).toSet ++
      Set("fact_sale_id_unique", "fact_sale_id_unique_key_complete")
    assert(v.keys.map(_._2).toSet === ruleNames)
    assert(v.size === 24)
    v.foreach { case ((b, rule), (n, viol, pass)) =>
      assert(n === 200L, s"batch $b rule $rule n_rows $n")
      assert(viol === 0L && pass, s"batch $b rule $rule violated: $viol")
    }
    // replay from a fresh checkpoint: verdicts MERGE on (batch_id, rule)
    // — same 24 rows, no duplication (the star tables' contract)
    StreamToStar.startFromFiles(spark, s"$feedDir/MOCK_DATA_*.csv", store,
      Files.createTempDirectory("graft-ckpt-av2").toString).awaitTermination()
    assert(store.read("audit_verdicts").count() === 24L)
    // and a feed that BREAKS a contract shows up as a failing verdict:
    // NULL seller ids (no alias fallback) → seller_key_resolved fails
    val badDir = Files.createTempDirectory("graft-feed-av-bad").toString
    val pw = new PrintWriter(s"$badDir/MOCK_DATA_9.csv")
    pw.println(SalesFeed.fieldNames.mkString(","))
    for (i <- 1001 to 1010) {
      val m = Map("id" -> i.toString, "customer_first_name" -> s"F$i",
        "customer_last_name" -> s"L$i", "sale_customer_id" -> i.toString,
        "sale_product_id" -> i.toString, "sale_date" -> "3/14/2021",
        "sale_quantity" -> "1", "sale_total_price" -> "5.00",
        "store_name" -> "S1", "supplier_name" -> "Su1")
      pw.println(SalesFeed.fieldNames.map(c => m.getOrElse(c, "")).mkString(","))
    }
    pw.close()
    StreamToStar.startFromFiles(spark, s"$badDir/MOCK_DATA_*.csv", store,
      Files.createTempDirectory("graft-ckpt-av3").toString).awaitTermination()
    val bad = store.read("audit_verdicts")
      .filter(col("rule") === "seller_key_resolved" && !col("pass"))
      .collect()
    assert(bad.length === 1 && bad.head.getAs[Long]("n_violations") === 10L,
      "NULL seller ids must surface as a failing per-batch verdict")
  }

  test("dead-letter writes are idempotent across checkpoint replays") {
    val feedDir = Files.createTempDirectory("graft-feed-dl").toString
    val pw = new PrintWriter(s"$feedDir/MOCK_DATA_0.csv")
    pw.println(SalesFeed.fieldNames.mkString(","))
    for (i <- 1 to 40) {
      val id = if (i % 5 == 0) s"garbage$i" else i.toString // 8 bad ids
      val m = Map("id" -> id, "sale_customer_id" -> i.toString,
        "customer_first_name" -> s"F$i", "customer_last_name" -> s"L$i",
        "sale_date" -> "3/14/2021", "sale_quantity" -> "1",
        "sale_total_price" -> "5.00", "store_name" -> s"S${i % 3}")
      pw.println(SalesFeed.fieldNames.map(c => m.getOrElse(c, "")).mkString(","))
    }
    pw.close()
    val store = new BucketedMergeWriter(spark,
      Files.createTempDirectory("graft-dl-tables").toString, nBuckets = 4)
    StreamToStar.startFromFiles(spark, s"$feedDir/MOCK_DATA_*.csv", store,
      Files.createTempDirectory("dl-ckpt1").toString).awaitTermination()
    val n1 = store.read("dead_letter").count()
    assert(n1 === 8, "every uncoercible id must dead-letter exactly once")
    // replay with a FRESH checkpoint — the same batch runs again; the
    // keyed merge must not duplicate dead-letter rows
    StreamToStar.startFromFiles(spark, s"$feedDir/MOCK_DATA_*.csv", store,
      Files.createTempDirectory("dl-ckpt2").toString).awaitTermination()
    assert(store.read("dead_letter").count() === n1,
      "replayed batch must not append duplicate dead-letter records")
    assert(store.read("fact_sales").count() === 32)
  }

  test("lastWriteWins is deterministic under shuffled partitioning (T6)") {
    import graft.plans.StarSchema
    val feedDir = Files.createTempDirectory("graft-feed2").toString
    writeFeed(feedDir, nFiles = 3, nRows = 200)
    val feed = SalesFeed.readCsv(spark, s"$feedDir/MOCK_DATA_*.csv")

    def dimOf(df: org.apache.spark.sql.DataFrame): Array[String] =
      StarSchema.lastWriteWins(StarSchema.customerRows(df), Seq("source_customer_id"), "_seq")
        .orderBy(col("source_customer_id"))
        .collect().map(_.toString)

    val base = dimOf(feed)
    val shuffled = dimOf(feed.repartition(13))
    val shuffled2 = dimOf(feed.repartition(1))
    assert(base.sameElements(shuffled))
    assert(base.sameElements(shuffled2))
  }
}
