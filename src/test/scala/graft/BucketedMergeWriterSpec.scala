package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.plans.BucketedMergeWriter

/** Bucketed MERGE invariants beyond MergeWriterSpec's store contract: the
  * load-bearing scale property — a merge must leave untouched buckets'
  * files physically unchanged on disk (write amplification O(touched
  * buckets), not O(table)). */
class BucketedMergeWriterSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-bucketed").toString

  private def bucketFiles(root: String, table: String): Map[String, Long] = {
    val dir = java.nio.file.Paths.get(root, table)
    Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap
  }

  test("mergeDim keeps keys stable and updates attributes across batches") {
    val store = new BucketedMergeWriter(spark, freshRoot(), nBuckets = 8)
    val t1 = store.mergeDim("d", Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("k", "attr"),
      Seq("k"), "sk")
    val keys1 = t1.collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("sk")).toMap
    assert(keys1.values.toSet === Set(1L, 2L, 3L))

    val t2 = store.mergeDim("d", Seq((20L, "b2"), (40L, "d")).toDF("k", "attr"),
      Seq("k"), "sk")
    val rows2 = t2.collect().map(r =>
      r.getAs[Long]("k") -> (r.getAs[Long]("sk"), r.getAs[String]("attr"))).toMap
    assert(rows2(20L)._1 === keys1(20L))
    assert(rows2(20L)._2 === "b2")
    assert(rows2(10L) === (keys1(10L), "a"))
    assert(rows2(40L)._1 === 4L)
    assert(t2.count() === 4)
  }

  test("a merge rewrites ONLY the buckets its batch touches") {
    val root = freshRoot()
    val store = new BucketedMergeWriter(spark, root, nBuckets = 32)
    // keys spread across many buckets
    store.mergeFact("f", (1L to 200L).map(i => (i, i * 1.0)).toDF("id", "v"), Seq("id"))
    val before = bucketFiles(root, "f")
    Thread.sleep(1100) // mtime granularity

    // single-key batch -> exactly one bucket dir may change
    store.mergeFact("f", Seq((7L, 99.0)).toDF("id", "v"), Seq("id"))
    val after = bucketFiles(root, "f")

    val beforeDirs = before.keys.map(p => p.split("/_bucket=")(1).split("/")(0)).toSet
    val changed = after.filterNot { case (p, m) => before.get(p).contains(m) }
    val changedDirs = changed.keys.map(p => p.split("/_bucket=")(1).split("/")(0)).toSet
    assert(beforeDirs.size > 10, s"expected many buckets, got $beforeDirs")
    assert(changedDirs.size === 1,
      s"exactly one bucket dir may change, got $changedDirs")
    // and the data is correct
    val m = store.read("f").collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("v")).toMap
    assert(m(7L) === 99.0 && m(8L) === 8.0 && m.size === 200)
  }

  test("a crash between data write and manifest swap leaves the table consistent") {
    val root = freshRoot()
    val store = new BucketedMergeWriter(spark, root, nBuckets = 4)
    store.mergeDim("d", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "attr"),
      Seq("k"), "sk")
    val before = store.read("d").orderBy(col("k")).collect().map(_.toString).toSeq

    // simulate the only non-atomic window: a merge that wrote its new
    // version directory but died before the atomic _MANIFEST swap
    Seq((2L, "CRASHED", 99L), (4L, "CRASHED", 98L)).toDF("k", "attr", "sk")
      .withColumn("_bucket", lit(2))
      .write.partitionBy("_bucket").parquet(s"$root/d/v1")

    // readers never see the orphan — manifest still points at v0
    assert(store.read("d").orderBy(col("k")).collect().map(_.toString).toSeq === before)

    // the next merge must not collide with the orphan's version number,
    // must keep existing keys stable, and must land correct data
    val t = store.mergeDim("d", Seq((2L, "b2"), (4L, "d")).toDF("k", "attr"), Seq("k"), "sk")
    val m = t.collect().map(r =>
      r.getAs[Long]("k") -> (r.getAs[Long]("sk"), r.getAs[String]("attr"))).toMap
    assert(m(2L)._2 === "b2" && m(2L)._1 != 99L)
    assert(m(4L)._2 === "d" && m(4L)._1 === 4L)
    assert(m.size === 4)

    // vacuum removes the orphan (and superseded versions); table unchanged
    store.vacuum("d")
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/d/v1")),
      "orphan version must be vacuumed")
    assert(store.read("d").count() === 4)
  }

  test("compaction folds many live versions into one, atomically and losslessly") {
    val root = freshRoot()
    val store = new BucketedMergeWriter(spark, root, nBuckets = 4, compactAfter = 3)
    for (i <- 1 to 6) // 6 merges -> would be 6 live versions without compaction
      store.mergeDim("d", Seq((i.toLong, s"a$i")).toDF("k", "attr"), Seq("k"), "sk")
    val rows = store.read("d").collect()
      .map(r => r.getAs[Long]("k") -> (r.getAs[Long]("sk"), r.getAs[String]("attr"))).toMap
    assert(rows === (1 to 6).map(i => i.toLong -> (i.toLong, s"a$i")).toMap)
    // live version count is bounded by compactAfter
    val manifest = Files.readAllLines(java.nio.file.Paths.get(s"$root/d/_MANIFEST"))
      .asScala.drop(1).filterNot(_.startsWith("#"))
      .map(_.trim.split("\\s+")(1)).toSet
    assert(manifest.size <= 3, s"expected <=3 live versions, got $manifest")
  }

  test("empty first batch defers table creation, later batches create it") {
    val store = new BucketedMergeWriter(spark, freshRoot(), nBuckets = 4)
    store.mergeDim("d", Seq.empty[(Long, String)].toDF("k", "attr"), Seq("k"), "sk")
    assert(!store.exists("d"))
    val t = store.mergeDim("d", Seq((1L, "x")).toDF("k", "attr"), Seq("k"), "sk")
    assert(t.count() === 1)
  }

  test("end-to-end star pipeline over the bucketed store lands the feed's exact counts") {
    import graft.plans.Integrity
    import graft.streaming.StreamToStar
    val feedDir = Files.createTempDirectory("graft-feed-b").toString
    // small 2-file feed with duplicate ids
    for (f <- 0 until 2) {
      val pw = new java.io.PrintWriter(s"$feedDir/MOCK_DATA_$f.csv")
      pw.println(graft.sources.SalesFeed.fieldNames.mkString(","))
      for (i <- 1 to 50) {
        val m = Map("id" -> i.toString, "sale_customer_id" -> i.toString,
          "customer_first_name" -> s"F$i", "customer_last_name" -> s"L${i}_f$f",
          "sale_seller_id" -> i.toString, "sale_product_id" -> i.toString,
          "product_name" -> s"P$i", "store_name" -> s"S${i % 5}",
          "supplier_name" -> s"Su${i % 3}", "sale_date" -> "3/14/2021",
          "sale_quantity" -> "2", "sale_total_price" -> s"$i.50",
          "seller_first_name" -> s"SF$i", "seller_last_name" -> s"SL$i")
        pw.println(graft.sources.SalesFeed.fieldNames.map(c => m.getOrElse(c, "")).mkString(","))
      }
      pw.close()
    }
    val store = new BucketedMergeWriter(spark, freshRoot(), 8)
    StreamToStar.startFromFiles(spark, s"$feedDir/MOCK_DATA_*.csv", store,
      Files.createTempDirectory("ckpt").toString).awaitTermination()
    // ids 1..50 in both files collapse to 50 entities each; 5 store and
    // 3 supplier names; one sale date
    val counts = RunStar.starTables.map(t => t -> store.read(t).count()).toMap
    assert(counts === Map(
      "dim_customer" -> 50L, "dim_seller" -> 50L, "dim_product" -> 50L,
      "dim_store" -> 5L, "dim_supplier" -> 3L, "dim_date" -> 1L,
      "fact_sales" -> 50L))
    val audit = Integrity.audit(store.read("fact_sales"), Seq(
      ("customer", store.read("dim_customer"), "customer_key", "customer_sk"),
      ("seller", store.read("dim_seller"), "seller_key", "seller_sk"),
      ("product", store.read("dim_product"), "product_key", "product_sk"),
      ("store", store.read("dim_store"), "store_key", "store_sk"),
      ("supplier", store.read("dim_supplier"), "supplier_key", "supplier_sk"),
      ("date", store.read("dim_date"), "date_key", "date_sk")))
    assert(audit.values.forall(_ == 0L), s"orphan foreign keys: $audit")
  }

  test("reopening a table with a different nBuckets fails loudly (identity guard)") {
    val root = freshRoot()
    val w8 = new BucketedMergeWriter(spark, root, nBuckets = 8)
    w8.mergeDim("d", Seq((1L, "a")).toDF("k", "attr"), Seq("k"), "sk")
    val w16 = new BucketedMergeWriter(spark, root, nBuckets = 16)
    val e = intercept[IllegalArgumentException] {
      w16.mergeDim("d", Seq((2L, "b")).toDF("k", "attr"), Seq("k"), "sk")
    }
    assert(e.getMessage.contains("nBuckets"),
      s"mismatched bucket count must name the problem: ${e.getMessage}")
    // the matching writer still works
    w8.mergeDim("d", Seq((2L, "b")).toDF("k", "attr"), Seq("k"), "sk")
    assert(w8.read("d").count() === 2L)
  }

  test("batch columns colliding with internal merge markers are rejected") {
    val store = new BucketedMergeWriter(spark, freshRoot(), nBuckets = 4)
    store.mergeDim("d", Seq((1L, "a")).toDF("k", "attr"), Seq("k"), "sk")
    intercept[IllegalArgumentException] {
      store.mergeDim("d",
        Seq((2L, "b", 7)).toDF("k", "attr", "_in_batch"), Seq("k"), "sk")
    }
    intercept[IllegalArgumentException] {
      store.mergeFact("d",
        Seq((3L, "c", 7)).toDF("k", "attr", "_cur_attr"), Seq("k"))
    }
    // a batch carrying the surrogate key column: rejected on an existing
    // table and on a first batch alike, before any write
    intercept[IllegalArgumentException] {
      store.mergeDim("d", Seq((4L, "d", 9L)).toDF("k", "attr", "sk"), Seq("k"), "sk")
    }
    intercept[IllegalArgumentException] {
      store.mergeDim("first1", Seq((4L, "d", 9L)).toDF("k", "attr", "sk"), Seq("k"), "sk")
    }
    assert(!store.exists("first1"))
    assert(store.read("d").count() === 1L)
  }

  test("a column named sk, as attribute or natural key, merges again and keeps its keys") {
    // the stored surrogate key is aliased `_cur_<skCol>`; a user column
    // literally named `sk` aliases to `_cur_sk` and must not collide
    val store = new BucketedMergeWriter(spark, freshRoot(), nBuckets = 4)
    val first = store.mergeDim("d", Seq((1L, "a"), (2L, "b")).toDF("k", "sk"), Seq("k"), "d_key")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("d_key")).toMap
    val second = store.mergeDim("d", Seq((2L, "b2"), (3L, "c")).toDF("k", "sk"), Seq("k"), "d_key")
      .collect().map(r => r.getAs[Long]("k") -> (r.getAs[Long]("d_key"), r.getAs[String]("sk")))
      .toMap
    assert(second(1L) === (first(1L), "a"))
    assert(second(2L) === (first(2L), "b2"))
    assert(second(3L)._1 === 3L)
    assert(second.values.map(_._1).toSet === Set(1L, 2L, 3L))

    // a natural key named `sk`, on a first batch and on the merge after it
    store.mergeDim("n", Seq((5L, "e")).toDF("sk", "attr"), Seq("sk"), "attr_key")
    val n = store.mergeDim("n", Seq((5L, "e2"), (6L, "f")).toDF("sk", "attr"), Seq("sk"), "attr_key")
      .collect().map(r => r.getAs[Long]("sk") -> (r.getAs[Long]("attr_key"), r.getAs[String]("attr")))
      .toMap
    assert(n === Map(5L -> (1L, "e2"), 6L -> (2L, "f")))
  }

  test("vacuum on a never-created table is a no-op (TableStore contract)") {
    val store = new BucketedMergeWriter(spark, freshRoot(), nBuckets = 4)
    store.vacuum("never_created") // must not throw
  }
}
