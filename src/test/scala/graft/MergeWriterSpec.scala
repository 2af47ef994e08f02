package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.plans.BucketedMergeWriter

/** MERGE-layer invariants of the table store (SURVEY.md §7.4.2):
  * surrogate-key stability, last-write-wins upsert, empty-table guards,
  * append table. Bucket-level properties live in BucketedMergeWriterSpec. */
class MergeWriterSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() =
    new BucketedMergeWriter(spark, Files.createTempDirectory("graft-merge").toString,
      nBuckets = 4)

  test("mergeDim assigns dense keys on first batch and never reassigns them") {
    val store = freshStore()
    val b1 = Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("k", "attr")
    val t1 = store.mergeDim("d", b1, Seq("k"), "sk")
    val keys1 = t1.collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("sk")).toMap
    assert(keys1.values.toSet === Set(1L, 2L, 3L))

    // second batch: one update (new attr), one insert
    val b2 = Seq((20L, "b2"), (40L, "d")).toDF("k", "attr")
    val t2 = store.mergeDim("d", b2, Seq("k"), "sk")
    val rows2 = t2.collect().map(r =>
      r.getAs[Long]("k") -> (r.getAs[Long]("sk"), r.getAs[String]("attr"))).toMap
    assert(rows2(20L)._1 === keys1(20L), "existing key must keep its sk")
    assert(rows2(20L)._2 === "b2", "attributes must update")
    assert(rows2(10L) === (keys1(10L), "a"), "untouched rows unchanged")
    assert(rows2(40L)._1 === 4L, "new key continues after max(sk)")
    assert(t2.count() === 4)
  }

  test("NULL natural keys upsert null-safely: replay is a no-op, sk stable") {
    val store = freshStore()
    val b1 = Seq((Some(10L), "a"), (None, "nullkey")).toDF("k", "attr")
    val t1 = store.mergeDim("d", b1, Seq("k"), "sk")
    assert(t1.count() === 2)
    val nullSk = t1.filter(col("k").isNull).collect().head.getAs[Long]("sk")
    // replaying the SAME batch must not mint a second NULL-keyed row
    val t2 = store.mergeDim("d", b1, Seq("k"), "sk")
    assert(t2.count() === 2, "replay must be a no-op on keys (incl. NULL)")
    assert(t2.filter(col("k").isNull).collect().head.getAs[Long]("sk") === nullSk,
      "the NULL-keyed row keeps its surrogate key")
    // and the NULL-keyed row's attributes still update last-write-wins
    val t3 = store.mergeDim("d",
      Seq((Option.empty[Long], "updated")).toDF("k", "attr"), Seq("k"), "sk")
    assert(t3.filter(col("k").isNull).collect().head.getAs[String]("attr")
      === "updated")
    // fact path: same contract, composite key with a NULL component
    val f1 = Seq((Some(1L), Some("x"), 5.0), (Some(1L), None, 6.0))
      .toDF("a", "b", "v")
    store.mergeFact("f", f1, Seq("a", "b"))
    store.mergeFact("f", f1, Seq("a", "b"))
    assert(store.read("f").count() === 2, "fact replay must not duplicate NULL keys")
  }

  test("empty batches over an existing table are a no-op (no version churn)") {
    val store = freshStore()
    val b1 = Seq((10L, "a")).toDF("k", "attr")
    store.mergeDim("d", b1, Seq("k"), "sk")
    store.mergeFact("f", Seq((1L, 2.0)).toDF("k", "v"), Seq("k"))
    def versions(t: String) = (store.onDiskVersionDirs(t), store.committedVersions(t))
    val (dimBefore, factBefore) = (versions("d"), versions("f"))
    store.mergeDim("d", b1.limit(0), Seq("k"), "sk")
    store.mergeFact("f", Seq.empty[(Long, Double)].toDF("k", "v"), Seq("k"))
    assert(versions("d") === dimBefore, "empty dim merge must not write a version")
    assert(versions("f") === factBefore, "empty fact merge must not write a version")
    assert(store.read("d").count() === 1 && store.read("f").count() === 1)
  }

  test("mergeDim survives an empty current table (max(sk) NULL guard)") {
    val store = freshStore()
    val empty = Seq.empty[(Long, String)].toDF("k", "attr")
    store.mergeDim("d", empty, Seq("k"), "sk")
    val t = store.mergeDim("d", Seq((1L, "x")).toDF("k", "attr"), Seq("k"), "sk")
    assert(t.collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("sk"))).toSeq === Seq((1L, 1L)))
  }

  test("mergeFact is last-write-wins on the natural key") {
    val store = freshStore()
    store.mergeFact("f", Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), Seq("id"))
    val t = store.mergeFact("f", Seq((2L, 99.0), (3L, 30.0)).toDF("id", "v"), Seq("id"))
    val m = t.collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("v")).toMap
    assert(m === Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0))
  }

  test("appendTable accumulates batches") {
    val store = freshStore()
    store.appendTable("dl", Seq("e1").toDF("err"))
    val t = store.appendTable("dl", Seq("e2", "e3").toDF("err"))
    assert(t.collect().map(_.getString(0)).sorted.toSeq === Seq("e1", "e2", "e3"))
  }
}
