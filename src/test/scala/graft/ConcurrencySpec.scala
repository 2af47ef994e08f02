package graft

import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.DurationInt
import scala.concurrent.ExecutionContext.Implicits.global
import org.apache.spark.sql.functions._
import graft.plans.BucketedMergeWriter

/** Optimistic-concurrency invariants of the bucketed store (VERDICT r3
  * "next #2"): the manifest commit is compare-and-swap, so concurrent
  * writers NEVER silently drop each other's buckets — the loser recomputes
  * against the winner's state. The reference gets this serialization for
  * free from Postgres (reference: flink/stream_to_star.py:99-282,
  * ON CONFLICT); a 100 TB deployment has compaction/vacuum racing
  * ingestion, so the store must provide it itself. */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-concurrent").toString

  test("two concurrent mergeDims on one table never lose an update") {
    val store = new BucketedMergeWriter(spark, freshRoot(), nBuckets = 8)
    // disjoint key ranges, several rounds each, racing on the same table
    def writer(lo: Long, rounds: Int): Future[Unit] = Future {
      for (r <- 1 to rounds)
        store.mergeDim("d",
          (lo until lo + 10L).map(k => (k, s"attr_${k}_r$r")).toDF("k", "attr"),
          Seq("k"), "sk")
    }
    Await.result(
      Future.sequence(Seq(writer(0L, 5), writer(100L, 5))), 5.minutes)
    val rows = store.read("d").collect()
      .map(r => r.getAs[Long]("k") -> (r.getAs[Long]("sk"), r.getAs[String]("attr")))
      .toMap
    // no update lost: both writers' full key ranges present at final round
    assert(rows.keySet === ((0L until 10L) ++ (100L until 110L)).toSet)
    for (k <- rows.keySet)
      assert(rows(k)._2 === s"attr_${k}_r5", s"key $k lost its last update: ${rows(k)}")
    // surrogate keys stayed unique through every race
    val sks = rows.values.map(_._1).toSeq
    assert(sks.distinct.size === sks.size, s"duplicate sks: $sks")
  }

  test("concurrent writers inserting the SAME new keys assign one sk per key") {
    val store = new BucketedMergeWriter(spark, freshRoot(), nBuckets = 8)
    val fs = (0 until 3).map { w =>
      Future {
        store.mergeDim("d", (1L to 20L).map(k => (k, s"w$w")).toDF("k", "attr"),
          Seq("k"), "sk")
      }
    }
    Await.result(Future.sequence(fs), 5.minutes)
    val t = store.read("d").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("sk")).toMap
    assert(t.keySet === (1L to 20L).toSet)
    assert(t.values.toSeq.distinct.size === 20, "sk collision across racing writers")
  }

  test("compaction racing a merge never clobbers the merge (and vice versa)") {
    // compactAfter=1 makes nearly every commit trigger compaction, so the
    // CAS conflict path actually executes both ways
    val store = new BucketedMergeWriter(spark, freshRoot(), nBuckets = 4,
      compactAfter = 1)
    def writer(lo: Long): Future[Unit] = Future {
      for (r <- 1 to 6)
        store.mergeFact("f",
          (lo until lo + 5L).map(k => (k, r.toLong)).toDF("id", "rnd"), Seq("id"))
    }
    Await.result(Future.sequence(Seq(writer(0L), writer(50L))), 5.minutes)
    val rows = store.read("f").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("rnd")).toMap
    assert(rows.keySet === ((0L until 5L) ++ (50L until 55L)).toSet)
    assert(rows.values.forall(_ == 6L), s"a merge's last round was lost: $rows")
  }

  test("vacuum racing merges reaps only dead versions, never in-flight ones") {
    val store = new BucketedMergeWriter(spark, freshRoot(), nBuckets = 4)
    store.mergeFact("f", Seq((1L, 0L)).toDF("id", "rnd"), Seq("id"))
    val merges = Future {
      for (r <- 1 to 8)
        store.mergeFact("f", (1L to 10L).map(k => (k, r.toLong)).toDF("id", "rnd"), Seq("id"))
    }
    val vacuums = Future { for (_ <- 1 to 20) { store.vacuum("f"); Thread.sleep(50) } }
    Await.result(Future.sequence(Seq(merges, vacuums)), 5.minutes)
    store.vacuum("f")
    val rows = store.read("f").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("rnd")).toMap
    assert(rows === (1L to 10L).map(_ -> 8L).toMap)
  }
}
