package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.plans.BucketedMergeWriter
import graft.sources.SalesFeed
import graft.streaming.StreamToStar

/** BucketedMergeWriter resolves the versions it wrote without Spark's
  * parquet schema inference: the schema it remembers is exactly the one
  * inference would find, and reading or merging those versions starts no
  * inference job. */
class VersionSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val tables = RunStar.starTables ++ Seq("dead_letter", "audit_verdicts")

  /** Per Spark job `body` started, the first call-site line of its stages. */
  private def jobLines(body: => Unit): Seq[String] =
    jobsDuring(body).map(_.stageInfos.map(_.details.linesIterator.take(1).mkString).mkString(";"))

  /** A job started by `DataFrameReader.parquet` is a schema inference:
    * with a schema given, the reader starts none. */
  private def inference(jobs: Seq[String]): Seq[String] =
    jobs.filter(_.contains("DataFrameReader.parquet"))

  test("version reads start no schema-inference job; remembered schemas match the files") {
    val root = Files.createTempDirectory("graft-vschema").toString
    val feedDir = Files.createTempDirectory("graft-vschema-feed").toString
    SmallStarFeed.write(feedDir, Seq("0", "1", "2"), nRows = 20, badEvery = 7)
    def feed(f: String) = SalesFeed.readCsv(spark, s"$feedDir/MOCK_DATA_$f.csv")
    // compactAfter = 1: any merge that leaves two live versions compacts
    val store = new BucketedMergeWriter(spark, root, nBuckets = 4, compactAfter = 1)
    StreamToStar.processBatch(feed("0"), store, 0L, Some("audit_verdicts"))
    // additive schema evolution on one bucket of dim_store, which leaves
    // two live versions and so triggers a compaction of the union layout
    store.mergeDim("dim_store",
      Seq(("S1", "Berlin", "north")).toDF("store_name", "city", "store_region"),
      Seq("store_name"), "store_sk")
    val storeVersions = store.onDiskVersionDirs("dim_store")
    assert(storeVersions.size === 3, s"create, evolve, compact: $storeVersions")
    assert(store.read("dim_store").columns.contains("store_region"))

    def checkRemembered(): Unit = for (t <- tables; v <- store.onDiskVersionDirs(t)) {
      val inferred = spark.read.parquet(s"$root/$t/v$v").schema
      assert(store.rememberedSchema(t, v) === Some(inferred), s"$t v$v")
    }
    checkRemembered()

    // resolving every table is planning only: no job at all
    assert(jobLines(tables.foreach(t => store.read(t).schema)) === Nil)
    // the next micro-batch reads every table's live versions and merges
    val merged = jobLines(
      StreamToStar.processBatch(feed("1"), store, 1L, Some("audit_verdicts")))
    assert(merged.nonEmpty)
    assert(inference(merged) === Nil)
    checkRemembered()

    // a writer that did not write the versions (a restart) infers each
    // live version's schema once, then remembers it
    val reopened = new BucketedMergeWriter(spark, root, nBuckets = 4, compactAfter = 1)
    val live = store.committedVersions("dim_store").last
    assert(reopened.rememberedSchema("dim_store", live) === None)
    assert(inference(jobLines(reopened.read("dim_store").count())).size === 1)
    assert(reopened.rememberedSchema("dim_store", live) ===
      store.rememberedSchema("dim_store", live))
    assert(inference(jobLines(reopened.read("dim_store").count())) === Nil)
    assert(reopened.read("dim_store").filter(col("store_region") === "north").count() === 1L)
  }
}
