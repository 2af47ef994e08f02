package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Result-identity of the three `spark.graft.materialize` modes on a
  * representative ITERATIVE operator (pageRankDirected: 8 rounds, each
  * materializing the rank frame) — the contract that lets a preemptible
  * cluster flip the mode to `reliable` without re-validating results. */
class MaterializeSpec extends SparkSpec {

  private def runPr(): Seq[Row] = {
    import spark.implicits._
    // a small directed graph with a dangling node (5 has no out-edges)
    // and a 2-cycle, so every code path (dangling mass, contribution
    // join, left-miss coalesce) executes in each round
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L), (4L, 5L), (2L, 5L)
    ).toDF("src", "dst")
    // 4 iterations, not the catalog's 8: every mode-sensitive code path
    // (dangling mass, contribution join, left-miss coalesce, per-round
    // materialization) runs in EVERY round, so mode-identity needs few
    // rounds — and this suite is pure per-round fixed cost (3 modes ×
    // rounds × ~4 jobs each; 50 s at 6 rounds, measured r18)
    operators.Dedup.pageRankDirected(edges, "src", "dst", iterations = 4)
      .orderBy("id").collect().toSeq
  }

  test("local, reliable and persist modes produce identical PageRank") {
    val conf = spark.conf
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val base = runPr() // default: local
    assert(base.nonEmpty)
    try {
      conf.set("spark.graft.materialize", "reliable")
      conf.set("spark.graft.checkpointDir", ckpt)
      assert(runPr() === base)
      conf.set("spark.graft.materialize", "persist")
      assert(runPr() === base)
    } finally {
      conf.set("spark.graft.materialize", "local")
    }
  }

  test("persist mode: star batches leave no CacheManager entry behind") {
    val conf = spark.conf
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val dir = java.nio.file.Files.createTempDirectory("graft-persist-feed").toString
    SmallStarFeed.write(dir, Seq("0", "1", "2"), nRows = 20, badEvery = 7)
    val store = new graft.plans.BucketedMergeWriter(spark,
      java.nio.file.Files.createTempDirectory("graft-persist-tables").toString, nBuckets = 4)
    // a clean slate, so "no entry left" reads as an empty cache manager
    spark.catalog.clearCache()
    try {
      conf.set("spark.graft.materialize", "persist")
      for (b <- 0 to 2)
        graft.streaming.StreamToStar.processBatch(
          sources.SalesFeed.readCsv(spark, s"$dir/MOCK_DATA_$b.csv"), store, b.toLong,
          Some("audit_verdicts"))
    } finally conf.set("spark.graft.materialize", "local")
    assert(store.read("fact_sales").count() === 18)
    assert(cacheManager.isEmpty, "each batch's scope must remove the cache entries it made")
  }

  test("unknown mode fails loudly") {
    val conf = spark.conf
    try {
      conf.set("spark.graft.materialize", "bogus")
      val e = intercept[IllegalArgumentException](runPr())
      assert(e.getMessage.contains("local|reliable|persist"))
    } finally conf.set("spark.graft.materialize", "local")
  }
}
