package graft

import java.io.PrintWriter
import java.nio.file.{Files, Paths}
import graft.plans.{BucketedMergeWriter, CommitProtocol}
import graft.streaming.StreamToStar

/** Star-pipeline throughput benchmark on the reference's own workload
  * shape: 10 CSV files × 1000 rows, ids 1..1000 repeated per file (10×
  * last-write-wins pressure), full feed → cleanse → error-split → 6 dim
  * MERGEs → FK resolution → fact MERGE, through a checkpointed stream.
  *
  * The reference processes this feed with 7 synchronous Postgres
  * round-trips per record at parallelism 1 (reference:
  * flink/stream_to_star.py:284-296,303) — minutes for 10k records. This
  * engine is set-oriented: per micro-batch, each dim is ONE hash-aggregate
  * + ONE merge regardless of row count, so the same number here is
  * dominated by fixed per-batch planning cost and scales to millions of
  * rows per batch unchanged.
  *
  * Usage: runMain graft.BenchStar [nFiles] [rowsPerFile] [filesPerTrigger] [audit]
  * Prints one JSON line {"records":N,"sec":s,"records_per_sec":r,...}.
  * [audit] = on|off (default on — the full pipeline including the
  * per-batch expectation verdicts; off isolates the audit's fixed cost).
  */
object BenchStar {
  def main(args: Array[String]): Unit = {
    val nFiles = if (args.nonEmpty) args(0).toInt else 10
    val rows = if (args.length > 1) args(1).toInt else 1000
    val perTrigger = if (args.length > 2) args(2).toInt else 1
    val audit = args.length <= 3 || args(3) != "off"
    val spark = GraftSession.local("graft-bench-star")
    val feedDir = Files.createTempDirectory("graft-bench-feed").toString
    val root = Files.createTempDirectory("graft-bench-tables").toString
    val ckpt = Files.createTempDirectory("graft-bench-ckpt").toString
    try {
      val cols = graft.sources.SalesFeed.fieldNames
      for (f <- 0 until nFiles) {
        val pw = new PrintWriter(s"$feedDir/MOCK_DATA_$f.csv")
        pw.println(cols.mkString(","))
        for (i <- 1 to rows) {
          val m = Map(
            "id" -> i.toString, "sale_customer_id" -> i.toString,
            "customer_first_name" -> s"First$i", "customer_last_name" -> s"Last${i}_f$f",
            "customer_age" -> s"${20 + i % 60}.0", "customer_email" -> s"c$i@x.com",
            "seller_first_name" -> s"S$i", "seller_last_name" -> s"L${i}_f$f",
            "sale_seller_id" -> i.toString, "sale_product_id" -> i.toString,
            "product_name" -> s"Widget $i", "product_price" -> s"${i % 50}.25",
            "product_rating" -> "4.5", "product_reviews" -> (i % 100).toString,
            "sale_date" -> s"${1 + i % 12}/${1 + i % 28}/2021",
            "sale_quantity" -> s"${i % 10}.0", "sale_total_price" -> s"${i * 2}.50",
            "store_name" -> s"Store ${i % 383}", "supplier_name" -> s"Supp ${i % 383}")
          pw.println(cols.map(c => m.getOrElse(c, "")).mkString(","))
        }
        pw.close()
      }

      val store = new BucketedMergeWriter(spark, root)

      val t0 = System.nanoTime()
      StreamToStar.startFromFiles(spark, s"$feedDir/MOCK_DATA_*.csv", store, ckpt,
        filesPerTrigger = perTrigger, audit = audit)
        .awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val n = nFiles.toLong * rows
      val fact = store.read("fact_sales").count()
      require(fact == rows, s"fact must collapse to $rows rows, got $fact")
      println(f"""{"records":$n,"sec":$sec%.2f,"records_per_sec":${(n / sec).toLong},"files":$nFiles,"files_per_trigger":$perTrigger,"fact_rows":$fact,"audit":$audit}""")
    } finally {
      spark.stop()
      Seq(feedDir, root, ckpt).foreach(d => CommitProtocol.deleteDir(Paths.get(d)))
    }
  }
}
