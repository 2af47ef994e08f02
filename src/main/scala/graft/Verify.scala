package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Also writes `manifest.tsv` — one `name<TAB>rows<TAB>status` line per
  * query, APPENDED as each query lands (a mid-run kill leaves a parsable
  * prefix) — and mirrors each line to stdout. The r14 driver artifact
  * came back empty with no way to tell "nothing ran" from "comparator
  * died"; the manifest is the per-query signal that survives a dead
  * comparator, parsable by anything that can split on tabs. Runs under
  * [[GraftSession.local]], in `QueryCatalog.entries` order, so two runs
  * write the same manifest and put the same block pressure on each query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names for fast local
    // iteration on a subset; the driver's 2-arg call runs everything.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local("graft-verify", GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    val manifest = Paths.get(s"$outDir/manifest.tsv")
    Files.writeString(manifest, "") // fresh file per run
    def note(line: String): Unit = {
      println(s"[verify] $line")
      Files.writeString(manifest, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    QueryCatalog.entries
      .filter { case (name, _, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn, _) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // footer-metadata count of what actually landed — cheap, and it
        // proves the files are readable, not just that the write returned
        val rows = spark.read.parquet(s"$outDir/$name").count()
        note(s"$name\t$rows\tok")
      } catch { case e: Throwable =>
        note(s"$name\t-1\tfailed: ${Option(e.getMessage).getOrElse(e.getClass.getName).replaceAll("[\\t\\n\\r]", " ").take(200)}")
      } finally
        // drop the finished query's leaked localCheckpoint blocks — every
        // `.materialized` frame parks partitions in the BlockManager until
        // driver GC; across 300 queries that storage pressure slows later
        // queries (the Bench sweep's rationale, r17).
        // INVARIANT (r17 advice): this sweeps EVERY persistent RDD, and
        // localCheckpointed RDDs have truncated lineage — so no catalog
        // query may hand a materialized frame (cached dim, temp view over
        // a .materialized frame) to a LATER query. Queries are registered
        // as self-contained (SparkSession, sfDir) => DataFrame closures,
        // and sharing results across queries is contractually out anyway
        // (cross-query result caching); a future shared frame must move
        // to the BlockSweep created-since-diff pattern instead.
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
