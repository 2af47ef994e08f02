package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, materializing each result fully through the noop
  * sink (every projected column is computed and serialized — unlike
  * `.count()`, which lets Spark skip column evaluation and overstates the
  * engine). Failures are reported per-query, never silently swallowed into
  * the timing. Prints ONE JSON line. Plans under [[GraftSession.local]],
  * the session the tests, `PlanDump` and the benchmark harness use.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench", GraftSession.cpus)
    val sc = spark.sparkContext

    // warm up codegen/IO paths once so the first measured query doesn't
    // pay JVM cold-start (first table present in the dir — partial dirs
    // like the scale-headroom documents/embeddings set lack nation)
    Seq("nation", "documents", "embeddings")
      .find(n => java.nio.file.Files.exists(java.nio.file.Paths.get(s"$sfDir/$n.parquet")))
      .foreach(n => Tables.load(spark, sfDir, n).write.format("noop").mode("overwrite").save())

    // two measured runs per query, report the min: steady-state timing
    // (codegen/JIT compiled, page cache warm) with much lower run-to-run
    // variance than a single cold pass — measured ±30% single-run noise
    // on this box
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // optional comma-separated prefix filter (e.g. "q24,q36,q39" for the
    // scale-headroom runs over a documents/embeddings-only directory)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    var errors = List.empty[(String, String)]
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // one UNTIMED full query before the measured loop: the parquet-read
    // warm-up above does not compile the query-shaped codegen/JIT paths,
    // so session warm-up was landing on whatever query ran first (q11
    // measured 6.8 s cold vs 1.23 s warm in the r8 runs) — a false >2×
    // "regression" waiting to trip. Failures are ignored here; the
    // measured loop reports them.
    selected.headOption.foreach { case (_, fn) =>
      try Materialize.scoped(sc)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      catch { case _: Throwable => () }
    }
    // Each attempt is one Materialize scope, freed OUTSIDE the timed
    // window: otherwise every `.materialized` frame parks its partitions in
    // the BlockManager until the driver GC happens to collect the RDD
    // handle, so a 300-query run accumulates storage pressure that
    // inflates LATER queries' times nondeterministically (measured r17:
    // q128 0.3 s isolated vs 4.5 s late in a full run, same binary). This
    // is measurement hygiene, not a result change — a real deployment runs
    // one query per job and never sees a neighbor's blocks. Timing
    // methodology (min-of-2, noop sink) is unchanged.
    val results = selected.map { case (name, fn) =>
      // a failed attempt reports time -1 and is EXCLUDED from the total, so
      // a regression that breaks a query can never improve the headline
      val times = (0 until runs).flatMap { _ =>
        try Materialize.scoped(sc) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9) // the clock stops before the scope frees
        } catch { case e: Throwable =>
          errors ::= (name -> e.toString.takeWhile(_ != '\n').take(160))
          None
        }
      }
      name -> (if (times.isEmpty) -1.0 else times.min)
    }
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // stdout values are rounded to ms and the errors map deduped/omitted
    // when empty: the harness capture clips stdout past ~4 KB (r5-r7 each
    // lost the head of the line and parsed null), and ms precision is
    // already below this box's run-to-run jitter. Full precision goes to
    // the committed file below.
    def j(round3: Boolean, shortKeys: Boolean = false,
          slowestOnly: Int = Int.MaxValue): String = {
      // explicit root locale: f"$v%.3f" uses the JVM default locale, and a
      // comma-decimal locale (de_DE) would emit `80,915` — invalid JSON
      val fmt: Double => String =
        if (round3) v => String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
        else _.toString
      val key: String => String =
        if (shortKeys) k => k.takeWhile(_ != '_') else identity
      // a duplicate shortened prefix would silently collapse two results
      // into one duplicate JSON key — fail loudly instead
      require(results.map { case (k, _) => key(k) }.distinct.size == results.size,
        "bench: shortened query keys collide — two queries share a prefix")
      val shown =
        if (slowestOnly >= results.size) results
        else results.sortBy { case (_, v) => -v }.take(slowestOnly)
      val qs = shown.map { case (k, v) => s"${q(key(k))}:${fmt(v)}" }.mkString("{", ",", "}")
      val es = errors.toMap.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
      val total = results.map(_._2).filter(_ >= 0).sum
      val err = if (errors.isEmpty) "" else s""""errors":$es,"""
      val omitted = if (shown.size == results.size) ""
        else s""""queries_shown":${shown.size},"queries_total":${results.size},"full":"bench_out.json","""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,$err$omitted"runs":$runs,"agg":"min","sf":"$sfDir"}"""
    }
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), j(round3 = false) + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    // the harness records only the LAST ~2000 chars of stdout (sbt's
    // "[success] ..." trailer included): r9 sent all full-name keys (~5 KB)
    // and r10 all short keys (~2.9 KB) — both clipped the line's HEAD and
    // the driver recorded "parsed": null. Total + the slowest 60 queries
    // fits in < 1.2 KB with the trailer's room to spare; full per-query
    // precision lives in the committed bench_out.json.
    println(j(round3 = true, shortKeys = true, slowestOnly = 60))
    spark.stop()
  }
}
