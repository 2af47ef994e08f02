package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-aware defaults.
  *
  * Local testing runs `local[N]`, but every knob here is chosen so the same
  * code runs unchanged on a multi-executor cluster at 100 TB:
  *   - AQE on (runtime shuffle-partition coalescing + skew-join splitting),
  *   - explicit shuffle partitions matched to parallelism (not the 200
  *     default, which is wrong for local mode and too small at cluster scale
  *     where AQE re-derives it),
  *   - UTC session time zone so date semantics match the DuckDB oracle and
  *     are cluster-node independent.
  *
  * Two settings size the local runtime to graft's working set; both remove
  * a cost that every star micro-batch paid again:
  *   - `spark.sql.codegen.cache.maxEntries` = 1000. Spark keeps 100
  *     generated classes by default, fewer than one star micro-batch or
  *     one pass over the 22 TPC-H shapes uses, so each recompiled most of
  *     its classes with Janino: 262–264 compiles in a steady-state
  *     1000-row batch (SessionRuntimeSpec) and 277–278 per TPC-H pass at
  *     100 entries; 6 and 12–22 at 1000.
  *   - `fs.file.impl` and `fs.AbstractFileSystem.file.impl` = [[LocalFs]]
  *     and its `FileContext` twin: without libhadoop, Hadoop's local file
  *     system forks `chmod` for every file and directory it creates and
  *     `readlink` in every checkpoint rename (SessionRuntimeSpec: 327
  *     forks in a steady-state batch, 369 in a checkpointed one; 0 with
  *     [[LocalFs]]). Left unset, `file:` resolves to whichever jar
  *     registers the scheme last, here Hive's `ProxyLocalFileSystem`.
  *
  * The session is built `.withExtensions(new GraftExtensions)`: graft's SQL
  * functions (`dot_product`, `etld1`, ...) and its two optimizer rules
  * (`BandedThetaJoinRule`, `BloomJoinRule`) are part of it from the first
  * query, and `newSession()` passes them on to every derived session. So
  * no query's plan depends on which queries ran before it. This is the
  * same class a cluster deployer names in `spark.sql.extensions`. At the
  * 64 MB broadcast threshold here, `BloomJoinRule`'s envelope
  * `(threshold, maxCreationBytes]` is empty: the rule does not fire until
  * a deployer lowers `spark.sql.autoBroadcastJoinThreshold`.
  *
  * Every main builds its session here: `Bench`, `Verify`, `PlanDump`, the
  * star runners, the tests and the benchmark harness plan under one
  * config. Three settings are JVM-wide. Spark reads the cache size once,
  * when code generation first runs in the JVM; Hadoop caches one `file:`
  * FileSystem per JVM and user, so the first configuration that creates
  * it wins; and `getOrCreate` returns an existing session without
  * applying extensions. A session built after another one in the same JVM
  * may get none of the three.
  */
object GraftSession {
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(appName: String = "graft", nCpus: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nCpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", nCpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.parquet uses TIMESTAMP(NANOS); read as long + truncate
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[LocalFs.ForFileContext].getName)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Readers for the driver-generated TPC-H-ish star (TESTDATA.md).
  * Plain `spark.read.parquet` — filters/projections added downstream are
  * pushed into the scan by Catalyst (PushedFilters / ReadSchema), which is
  * the load-bearing property at 100 TB: never read columns you don't need.
  */
object Tables {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{col, expr}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) — which Spark
    * reads as a nanos long under `nanosAsLong` — as TIMESTAMP(µs,
    * adjustedToUTC) — read natively as TIMESTAMP — and as TIMESTAMP(µs,
    * local), which Spark 4 infers as TIMESTAMP_NTZ. Branch on the RESOLVED
    * type, not an assumed generator flavor: truncate the nanos form to µs
    * (the same floor DuckDB applies on `CAST(ts AS TIMESTAMP)`) and pin the
    * NTZ form to the session-UTC instant (identical wall-clock, and the
    * zoned type `unix_micros`/watermarks require), so every consumer sees
    * one µs-TIMESTAMP schema either way. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    } else df
  }
}
