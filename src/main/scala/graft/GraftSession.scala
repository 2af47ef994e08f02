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
  * Filters/projections added downstream are pushed into the scan by
  * Catalyst (PushedFilters / ReadSchema), which is the load-bearing
  * property at 100 TB: never read columns you don't need.
  *
  * Schema registry. `spark.read.parquet(path)` infers the schema by
  * reading parquet footers in a Spark job, and every catalog query loads
  * each of its tables again, so the same unchanged file was inferred once
  * per query per table. `load` infers a file's schema once and reads it
  * with that schema afterwards (`spark.read.schema(s).parquet(path)`
  * starts no job).
  *   - Cached: the inferred schema, before the `events.ts` normalization.
  *   - Key: the qualified path plus the session's parquet confs
  *     (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`), which change
  *     what inference returns (e.g. `nanosAsLong`). Sessions that differ
  *     there never share an entry.
  *   - Freshness: path, length and modification time of every file under
  *     the path, read on each load. A rewritten file no longer matches, is
  *     inferred again and replaces its entry.
  *   - Bound: one entry per key, so the registry grows with the number of
  *     distinct paths (times conf variants), not with the number of loads.
  * [[plans.BucketedMergeWriter]] keeps the same kind of registry for its
  * immutable version directories.
  */
object Tables {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{col, expr}
  import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
  import org.apache.hadoop.fs.Path

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private type Stamp = Seq[(String, Long, Long)]
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[(String, String)]), (Stamp, StructType)]()

  /** The parquet file (or directory) at `path`, read with its registered
    * schema. A path that does not exist is left to Spark's own reader, so
    * it fails as `spark.read.parquet` does. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    val stamp: Option[Stamp] =
      try {
        val files = fs.listFiles(qualified, true)
        val b = Seq.newBuilder[(String, Long, Long)]
        while (files.hasNext) {
          val f = files.next()
          b += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        Some(b.result())
      } catch { case _: java.io.FileNotFoundException => None }
    stamp.fold(spark.read.parquet(path)) { st =>
      val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.sorted
      val key = (qualified.toString, confs)
      val schema = Option(schemas.get(key)).collect { case (`st`, s) => s }.getOrElse {
        val inferred = spark.read.parquet(path).schema
        schemas.put(key, (st, inferred))
        inferred
      }
      spark.read.schema(schema).parquet(path)
    }
  }

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
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    } else df
  }
}
