package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.plans.{BucketedMergeWriter, Integrity, TableStore}
import graft.streaming.StreamToStar

/** `star-perfile`: the reference arrival shape. 1000-row CSV files, one
  * file per micro-batch, through `StreamToStar.startFromFiles` into the
  * bucketed store with the per-batch audit on.
  *
  * Closed loop: every file is generated before the stream starts, and the
  * next file is handed to the stream (an atomic rename into the watched
  * directory) as soon as the previous batch has committed, so the stream
  * always has exactly one file of backlog and runs at the pipeline's
  * capacity at per-file granularity. The first batch creates the tables
  * and warms the JVM; the measured batches that follow are update-only,
  * and keep coming until `seconds` have passed (at least `MinMeasured` of
  * them). */
object StarWorkload {
  val Rows = 1000
  val WarmupFiles = 1
  val MinMeasured = 3
  private val CommitTimeoutS = 150L

  /** Data-carrying micro-batches of the stream, from Spark's streaming
    * listener, in commit order. */
  final class Progress extends StreamingQueryListener {
    val committed = new LinkedBlockingQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) committed.add(e.progress)

    /** The next committed batch, or the reason there is none. */
    def next(q: StreamingQuery): Either[String, StreamingQueryProgress] = {
      val until = System.nanoTime() + TimeUnit.SECONDS.toNanos(CommitTimeoutS)
      while (System.nanoTime() < until) {
        val p = committed.poll(200, TimeUnit.MILLISECONDS)
        if (p != null) return Right(p)
        if (!q.isActive)
          return Left(q.exception.map(_.toString.takeWhile(_ != '\n').take(300))
            .getOrElse("stream stopped"))
      }
      Left(s"no batch committed within $CommitTimeoutS s")
    }
  }

  private def startNs(p: StreamingQueryProgress): Long =
    Clock.msToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def run(cfg: Config, spark: SparkSession, inst: Option[Instruments]): Result = {
    val work = cfg.workDir
    val progress = new Progress
    spark.streams.addListener(progress)
    val tablesRoot = work.resolve("tables")
    val base = new BucketedMergeWriter(spark, tablesRoot.toString)
    val timing = inst.map(i => new TimingStore(base, i.tracer))
    val store: TableStore = timing.getOrElse(base)

    val feed = new StarFeed(cfg.seed, Rows)
    // enough files for batches of 2 s; faster batches end the window early
    val measuredMax =
      if (cfg.feedFiles > 0) cfg.feedFiles else math.max(MinMeasured, (cfg.seconds / 2).ceil.toInt)
    val staged = (0 until WarmupFiles + measuredMax).map(f => feed.write(work.resolve("staging"), f))
    val watched = Files.createDirectories(work.resolve("feed"))
    def hand(f: FeedFile): Unit = Files.move(f.path, watched.resolve(f.path.getFileName))

    val query = StreamToStar.startFromFiles(spark, s"$watched/*.csv", store,
      work.resolve("ckpt").toString, trigger = Trigger.ProcessingTime(0L))
    try {
      staged.take(WarmupFiles).foreach { f =>
        hand(f)
        progress.next(query).left.foreach(e => throw new IllegalStateException(s"warm-up batch: $e"))
      }
      drain(spark)
      val filesBefore = listFiles(tablesRoot)
      inst.foreach(_.jvm.resetPeak())
      val gcBefore = inst.map(_.jvm.gcMs).getOrElse(0L)
      val setupS = Main.sinceJvmStartS()

      // measured batches
      val t0 = Clock.nowNs
      val deadline = t0 + (cfg.seconds * 1e9).toLong
      val offered = Seq.newBuilder[FeedFile]
      val batches = Seq.newBuilder[StreamingQueryProgress]
      var streamError = Option.empty[String]
      var k = 0
      while (streamError.isEmpty && k < measuredMax && (k < MinMeasured || Clock.nowNs < deadline)) {
        val f = staged(WarmupFiles + k)
        offered += f
        // a planted fault: the first measured file never reaches the stream
        if (!(cfg.plant == "drop-batch" && k == 0)) {
          hand(f)
          progress.next(query) match {
            case Right(p) => batches += p
            case Left(e) => streamError = Some(e)
          }
        }
        k += 1
      }
      val tEnd = Clock.nowNs
      query.stop()
      drain(spark)
      val gcDelta = inst.map(_.jvm.gcMs).getOrElse(0L) - gcBefore
      val done = batches.result()
      val files = offered.result()
      val ops = done.map(p => Op(s"batch-${p.batchId}", startNs(p),
        startNs(p) + Clock.msToNs(dur(p, "triggerExecution").toLong)))
      val wallS = (ops.lastOption.map(_.endNs).getOrElse(tEnd) - t0) / 1e9
      val batchS = done.map(p => dur(p, "triggerExecution") / 1000.0)
      val inputBytes = files.map(_.bytes).sum

      // output checks, after the measured window
      val expected = new Expected(staged.take(WarmupFiles) ++ files)
      val checks = Checks(expected, store, files.size + WarmupFiles) ++
        streamError.map(e => ("stream", false, e))
      val attempted = files.size.toLong + checks.size
      val failed = (files.size - done.size).toLong + checks.count(!_._2)

      val sortedB = batchS.sorted
      val perS = if (wallS > 0) done.size / wallS else 0.0
      val e2e = Seq(
        "setup_s" -> setupS,
        "op_s.p50" -> Stats.quantile(sortedB, 0.5),
        "ops_per_s" -> perS)
      val named = Seq(
        ("setup_s", setupS, "s"),
        ("failed_ops_ratio", failed.toDouble / attempted, "ratio"),
        ("records_per_s", perS * Rows, "1/s"),
        ("batch_s.p50", Stats.quantile(sortedB, 0.5), "s"))

      val layers = inst.map { i =>
        val spans = i.tracer.all
        val perBatch = done.zip(ops).map { case (p, op) =>
          val mine = spans.filter(s => s.name.startsWith("store.") && op.contains(s.startNs))
          def ms(prefix: String) = mine.filter(_.name.startsWith(prefix)).map(_.ms).sum
          val dims = mine.filter(_.name.startsWith("store.mergeDim:"))
          val dimSum = dims.map(_.ms).sum
          val dimWall = Intervals.unionNs(dims.map(s => (s.startNs, s.endNs))) / 1e6
          val storeWall = Intervals.unionNs(mine.map(s => (s.startNs, s.endNs))) / 1e6
          Map(
            "streaming.trigger_ms" -> dur(p, "triggerExecution"),
            "streaming.add_batch_ms" -> dur(p, "addBatch"),
            "streaming.query_planning_ms" -> dur(p, "queryPlanning"),
            "streaming.offsets_ms" -> (dur(p, "latestOffset") + dur(p, "getBatch") + dur(p, "commitOffsets")),
            "streaming.wal_commit_ms" -> dur(p, "walCommit"),
            "streaming.input_rows" -> p.numInputRows.toDouble,
            "streaming.batch_self_ms" -> (dur(p, "addBatch") - storeWall),
            "store.merge_dim_ms" -> dimSum,
            "store.dims_wall_ms" -> dimWall,
            "store.dims_concurrency" -> (if (dimWall > 0) dimSum / dimWall else 0.0),
            "store.merge_fact_ms" -> ms("store.mergeFact:fact_sales"),
            "store.merge_audit_ms" -> ms("store.mergeFact:audit_verdicts"),
            "store.merge_dead_letter_ms" -> ms("store.mergeFact:dead_letter"),
            "catalog.plan_ms" -> i.planMs(op))
        }
        val keys = perBatch.headOption.map(_.keys.toSeq).getOrElse(Nil)
        val written = listFiles(tablesRoot).filterNot(f => filesBefore.contains(f._1)).values.sum
        val versionDirs = (StreamToStar.dimSpecs.map(_._1) ++
          Seq("dim_date", "fact_sales", "audit_verdicts", "dead_letter"))
          .map(t => base.onDiskVersionDirs(t).size).sum
        keys.map(k => k -> Stats.mean(perBatch.map(_(k)))) ++ Seq(
          "store.calls_failed" -> timing.get.failed.get.toDouble,
          "store.bytes_written" -> written.toDouble,
          "store.write_amp" -> written.toDouble / inputBytes,
          "store.version_dirs" -> versionDirs.toDouble) ++
          i.sparkMetrics(ops, cfg.cores, gcDelta)
      }.getOrElse(Nil)

      Result(attempted, failed, checks, e2e, named, layers, ops,
        info = Seq("measured_files" -> files.size, "warmup_files" -> WarmupFiles,
          "input_bytes" -> inputBytes, "wall_s" -> wallS, "batch_s" -> batchS,
          "jobs_per_batch" -> inst.map(i => ops.map(op =>
            i.scheduler.jobs.count(j => op.contains(j.startNs)))).getOrElse(Nil)) ++
          feed.describe)
    } finally if (query.isActive) query.stop()
  }

  private def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)

  private def listFiles(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** The final-state checks; each is one operation of the workload. */
  object Checks {
    def apply(want: Expected, store: TableStore, nFiles: Int): Seq[(String, Boolean, String)] = {
      def check(name: String)(body: => (Boolean, String)): (String, Boolean, String) =
        try { val (ok, d) = body; (name, ok, d) }
        catch { case e: Throwable => (name, false, e.toString.takeWhile(_ != '\n').take(300)) }
      val ids = want.lastName.size.toLong
      val wantRows = Seq("fact_sales" -> ids, "dim_customer" -> ids, "dim_seller" -> ids,
        "dim_product" -> ids, "dim_store" -> want.stores.toLong,
        "dim_supplier" -> want.suppliers.toLong, "dim_date" -> want.dates.toLong,
        "dead_letter" -> want.malformed)
      // every row count in one job
      val counts = scala.util.Try(wantRows.map { case (t, _) => store.read(t).select(lit(t).as("t")) }
        .reduce(_ unionByName _).groupBy("t").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
      val rowChecks = wantRows.map { case (t, n) =>
        check(s"${t}_rows") {
          val got = counts.get.getOrElse(t, 0L)
          (got == n, s"got $got want $n")
        }
      }
      rowChecks ++ Seq(
        check("last_write_wins_customer") {
          val got = store.read("dim_customer")
            .select(col("source_customer_id").cast("int"), col("customer_name")).collect()
            .map(r => r.getInt(0) -> r.getString(1)).toMap
          val bad = want.lastName.count { case (id, name) => !got.get(id).contains(name) }
          (bad == 0, s"$bad of ${want.lastName.size} customers differ")
        },
        check("last_write_wins_fact") {
          val got = store.read("fact_sales")
            .select(col("source_sale_id").cast("int"), col("sale_total_price").cast("string")).collect()
            .map(r => r.getInt(0) -> r.getString(1)).toMap
          val bad = want.lastTotal.count { case (id, t) =>
            !got.get(id).exists(g => BigDecimal(g) == BigDecimal(t)) }
          (bad == 0, s"$bad of ${want.lastTotal.size} facts differ")
        },
        check("integrity_audit_zero") {
          val dims = Seq("customer", "seller", "product", "store", "supplier", "date").map { d =>
            (s"dim_$d", store.read(s"dim_$d"), s"${d}_key", s"${d}_sk") }
          val missing = Integrity.audit(store.read("fact_sales"), dims)
          (missing.values.forall(_ == 0L), missing.toSeq.sorted.mkString(","))
        },
        check("audit_verdicts_pass") {
          val v = store.read("audit_verdicts").select("batch_id", "pass").collect()
          val failing = v.count(!_.getBoolean(1))
          val batches = v.map(_.getLong(0)).distinct.length
          (failing == 0 && batches == nFiles, s"$failing failing rules; verdicts for $batches of $nFiles batches")
        })
    }
  }
}
