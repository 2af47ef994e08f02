package graft

import java.io.PrintWriter
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LogEvent
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.{BucketedMergeWriter, StarSchema, TableStore}
import graft.sources.SalesFeed
import graft.streaming.StreamToStar

/** Small MOCK_DATA-shaped CSV feeds for the per-batch star specs: every
  * file repeats ids 1..nRows with file-dependent attributes, and every
  * `badEvery`-th row carries a non-integer id (a dead letter). */
object SmallStarFeed {
  def write(dir: String, files: Seq[String], nRows: Int, badEvery: Int = 0): Unit =
    files.foreach { f =>
      val pw = new PrintWriter(s"$dir/MOCK_DATA_$f.csv")
      pw.println(SalesFeed.fieldNames.mkString(","))
      for (i <- 1 to nRows) {
        val id = if (badEvery > 0 && i % badEvery == 0) s"bad$i" else i.toString
        val m = Map("id" -> id, "sale_customer_id" -> i.toString,
          "customer_first_name" -> s"F$i", "customer_last_name" -> s"L${i}_f$f",
          "sale_seller_id" -> i.toString, "sale_product_id" -> i.toString,
          "product_name" -> s"P${i}_f$f", "store_name" -> s"S${i % 5}",
          "supplier_name" -> s"Su${i % 3}", "sale_date" -> s"3/${1 + i % 9}/2021",
          "sale_quantity" -> "2", "sale_total_price" -> s"$i.50")
        pw.println(SalesFeed.fieldNames.map(c => m.getOrElse(c, "")).mkString(","))
      }
      pw.close()
    }
}

/** The per-batch contracts of the star micro-batch: the arrival order
  * `_seq` carries, and how a failed merge at either dependency level
  * settles, sweeps and replays. */
class StarBatchSpec extends SparkSpec {

  test("_seq orders rows by (file name, row position); last-write-wins picks the later file") {
    val dir = Files.createTempDirectory("graft-seq").toString
    // the later file (by name) is written FIRST: order must come from the
    // name, not the modification time; id 3 appears twice in file b, so
    // the later position must win inside a file too
    for ((f, ids) <- Seq("b" -> Seq(1, 3, 2, 3), "a" -> Seq(3, 1, 2))) {
      val pw = new PrintWriter(s"$dir/MOCK_DATA_$f.csv")
      pw.println(SalesFeed.fieldNames.mkString(","))
      ids.zipWithIndex.foreach { case (i, pos) =>
        val m = Map("id" -> i.toString, "sale_customer_id" -> i.toString,
          "customer_first_name" -> "F", "customer_last_name" -> s"${f}_$pos")
        pw.println(SalesFeed.fieldNames.map(c => m.getOrElse(c, "")).mkString(","))
      }
      pw.close()
    }
    val feed = SalesFeed.readCsv(spark, s"$dir/MOCK_DATA_*.csv")
    val ordered = feed.orderBy(col("_seq")).select(col("customer_last_name"))
      .collect().map(_.getString(0)).toSeq
    assert(ordered === Seq("a_0", "a_1", "a_2", "b_0", "b_1", "b_2", "b_3"))
    // the order is data, not layout: a reshuffled feed orders the same
    assert(feed.repartition(3).orderBy(col("_seq")).select(col("customer_last_name"))
      .collect().map(_.getString(0)).toSeq === ordered)

    val last = StarSchema.lastWriteWins(StarSchema.customerRows(feed),
        Seq("source_customer_id"), "_seq")
      .collect().map(r => r.getAs[Long]("source_customer_id") ->
        r.getAs[String]("customer_name")).toMap
    assert(last.keySet === Set(1L, 2L, 3L))
    assert(last(1L).endsWith("b_0") && last(2L).endsWith("b_2"),
      s"the later file must win: $last")
    assert(last(3L).endsWith("b_3"), s"the later row of the later file must win: $last")
  }

  test("readCsv expands its glob: no FileStreamSink WARN, same rows and _seq order") {
    val dir = Files.createTempDirectory("graft-glob").toString
    SmallStarFeed.write(dir, Seq("b", "a", "c"), nRows = 4)
    val glob = s"$dir/MOCK_DATA_*.csv"
    // start the session first: Spark's logging setup reconfigures log4j,
    // which would drop an appender attached before it
    spark.sparkContext
    val sink = LogManager.getLogger(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("readCsv-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warns.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    sink.addAppender(capture)
    val feed = try SalesFeed.readCsv(spark, glob)
      finally { sink.removeAppender(capture); capture.stop() }
    assert(warns.isEmpty, s"readCsv logged: ${warns.asScala.mkString("; ")}")

    // the same rows, `_seq` included, as Spark's own expansion of the glob
    val literal = SalesFeed.withArrivalSeq(spark.read
      .option("header", "true").option("multiLine", "true")
      .option("columnNameOfCorruptRecord", graft.streaming.ErrorChannel.corruptCol)
      .schema(SalesFeed.rawSchemaWithCorrupt).csv(glob))
    val rows = feed.orderBy(col("_seq")).collect().toSeq
    assert(rows === literal.orderBy(col("_seq")).collect().toSeq)
    assert(rows.map(_.getAs[String]("customer_last_name")) ===
      Seq("a", "b", "c").flatMap(f => (1 to 4).map(i => s"L${i}_f$f")))
    // a glob that matches nothing still fails loudly
    intercept[AnalysisException](SalesFeed.readCsv(spark, s"$dir/NONE_*.csv"))
  }

  /** Delegating store that fails one table's merge as soon as it is called
    * and records which merges started and which returned. */
  private class FailingStore(inner: TableStore, failOn: String) extends TableStore {
    val started: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    val returned: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    val running = new AtomicInteger
    private def call(name: String)(body: => DataFrame): DataFrame = {
      started.add(name)
      running.incrementAndGet()
      try {
        if (name == failOn) throw new IllegalStateException(s"injected failure merging $name")
        val r = body
        returned.add(name)
        r
      } finally running.decrementAndGet()
    }
    def exists(name: String): Boolean = inner.exists(name)
    def read(name: String): DataFrame = inner.read(name)
    def mergeDim(name: String, batch: DataFrame, natKey: Seq[String], skCol: String): DataFrame =
      call(name)(inner.mergeDim(name, batch, natKey, skCol))
    def mergeFact(name: String, batch: DataFrame, natKey: Seq[String]): DataFrame =
      call(name)(inner.mergeFact(name, batch, natKey))
    def appendTable(name: String, batch: DataFrame): DataFrame = inner.appendTable(name, batch)
    def replaceTable(name: String, batch: DataFrame, natKey: Seq[String]): DataFrame =
      inner.replaceTable(name, batch, natKey)
    def vacuum(name: String, retainMillis: Long): Unit = inner.vacuum(name, retainMillis)
  }

  private val dimTables = StreamToStar.dimSpecs.map(_._1) :+ "dim_date"
  private val allTables = dimTables ++ Seq("dead_letter", "fact_sales", "audit_verdicts")

  /** Every table's rows, sorted, with surrogate keys replaced by the
    * natural keys they stand for (key assignment order is not part of the
    * contract; which natural key a fact row points at is). */
  private def contents(store: TableStore): Map[String, Seq[String]] = {
    val dimKeys = StreamToStar.dimSpecs.map { case (t, _, nk, sk) => (t, nk.head, sk) } :+
      (("dim_date", "sale_date", "date_sk"))
    val fks = Seq("customer_key", "seller_key", "product_key", "store_key",
      "supplier_key", "date_key").zip(dimKeys)
    def rows(df: DataFrame): Seq[String] =
      df.select(df.columns.sorted.toIndexedSeq.map(col): _*).collect().map(_.toString).sorted.toSeq
    val dims = dimKeys.map { case (t, _, sk) => t -> rows(store.read(t).drop(sk)) }
    val fact = fks.foldLeft(store.read("fact_sales")) { case (f, (fk, (t, nk, sk))) =>
      f.join(store.read(t).select(col(sk).as(fk), col(nk).as(s"${fk}_nat")), Seq(fk), "left")
        .drop(fk)
    }
    (dims :+ ("fact_sales" -> rows(fact)) :+
      ("dead_letter" -> rows(store.read("dead_letter"))) :+
      ("audit_verdicts" -> rows(store.read("audit_verdicts")))).toMap
  }

  test("a failed merge at either level settles its siblings, sweeps, and replays to the same state") {
    val feedDir = Files.createTempDirectory("graft-fail-feed").toString
    SmallStarFeed.write(feedDir, Seq("0", "1"), nRows = 20, badEvery = 7)
    val feed = SalesFeed.readCsv(spark, s"$feedDir/MOCK_DATA_*.csv")
    def freshStore() = new BucketedMergeWriter(spark,
      Files.createTempDirectory("graft-fail-tables").toString, nBuckets = 4)
    val clean = freshStore()
    StreamToStar.processBatch(feed, clean, 0L, Some("audit_verdicts"))
    val expected = contents(clean)
    assert(expected("dead_letter").size === 4, "the feed must reach the dead-letter merge")
    assert(expected("fact_sales").size === 18)

    val sc = spark.sparkContext
    for ((failOn, siblings, later) <- Seq(
        ("dead_letter", dimTables, Seq("fact_sales", "audit_verdicts")),
        ("audit_verdicts", dimTables ++ Seq("dead_letter", "fact_sales"), Nil))) {
      val store = freshStore()
      val failing = new FailingStore(store, failOn)
      val persistedBefore = sc.getPersistentRDDs.keySet.toSet
      val e = intercept[IllegalStateException] {
        StreamToStar.processBatch(feed, failing, 0L, Some("audit_verdicts"))
      }
      assert(e.getMessage.contains(failOn))
      // rethrown only once every sibling of the failed merge had returned
      assert(failing.running.get === 0, s"[$failOn] a merge was still running at the rethrow")
      assert(failing.returned.asScala.toSet === siblings.toSet, s"[$failOn]")
      // and the next level never started
      assert(later.forall(t => !failing.started.contains(t)), s"[$failOn] ${failing.started}")
      assert((sc.getPersistentRDDs.keySet.toSet -- persistedBefore).isEmpty,
        s"[$failOn] the failed batch's blocks must be swept")
      // the checkpoint replays a failed batch: it must converge every table
      StreamToStar.processBatch(feed, store, 0L, Some("audit_verdicts"))
      val replayed = contents(store)
      allTables.foreach(t => assert(replayed(t) === expected(t), s"[$failOn] $t"))
    }
  }

  test("a batch's merge jobs are named by the code that runs them, not by an inherited call site") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.DurationInt
    import scala.concurrent.ExecutionContext.Implicits.global
    val sc = spark.sparkContext
    // A pool thread inherits the local properties of the thread that
    // spawned it: in a stream, the stream thread's "start at ..." call
    // site. Plant a stale call site on every thread of the global pool
    // (each task holds its thread until all have started).
    def onEveryPoolThread(f: => Unit): Unit = {
      val n = Runtime.getRuntime.availableProcessors
      val started = new java.util.concurrent.CountDownLatch(n)
      Await.result(Future.sequence((1 to n).map(_ => Future {
        f
        started.countDown()
        started.await(30, java.util.concurrent.TimeUnit.SECONDS)
      })), 1.minute)
    }
    val stale = "stale call site"
    val feedDir = Files.createTempDirectory("graft-callsite-feed").toString
    SmallStarFeed.write(feedDir, Seq("0"), nRows = 20, badEvery = 7)
    val store = new BucketedMergeWriter(spark,
      Files.createTempDirectory("graft-callsite-tables").toString, nBuckets = 4)
    onEveryPoolThread(sc.setCallSite(stale))
    val names = try jobsDuring(StreamToStar.processBatch(
        SalesFeed.readCsv(spark, s"$feedDir/MOCK_DATA_*.csv"), store, 0L, Some("audit_verdicts")))
      .map(_.stageInfos.maxBy(_.stageId).name)
    finally onEveryPoolThread(sc.clearCallSite())
    assert(!names.contains(stale), names)
    assert(names.exists(_.contains("BucketedMergeWriter.scala")), names)
  }
}
