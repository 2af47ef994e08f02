package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import scala.concurrent.{Await, Future, blocking}
import scala.concurrent.duration.DurationInt
import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graftbridge.Bridge
import graft.Materialize.MaterializeOps
import graft.plans.{BucketedMergeWriter, TableStore}
import graft.sources.SalesFeed
import graft.streaming.StreamToStar

/** [[Materialize.scoped]]: a scope frees exactly what was materialized
  * inside it, so star batches, monitors and user caches in one JVM leave
  * each other's blocks alone and run side by side. */
class BatchScopeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Delegating store that runs `hook(table)` before each dimension merge. */
  private class HookedStore(inner: TableStore, hook: String => Unit) extends TableStore {
    def exists(name: String): Boolean = inner.exists(name)
    def read(name: String): DataFrame = inner.read(name)
    def mergeDim(name: String, batch: DataFrame, natKey: Seq[String], skCol: String): DataFrame = {
      hook(name)
      inner.mergeDim(name, batch, natKey, skCol)
    }
    def mergeFact(name: String, batch: DataFrame, natKey: Seq[String]): DataFrame =
      inner.mergeFact(name, batch, natKey)
    def appendTable(name: String, batch: DataFrame): DataFrame = inner.appendTable(name, batch)
    def replaceTable(name: String, batch: DataFrame, natKey: Seq[String]): DataFrame =
      inner.replaceTable(name, batch, natKey)
    def vacuum(name: String, retainMillis: Long): Unit = inner.vacuum(name, retainMillis)
  }

  private def freshStore(): TableStore = new BucketedMergeWriter(spark,
    Files.createTempDirectory("graft-scope-tables").toString, nBuckets = 4)

  private def feed(): DataFrame = {
    val dir = Files.createTempDirectory("graft-scope-feed").toString
    SmallStarFeed.write(dir, Seq("0"), nRows = 20, badEvery = 7)
    SalesFeed.readCsv(spark, s"$dir/MOCK_DATA_*.csv")
  }

  /** The RDD a `local`-mode materialized frame reads. */
  private def checkpointRdd(df: DataFrame): Int = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.id
  }

  private def live(rddId: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddId)

  test("a scope frees what was materialized inside it; scopes nest") {
    val sc = spark.sparkContext
    // the frames stay referenced throughout: an unreachable one may be
    // freed by the ContextCleaner at any GC
    val outside = spark.range(5).toDF().materialized
    val (outer, inner) = Materialize.scoped(sc) {
      val outer = spark.range(6).toDF().materialized
      val inner = Materialize.scoped(sc)(spark.range(7).toDF().materialized)
      assert(!live(checkpointRdd(inner)), "the inner scope frees its frame on exit")
      assert(live(checkpointRdd(outer)), "the outer scope's frame outlives the inner scope")
      (outer, inner)
    }
    assert(!live(checkpointRdd(outer)))
    assert(sc.getLocalProperty(Materialize.ScopeKey) === null)
    assert(live(checkpointRdd(outside)),
      "a frame made outside any scope is left to the ContextCleaner")
    val kept = Materialize.scoped(sc, free = false)(spark.range(8).toDF().materialized)
    assert(live(checkpointRdd(kept)), "free = false keeps the scope's blocks")
    Seq(outside, kept).foreach(df => Bridge.unpersistRdd(sc, checkpointRdd(df)))
  }

  test("two star pipelines on separate stores run their batches side by side") {
    val sc = spark.sparkContext
    // each batch's dim_customer merge waits until the other batch has
    // reached its own: under a JVM-wide batch lock the first batch waits
    // out the timeout alone and the two batches' jobs never overlap
    val bothIn = new CountDownLatch(2)
    def rendezvous(table: String): Unit = if (table == "dim_customer") {
      bothIn.countDown()
      blocking(bothIn.await(30, TimeUnit.SECONDS))
    }
    val ends = new ConcurrentHashMap[Int, Long]()
    val onEnd = new SparkListener {
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ends.put(je.jobId, je.time)
    }
    val (feedA, feedB) = (feed(), feed())
    val (storeA, storeB) = (new HookedStore(freshStore(), rendezvous),
      new HookedStore(freshStore(), rendezvous))
    sc.addSparkListener(onEnd)
    val starts = try jobsDuring {
      Await.result(Future.sequence(Seq(
        Future(StreamToStar.processBatch(feedA, storeA, 101L, Some("audit_verdicts"))),
        Future(StreamToStar.processBatch(feedB, storeB, 202L, Some("audit_verdicts"))))),
        3.minutes)
    } finally sc.removeSparkListener(onEnd)
    // a batch's merge jobs carry its job group, named by its batch id
    def interval(batchId: Long): (Long, Long) = {
      val jobs = starts.filter(js => Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .exists(_.startsWith(s"graft-star-merges-$batchId-")))
      assert(jobs.nonEmpty, s"no merge jobs seen for batch $batchId")
      (jobs.map(_.time).min, jobs.map(js => ends.asScala(js.jobId)).max)
    }
    val ((startA, endA), (startB, endB)) = (interval(101L), interval(202L))
    assert(startA < endB && startB < endA,
      s"batch merge jobs ran one batch at a time: A [$startA, $endA], B [$startB, $endB]")
  }

  test("a frame a user caches during a batch survives the batch") {
    val cached = new AtomicReference[DataFrame]()
    val store = new HookedStore(freshStore(), table => if (table == "dim_store") {
      val user = spark.range(10).toDF().cache()
      user.count()
      cached.set(user)
    })
    StreamToStar.processBatch(feed(), store, 0L, Some("audit_verdicts"))
    val user = cached.get()
    assert(user != null, "the hook must have run inside the batch")
    val rddId = collectFirst(user.queryExecution.executedPlan) {
      case s: InMemoryTableScanExec => s.relation.cacheBuilder.cachedColumnBuffers.id
    }
    try {
      assert(rddId.isDefined, "the user frame must read its cache")
      assert(rddId.forall(live), "the batch freed a block it did not make")
    } finally user.unpersist()
  }
}
