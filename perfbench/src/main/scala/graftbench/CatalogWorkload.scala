package graftbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.QueryCatalog

/** `catalog-tpch`: the 22 TPC-H query shapes of the catalog, built through
  * `QueryCatalog.queries(name)(spark, sfDir)` and run to completion through
  * the noop sink. Each pass runs every query once, in an order shuffled by
  * the seed and the pass number. Passes repeat until `seconds` have
  * passed; the pass under way then finishes, so every query runs equally
  * often.
  *
  * Every execution carries an order-independent digest of its result rows
  * (row count and the sum of each row's xxhash64) as an observed metric of
  * the same job; the digest is compared with the stored expectation after
  * the query's clock has stopped. */
object CatalogWorkload {
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q179_local_supplier_volume", "q180_returned_items",
    "q188_shipping_priority", "q205_large_volume", "q206_waiting_suppliers",
    "q207_volume_shipping", "q208_sales_opportunity", "q209_forecast_revenue",
    "q210_order_priority", "q211_promo_revenue", "q212_customer_distribution",
    "q213_small_qty_revenue", "q214_top_supplier", "q215_discounted_revenue",
    "q216_market_share", "q217_product_profit", "q225_shipping_priority",
    "q226_min_cost_supplier", "q227_important_stock", "q228_supplier_part_counts",
    "q229_surge_suppliers")

  /** Digest observed on the query's own job. */
  def observed(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).cast("decimal(20,0)")).as("h"))

  def digest(obs: Observation): String = {
    val m = obs.get
    val h = Option(m("h")).map(_.toString).getOrElse("0")
    s"${m("rows")}:$h"
  }

  def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Expected digests for one scale factor: lines "name digest". */
  def loadExpected(path: Path): Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\\s+", 2); n -> d }.toMap

  private final case class Exec(op: Op, buildNs: (Long, Long), writeNs: (Long, Long),
                                ok: Boolean, detail: String, leaked: Long)

  def run(cfg: Config, spark: SparkSession, inst: Option[Instruments]): Result = {
    val fns = QueryCatalog.queries
    val expected0 = loadExpected(cfg.digests)
    // a planted fault: one query's expected row count is off by one, so
    // its expectation can equal no real digest
    val victim = if (cfg.plant == "digest") Some(Queries(new Random(cfg.seed).nextInt(Queries.size)))
                 else None
    val expected = victim.fold(expected0) { v =>
      val Array(rows, h) = expected0(v).split(":", 2)
      expected0.updated(v, s"${rows.toLong + 1}:$h")
    }

    def execute(name: String, sfDir: String, opId: String): Exec = {
      val obs = Observation(s"digest-$opId")
      val s = Clock.nowNs
      var b = (s, s)
      var w = (s, s)
      val outcome =
        try {
          val df = fns(name)(spark, sfDir)
          b = (s, Clock.nowNs)
          observed(df, obs).write.format("noop").mode("overwrite").save()
          w = (b._2, Clock.nowNs)
          None
        } catch { case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(300)) }
      val e = Clock.nowNs
      // after the clock: verdict, leaked storage, sweep
      val (ok, detail) = outcome match {
        case Some(err) => (false, err)
        case None =>
          val d = digest(obs)
          expected.get(name) match {
            case Some(want) => (d == want, s"digest $d want $want")
            case None => (false, s"no expected digest (got $d)")
          }
      }
      inst.foreach { i =>
        i.tracer.record("catalog.build", b._1, b._2)
        i.tracer.record("catalog.write", w._1, w._2)
      }
      val leaked = if (inst.isDefined) storageBytes(spark) else 0L
      sweep(spark)
      Exec(Op(opId, s, e), b, w, ok, detail, leaked)
    }

    // warm-up pass over smaller tables (untimed, unchecked): JIT and
    // code-generation caches
    Queries.foreach(q => execute(q, cfg.warmupSfDir.toString, s"warmup-$q"))
    inst.foreach(_.jvm.resetPeak())
    val gcBefore = inst.map(_.jvm.gcMs).getOrElse(0L)
    val setupS = Main.sinceJvmStartS()

    val t0 = Clock.nowNs
    val deadline = t0 + (cfg.seconds * 1e9).toLong
    var pass = 0
    val execs = Seq.newBuilder[Exec]
    val passS = Seq.newBuilder[Double]
    var orders = List.empty[String]
    while (pass == 0 || Clock.nowNs < deadline) {
      val order = new Random(cfg.seed * 1000003L + pass).shuffle(Queries)
      orders ::= order.map(_.takeWhile(_ != '_')).mkString(",")
      var busy = 0L
      order.foreach { q =>
        val x = execute(q, cfg.sfDir.toString, s"p$pass-$q")
        busy += x.op.endNs - x.op.startNs
        execs += x
      }
      passS += busy / 1e9
      pass += 1
    }
    val wallS = (Clock.nowNs - t0) / 1e9
    inst.foreach(_.drain())
    val gcDelta = inst.map(_.jvm.gcMs).getOrElse(0L) - gcBefore
    val all = execs.result()
    val passes = passS.result()
    val qs = all.map(_.op.ms / 1000.0).sorted
    val failed = all.count(!_.ok).toLong
    val busyS = all.map(_.op.ms / 1000.0).sum

    val e2e = Seq(
      "setup_s" -> setupS,
      "op_s.p50" -> Stats.quantile(qs, 0.5),
      "ops_per_s" -> all.size / busyS)
    val named = Seq(
      ("setup_s", setupS, "s"),
      ("failed_ops_ratio", failed.toDouble / all.size, "ratio"),
      ("query_s.p50", Stats.quantile(qs, 0.5), "s"),
      ("query_s.p90", Stats.quantile(qs, 0.9), "s"),
      ("pass_s.p50", Stats.median(passes), "s"))

    val layers = inst.map { i =>
      val ops = all.map(_.op)
      val per = all.map { x =>
        val plan = i.planMs(x.op)
        val writePlan = i.planMs(x.op, Some(x.writeNs))
        Map(
          "catalog.build_ms" -> (x.buildNs._2 - x.buildNs._1) / 1e6,
          "catalog.plan_ms" -> plan,
          "catalog.exec_ms" -> ((x.writeNs._2 - x.writeNs._1) / 1e6 - writePlan),
          "catalog.blocks_leaked_bytes" -> x.leaked.toDouble)
      }
      val keys = per.head.keys.toSeq
      val jobsPerQuery = all.groupBy(_.op.id.dropWhile(_ != '-').drop(1)).map { case (q, xs) =>
        q -> Stats.mean(xs.map(x => i.scheduler.jobs.count(j => x.op.contains(j.startNs)).toDouble))
      }
      (keys.map(k => k -> Stats.mean(per.map(_(k)))) ++ i.sparkMetrics(ops, cfg.cores, gcDelta),
        jobsPerQuery)
    }

    val checks = all.filterNot(_.ok).map(x => (x.op.id, false, x.detail))
    Result(all.size.toLong, failed, checks, e2e, named, layers.map(_._1).getOrElse(Nil),
      all.map(_.op),
      info = victim.map("planted_victim" -> _).toSeq ++ Seq(
        "passes" -> passes.size, "queries_per_pass" -> Queries.size,
        "pass_s" -> passes, "wall_s" -> wallS, "orders" -> orders.reverse,
        "query_s" -> all.map(x => x.op.id -> x.op.ms / 1000.0).toMap) ++
        layers.map(l => Seq("jobs_per_query" -> l._2)).getOrElse(Nil))
  }

  /** Run every query once, print "name digest" lines, and write each result
    * as parquet under `proveDir` with the catalog's oracle SQL: the layout
    * `tools/check.py` compares against DuckDB. */
  def digests(cfg: Config, spark: SparkSession, proveDir: Path): Unit = {
    val fns = QueryCatalog.queries
    val lines = Queries.map { q =>
      val obs = Observation(s"digest-$q")
      val df = fns(q)(spark, cfg.sfDir.toString)
      observed(df, obs).write.format("noop").mode("overwrite").save()
      df.write.mode("overwrite").parquet(proveDir.resolve(q).toString)
      sweep(spark)
      s"$q ${digest(obs)}"
    }
    val sql = QueryCatalog.oracleSql.filter { case (k, _) => Queries.contains(k) }
    Files.writeString(proveDir.resolve("oracle_sql.json"), Json.value(sql))
    lines.foreach(println)
  }
}
