package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import graft.GraftSession

final case class Config(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 30.0,
    trace: Boolean = false,
    cores: Int = Runtime.getRuntime.availableProcessors(),
    workDir: Path = Paths.get("."),
    sfDir: Path = Paths.get("."),
    warmupSfDir: Path = Paths.get("."),
    digests: Path = Paths.get("digests.txt"),
    traceOut: Option[Path] = None,
    feedFiles: Int = 0,
    plant: String = "none",
    proveDir: Option[Path] = None)

/** What one run measured. `checks` lists the output checks (only the
  * failing ones for the catalog, one per wrong query execution). */
final case class Result(
    attempted: Long, failed: Long,
    checks: Seq[(String, Boolean, String)],
    e2e: Seq[(String, Double)],
    named: Seq[(String, Double, String)],
    layers: Seq[(String, Double)],
    ops: Seq[Op],
    info: Seq[(String, Any)])

/** Benchmark entry point, launched by `perfbench/run.py`.
  *
  * Prints one line `GRAFTBENCH_RESULT {...}` on stdout; everything else the
  * program prints is diagnostic. */
object Main {
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def parse(args: List[String], c: Config = Config()): Config = args match {
    case Nil => c
    case "--workload" :: v :: t => parse(t, c.copy(workload = v))
    case "--seed" :: v :: t => parse(t, c.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, c.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, c.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, c.copy(cores = v.toInt))
    case "--work-dir" :: v :: t => parse(t, c.copy(workDir = Paths.get(v)))
    case "--sf-dir" :: v :: t => parse(t, c.copy(sfDir = Paths.get(v)))
    case "--warmup-sf-dir" :: v :: t => parse(t, c.copy(warmupSfDir = Paths.get(v)))
    case "--digests" :: v :: t => parse(t, c.copy(digests = Paths.get(v)))
    case "--trace-out" :: v :: t => parse(t, c.copy(traceOut = Some(Paths.get(v))))
    case "--feed-files" :: v :: t => parse(t, c.copy(feedFiles = v.toInt))
    case "--plant" :: v :: t => parse(t, c.copy(plant = v))
    case "--prove-dir" :: v :: t => parse(t, c.copy(proveDir = Some(Paths.get(v))))
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args.toList)
    val spark = GraftSession.local(s"graftbench-${cfg.workload}", cfg.cores)
    try {
      // --prove-dir selects the digest-proving mode of prove_digests.py
      cfg.proveDir.map(CatalogWorkload.digests(cfg, spark, _)).getOrElse {
        val inst = if (cfg.trace) Some(new Instruments(spark)) else None
        val r = cfg.workload match {
          case "star-perfile" => StarWorkload.run(cfg, spark, inst)
          case "catalog-tpch" => CatalogWorkload.run(cfg, spark, inst)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        for (i <- inst; out <- cfg.traceOut) i.tracer.writeJsonl(out, cfg.workload, r.ops)
        inst.foreach(_.close())
        val line = Json.obj(Seq(
          "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
          "attempted" -> r.attempted, "failed" -> r.failed,
          "checks" -> r.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
          "end_to_end" -> r.e2e.toMap,
          "named" -> r.named.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
          "per_layer" -> r.layers.toMap,
          "samples" -> r.ops.size,
          "info" -> r.info.toMap))
        println(s"GRAFTBENCH_RESULT $line")
      }
    } finally spark.stop()
  }
}
