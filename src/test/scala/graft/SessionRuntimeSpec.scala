package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.metrics.source.CodegenMetrics
import graft.plans.BucketedMergeWriter
import graft.sources.SalesFeed
import graft.streaming.StreamToStar

/** The runtime `GraftSession.local` sets up for graft's working set: the
  * local file system forks no `chmod` or `readlink`, and the codegen cache
  * holds a star micro-batch's generated classes from one batch to the
  * next. Process starts are read from an in-process JFR recording. */
class SessionRuntimeSpec extends SparkSpec {

  /** The command lines of the processes started while `body` ran that
    * name a path under `dir`. */
  private def processesDuring(dir: JPath)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-jfr", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .map(_.getString("command")).filter(_.contains(dir.toString))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  private def starts(commands: Seq[String], tool: String): Int =
    commands.count(_.split(' ').head.split('/').last == tool)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session resolves file: to graft's LocalFs, for FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass === classOf[LocalFs])
    assert(AbstractFileSystem.get(URI.create("file:///"), conf).getClass ===
      classOf[LocalFs.ForFileContext])
  }

  test("LocalFs writes the stock bytes, checksums and modes without forking chmod") {
    val dir = Files.createTempDirectory("graft-localfs")
    // the class LocalFs extends, uncached: a fresh instance, not the session's
    val stockConf = new Configuration()
    stockConf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    stockConf.setBoolean("fs.file.impl.disable.cache", true)
    val stock = FileSystem.get(URI.create("file:///"), stockConf)
    assert(stock.getClass === classOf[LocalFileSystem])
    val graftFs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val payload = Array.tabulate[Byte](3000)(i => (i * 31).toByte)
    def write(fs: FileSystem, side: String): Unit = {
      val base = new Path(dir.toUri.toString, side)
      fs.mkdirs(new Path(base, "d"))
      val out = fs.create(new Path(base, "d/f.bin"))
      try out.write(payload) finally out.close()
    }
    val stockCommands = processesDuring(dir)(write(stock, "stock"))
    val graftCommands = processesDuring(dir)(write(graftFs, "graft"))
    assert(starts(stockCommands, "chmod") > 0, "the stock file system must fork chmod here")
    assert(starts(graftCommands, "chmod") === 0, graftCommands)
    // a sticky directory: the sticky bit takes Hadoop's own chmod
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val stickyCommands = Seq(stock -> "stock", graftFs -> "graft").map { case (fs, side) =>
      val p = new Path(dir.toUri.toString, s"$side/sticky")
      fs.mkdirs(p)
      processesDuring(dir)(fs.setPermission(p, sticky))
    }
    assert(stickyCommands.map(starts(_, "chmod")) === Seq(1, 1))

    def mode(side: String, rel: String): Int =
      Files.getAttribute(dir.resolve(s"$side/$rel"), "unix:mode").asInstanceOf[Int] & 0xfff
    for (rel <- Seq("d", "d/f.bin", "d/.f.bin.crc", "sticky"))
      assert(mode("graft", rel) === mode("stock", rel), rel)
    assert((mode("graft", "sticky") & Integer.parseInt("1000", 8)) !== 0)
    for (rel <- Seq("d/f.bin", "d/.f.bin.crc"))
      assert(Files.readAllBytes(dir.resolve(s"graft/$rel")) sameElements
        Files.readAllBytes(dir.resolve(s"stock/$rel")), rel)
  }

  test("steady-state star batches fork no chmod or readlink and compile under the bound") {
    val dir = Files.createTempDirectory("graft-runtime")
    val feedDir = Files.createDirectory(dir.resolve("feed")).toString
    val streamDir = Files.createDirectory(dir.resolve("stream")).toString
    SmallStarFeed.write(feedDir, Seq("0", "1", "2"), nRows = 1000, badEvery = 250)
    SmallStarFeed.write(streamDir, Seq("3"), nRows = 1000, badEvery = 250)
    val store = new BucketedMergeWriter(spark, dir.resolve("tables").toString)
    def batch(f: String, id: Long): Unit = StreamToStar.processBatch(
      SalesFeed.readCsv(spark, s"$feedDir/MOCK_DATA_$f.csv"), store, id, Some("audit_verdicts"))
    batch("0", 0L) // creates every table

    var secondBatchCompiles = -1L
    val commands = processesDuring(dir) {
      batch("1", 1L)
      val before = compiles
      batch("2", 2L)
      secondBatchCompiles = compiles - before
      // one checkpointed micro-batch: offsets, commits and the source log
      StreamToStar.startFromFiles(spark, s"$streamDir/MOCK_DATA_*.csv", store,
        dir.resolve("ckpt").toString).awaitTermination()
    }
    assert(store.read("fact_sales").count() === 996)
    info(s"process starts: ${commands.size}; compiles in the second batch: $secondBatchCompiles")
    assert(starts(commands, "chmod") === 0, commands.take(5))
    assert(starts(commands, "readlink") === 0, commands.take(5))
    // measured 6 with GraftSession's cache; 262-264 with Spark's default
    assert(secondBatchCompiles <= 40L)
  }
}
