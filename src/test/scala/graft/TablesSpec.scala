package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.LongType

/** `Tables.load`'s schema registry: a file's parquet schema is inferred
  * once and reused while the file is unchanged, under the same parquet
  * confs, with the same result as a plain `spark.read.parquet`. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Writes one parquet file at `<dir>/<name>.parquet` (replacing it) with
    * the given message type and one row per value set. */
  private def writeFile(dir: String, name: String, message: String)
                       (rows: Seq[(String, Any)]*): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/$name.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.foreach {
        case (c, v: Long) => g.append(c, v)
        case (c, v: String) => g.append(c, v)
        case (c, v) => fail(s"unsupported value $v for $c")
      }
      w.write(g)
    } finally w.close()
  }

  /** Spark jobs `body` started that are parquet schema inference. */
  private def inferenceJobs(body: => Unit): Int =
    jobsDuring(body).count(_.stageInfos.exists(_.details.contains("DataFrameReader.parquet")))

  test("a second load of the same file starts no Spark job") {
    val dir = Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(inferenceJobs(Tables.load(spark, dir, "t")) >= 1, "the first load infers")
    assert(jobsDuring(Tables.load(spark, dir, "t")) === Nil)
    assert(Tables.load(spark, dir, "t").as[(Long, String)].collect().sorted ===
      Array((1L, "a"), (2L, "b")))
  }

  test("a rewritten file is inferred again: the next load sees its new schema") {
    val dir = Files.createTempDirectory("graft-tables").toString
    writeFile(dir, "t", "message m { required int64 a; }")(Seq("a" -> 1L))
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a"))
    assert(jobsDuring(Tables.load(spark, dir, "t")) === Nil)
    writeFile(dir, "t", "message m { required int64 a; required binary b (STRING); }")(
      Seq("a" -> 2L, "b" -> "x"), Seq("a" -> 3L, "b" -> "y"))
    val df = Tables.load(spark, dir, "t")
    assert(df.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(df.as[(Long, String)].collect().sorted === Array((2L, "x"), (3L, "y")))
  }

  test("a session with other parquet confs does not reuse the entry") {
    val dir = Files.createTempDirectory("graft-tables").toString
    writeFile(dir, "t", "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")(
      Seq("ts" -> 1234567890123456789L))
    // graft's sessions read nanos timestamps as longs
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(Tables.load(spark, dir, "t").schema("ts").dataType === LongType)
    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    // the other session infers for itself and fails as a plain read does;
    // reusing the long schema would have read the column silently
    intercept[AnalysisException](other.read.parquet(s"$dir/t.parquet"))
    intercept[AnalysisException](Tables.load(other, dir, "t"))
    // the first session's entry is still there
    assert(jobsDuring(Tables.load(spark, dir, "t")) === Nil)
    assert(Tables.load(spark, dir, "t").as[Long].collect() === Array(1234567890123456789L))
  }

  test("every sf0.001 table reads as a plain spark.read.parquet, first and later loads") {
    for (name <- Tables.names) {
      val plain = spark.read.parquet(s"$sf/$name.parquet")
      val want = plain.collect().toSeq
      for (load <- 1 to 2) {
        val df = Tables.readParquet(spark, s"$sf/$name.parquet")
        assert(df.schema === plain.schema, s"$name load $load")
        assert(df.collect().toSeq === want, s"$name load $load")
      }
      assert(jobsDuring(Tables.load(spark, sf, name)) === Nil, name)
    }
  }
}
