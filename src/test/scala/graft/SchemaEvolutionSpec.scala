package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.plans.BucketedMergeWriter

/** ADDITIVE schema evolution — the table-format behavior a long-lived
  * ingest hits the day a source adds a field: new batch columns append
  * (old rows read NULL), batch-omitted stored columns are RETAINED on
  * updated rows and NULL on fresh ones, and a type conflict on a shared
  * column fails loudly. */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() = new BucketedMergeWriter(spark,
    Files.createTempDirectory("graft-evo").toString, nBuckets = 4)

  test("dim merge: new column appends — old rows NULL, updated/fresh rows filled") {
    val store = freshStore()
    store.mergeDim("d", Seq((1L, "a1"), (2L, "a2")).toDF("k", "attr"),
      Seq("k"), "sk")
    // batch adds `extra`, updates k=2, inserts k=3
    store.mergeDim("d",
      Seq((2L, "a2x", "e2"), (3L, "a3", "e3")).toDF("k", "attr", "extra"),
      Seq("k"), "sk")
    val rows = store.read("d").collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("attr"), Option(r.getAs[String]("extra"))))).toMap
    assert(rows === Map(
      1L -> (("a1", None)),          // untouched row: NULL back-fill
      2L -> (("a2x", Some("e2"))),   // updated row: both columns from batch
      3L -> (("a3", Some("e3")))), rows)
    // surrogate keys survive the evolution (k=1,2 keep theirs)
    val sks = store.read("d").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("sk")).toMap
    assert(sks.values.toSet.size === 3, s"sk collision: $sks")
  }

  test("dim merge: batch OMITTING a stored column retains it on updates, NULLs it on inserts") {
    val store = freshStore()
    store.mergeDim("d", Seq((1L, "a1", "b1"), (2L, "a2", "b2"))
      .toDF("k", "attr", "extra"), Seq("k"), "sk")
    // narrower batch: no `extra`
    store.mergeDim("d", Seq((2L, "a2x"), (3L, "a3")).toDF("k", "attr"),
      Seq("k"), "sk")
    val rows = store.read("d").collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("attr"), Option(r.getAs[String]("extra"))))).toMap
    assert(rows === Map(
      1L -> (("a1", Some("b1"))),    // untouched: unchanged
      2L -> (("a2x", Some("b2"))),   // updated: attr from batch, extra RETAINED
      3L -> (("a3", None))), rows) // fresh: no value to retain
  }

  test("type conflict on a shared column fails loudly, never coerces") {
    val store = freshStore()
    store.mergeDim("d", Seq((1L, 10)).toDF("k", "n"), Seq("k"), "sk")
    val e = intercept[IllegalArgumentException] {
      store.mergeDim("d", Seq((2L, "ten")).toDF("k", "n"), Seq("k"), "sk")
    }
    assert(e.getMessage.contains("ADDITIVE"), e.getMessage)
    assert(e.getMessage.contains("'n'"), e.getMessage)
  }

  test("fact merge evolves identically; replay after evolution is idempotent") {
    val store = freshStore()
    store.mergeFact("f", Seq((1L, 5.0), (2L, 6.0)).toDF("id", "v"), Seq("id"))
    val evolved = Seq((2L, 7.0, "x2"), (3L, 8.0, "x3")).toDF("id", "v", "tag")
    store.mergeFact("f", evolved, Seq("id"))
    def state() = store.read("f").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Double]("v"), Option(r.getAs[String]("tag"))))).toMap
    val s1 = state()
    assert(s1 === Map(1L -> ((5.0, None)), 2L -> ((7.0, Some("x2"))),
      3L -> ((8.0, Some("x3")))), s1)
    // replaying the SAME evolved batch changes nothing (idempotent MERGE)
    store.mergeFact("f", evolved, Seq("id"))
    assert(state() === s1, "replay must be a no-op")
    // and a post-evolution narrow batch retains the evolved column
    store.mergeFact("f", Seq((3L, 9.0)).toDF("id", "v"), Seq("id"))
    assert(state()(3L) === ((9.0, Some("x3"))), "retention")
  }

  test("append table evolves additively; old rows NULL-fill on read") {
    val store = freshStore()
    store.appendTable("log", Seq((1L, "m1")).toDF("id", "msg"))
    store.appendTable("log", Seq((2L, "m2", "warn")).toDF("id", "msg", "level"))
    val rows = store.read("log").collect()
      .map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("level"))).toMap
    assert(rows === Map(1L -> None, 2L -> Some("warn")), rows)
    val e = intercept[IllegalArgumentException] {
      store.appendTable("log", Seq((3L, 4, "z")).toDF("id", "msg", "level"))
    }
    assert(e.getMessage.contains("ADDITIVE"), e.getMessage)
  }

  test("bucketed: time travel and CDC straddle the evolution boundary") {
    val store = new BucketedMergeWriter(spark,
      Files.createTempDirectory("graft-evo-tt").toString, nBuckets = 4)
    store.mergeDim("d", Seq((1L, "a1")).toDF("k", "attr"), Seq("k"), "sk")
    store.mergeDim("d", Seq((1L, "a1", "e1"), (2L, "a2", "e2"))
      .toDF("k", "attr", "extra"), Seq("k"), "sk")
    val vs = store.committedVersions("d")
    // pre-evolution snapshot keeps its own (narrower) schema
    assert(!store.readAsOf("d", vs.head).columns.contains("extra"))
    assert(store.readAsOf("d", vs.last).columns.contains("extra"))
    // CDC across the boundary: k=1 gained a value in the new column ->
    // update; k=2 is an insert; no analysis error from the schema delta
    val diff = store.diffVersions("d", vs.head, vs.last, Seq("k")).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("_change")).toMap
    assert(diff === Map(1L -> "update", 2L -> "insert"), s"$diff")
  }
}
