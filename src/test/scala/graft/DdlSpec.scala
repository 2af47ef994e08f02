package graft

import java.nio.file.Files
import graft.plans.{BucketedMergeWriter, Ddl}

/** S6/P11: idempotent bootstrap, schema-prefix resolution, SQL access to
  * merged star tables. */
class DdlSpec extends SparkSpec {
  import spark.implicits._

  test("P11 ensureSchemaPrefix qualifies bare names only") {
    assert(Ddl.ensureSchemaPrefix("fact_sales") === "dw.fact_sales")
    assert(Ddl.ensureSchemaPrefix("other.t") === "other.t")
  }

  test("S6 bootstrap is idempotent and creates queryable tables") {
    val loc = Files.createTempDirectory("graft-dw").toString
    Ddl.bootstrap(spark, loc)
    Ddl.bootstrap(spark, loc) // re-run must be a no-op
    val tables = spark.sql("SHOW TABLES IN dw").collect().map(_.getString(1)).toSet
    assert(RunStar.starTables.toSet.subsetOf(tables))
    assert(spark.sql("SELECT count(*) FROM dw.fact_sales").collect().head.getLong(0) === 0L)
    spark.sql("SELECT customer_sk, source_customer_id FROM dw.dim_customer").collect()
  }

  test("registerCurrent exposes merged tables to spark.sql") {
    val store = new BucketedMergeWriter(spark,
      Files.createTempDirectory("graft-reg").toString, nBuckets = 4)
    store.mergeDim("dim_demo", Seq((1L, "a")).toDF("k", "attr"), Seq("k"), "sk")
    Ddl.registerCurrent(spark, store, Seq("dim_demo", "missing_table"))
    assert(spark.sql("SELECT attr FROM dim_demo WHERE k = 1").collect()
      .head.getString(0) === "a")
  }
}
