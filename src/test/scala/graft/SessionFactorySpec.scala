package graft

/** One session factory, one plan: graft's SQL functions and optimizer
  * rules come with the session `GraftSession.local` builds and with every
  * session derived from it, so a query plans the same before and after
  * any catalog query runs in that session. */
class SessionFactorySpec extends SparkSpec {

  test("newSession() plans graft's SQL functions and band rule, the same before and after q43") {
    val s = spark.newSession()
    import s.implicits._
    (0 until 60).map(i => (i.toLong, (i * 37L) % 500, Array(i.toDouble, 1.0)))
      .toDF("id", "t", "v").createOrReplaceTempView("band_a")
    (0 until 60).map(i => (i + 1000L, (i * 91L) % 500, Array(1.0, i.toDouble)))
      .toDF("id", "t", "v").createOrReplaceTempView("band_b")
    val sql =
      """SELECT a.id AS a_id, b.id AS b_id, dot_product(a.v, b.v) AS d
        |FROM band_a a JOIN band_b b ON abs(a.t - b.t) <= 7""".stripMargin
    // expression ids differ between two analyses of the same text
    def optimized: String =
      s.sql(sql).queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#")

    val exec = s.sql(sql).queryExecution.executedPlan.toString
    assert(exec.contains("_graft_band"), s"expected the band rule's bucketed join:\n$exec")
    assert(!exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"band join must not plan as a nested loop:\n$exec")
    val before = optimized

    // q43 reads <dir>/embeddings.parquet: a small one of its own
    val dir = java.nio.file.Files.createTempDirectory("graft-factory").toString
    (0 until 50).map(i => (i.toLong, Array(i.toFloat, 1.0f, -i.toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    QueryCatalog.queries("q43_sql_dot_product")(s, dir)
      .write.format("noop").mode("overwrite").save()
    assert(optimized === before, "q43 must not change how a later query plans")
  }
}
