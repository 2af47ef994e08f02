package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** SQL functions from the extensions `GraftSession.local` builds in, and
  * skew-salting aggregates. */
class ExtensionsAndSkewSpec extends SparkSpec {
  import spark.implicits._

  test("dot_product / vec_norm / cosine_sim are callable from SQL in the factory session") {
    Seq((Array(3.0f, 4.0f), Array(3.0f, 4.0f)), (Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val rows = spark.sql(
      "SELECT dot_product(a, b) AS d, vec_norm(a) AS n, cosine_sim(a, b) AS c FROM vecs")
      .collect()
    assert(rows(0).getDouble(0) === 25.0)
    assert(rows(0).getDouble(1) === 5.0)
    assert(rows(0).getDouble(2) === 1.0, "parallel vectors: cosine 1")
    assert(rows(1).getDouble(2) === 0.0, "orthogonal vectors: cosine 0")
  }

  test("ngrams / ngrams_pos are SQL-callable generators; non-literal n rejected") {
    Seq((1L, "The  Quick brown fox")).toDF("doc_id", "text")
      .createOrReplaceTempView("ngdocs")
    val sh = spark.sql("SELECT doc_id, ngrams(text, 2) AS shingle FROM ngdocs")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sh.toSeq === Seq((1L, "the quick"), (1L, "quick brown"), (1L, "brown fox")),
      "normalization (trim/lower/whitespace) must match the Column API")
    val pos = spark.sql("SELECT ngrams_pos(text, 3) FROM ngdocs")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(pos.toSeq === Seq((0, "the quick brown"), (1, "quick brown fox")))
    val err = intercept[Exception](
      spark.sql("SELECT ngrams(text, CAST(doc_id AS INT)) FROM ngdocs").collect())
    assert(err.getMessage.contains("LITERAL") || err.toString.contains("LITERAL"),
      s"non-literal n must fail loudly, got: $err")
  }

  test("nfc_normalize is SQL-callable and matches java.text.Normalizer") {
    Seq(("café", "café")).toDF("dec", "com").createOrReplaceTempView("nfcv")
    val r = spark.sql("SELECT nfc_normalize(dec) = com AS eq, length(nfc_normalize(dec)) AS l FROM nfcv")
      .head()
    assert(r.getBoolean(0), "decomposed input must compose to the canonical form")
    assert(r.getInt(1) === 4)
  }

  test("jaro_winkler_similarity: reference values match DuckDB's decision-for-decision") {
    import graft.functions.JaroWinkler.jw
    // values probed from DuckDB jaro_winkler_similarity (the oracle's
    // engine); the classic-variant decisions they pin: prefix bonus,
    // 0.7 boost threshold, transposition halving, empty-string zeros
    val expected = Seq(
      ("martha", "marhta", 0.9611111111111111),   // transposition + prefix 3
      ("dixon", "dicksonx", 0.8133333333333332),  // prefix 2 bonus applied
      ("jellyfish", "smellyfish", 0.8962962962962964), // no common prefix
      ("CRATE", "TRACE", 0.7333333333333334),     // >0.7 but prefix 0
      ("kitten", "sitting", 0.746031746031746),
      ("aaapppp", "appp", 0.8714285714285714),
      ("ABCAWXYZ", "BCAWXYZ", 0.9107142857142857),
      ("abqqqqqq", "abzzzzzz", 0.5),              // prefix 2 but jaro <= 0.7: NO bonus
      ("ab", "abcdefghijklmnop", 0.7666666666666667),
      ("abc", "abc", 1.0))
    expected.foreach { case (a, b, v) =>
      assert(math.abs(jw(a, b) - v) < 1e-12, s"jw($a, $b) = ${jw(a, b)}, want $v")
      assert(jw(a, b) === jw(b, a), "symmetric")
    }
    assert(jw("", "") === 0.0 && jw("a", "") === 0.0, "empty strings score 0")
    // SQL-callable under the DuckDB name; codegen'd (no UDF) — the input
    // is id-dependent so constant folding can't collapse the plan
    val r = spark.range(2).selectExpr(
      "jaro_winkler_similarity(CASE WHEN id = 0 THEN 'martha' ELSE 'zzz' END, 'marhta') AS s")
    assert(math.abs(r.orderBy(org.apache.spark.sql.functions.desc("s"))
      .collect().head.getDouble(0) - 0.9611111111111111) < 1e-12)
    // the `*(1)` stage marker = the Project runs inside WholeStageCodegen
    assert(r.queryExecution.executedPlan.toString.contains("*(1) Project"),
      s"jaro_winkler must stay inside codegen:\n${r.queryExecution.executedPlan}")
  }

  test("salted aggregates equal their unsalted counterparts on skewed data") {
    // hot key: 10k rows on one key, a handful elsewhere
    val df = ((1 to 10000).map(i => ("hot", i % 100)) ++
      (1 to 50).map(i => (s"k$i", i))).toDF("k", "v")

    val plainCount = df.groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedCount = Skew.saltedCount(df, Seq("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(saltedCount === plainCount)

    val plainSum = df.groupBy("k").agg(sum("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedSum = Skew.saltedSum(df, Seq("k"), "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(saltedSum === plainSum)

    val plainSet = df.groupBy("k").agg(collect_set("v"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).sorted).toMap
    val saltedSet = Skew.saltedCollectSet(df, Seq("k"), "v")
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).sorted).toMap
    assert(saltedSet === plainSet)
  }

  test("saltedJoin is row-identical to the plain join; right/full rejected") {
    // hot key 'hot' (1000 fact rows), duplicates included; dim has keys
    // with no fact rows and the fact has keys missing from the dim
    val fact = ((1 to 1000).map(i => ("hot", i % 7)) ++
      (1 to 20).map(i => (s"k$i", i)) :+ (("orphan", 99))).toDF("k", "v")
    val dim = ((Seq("hot") ++ (1 to 15).map(i => s"k$i") :+ "unused")
      .zipWithIndex.map { case (k, i) => (k, s"attr$i") }).toDF("k", "a")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1), Option(r.getString(2))))
        .sortBy(t => (t._1, t._2, t._3.getOrElse(""))).toSeq
    for (jt <- Seq("inner", "left")) {
      val plain = canon(fact.join(dim, Seq("k"), jt))
      val salted = canon(Skew.saltedJoin(fact, dim, Seq("k"), saltBuckets = 8, joinType = jt))
      assert(salted === plain, s"$jt salted join must be row-identical")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(fact, dim, Seq("k"), joinType = "right")
    }
  }

  test("salting spreads the hot key across buckets (the scale property)") {
    val df = (1 to 1000).map(i => ("hot", i)).toDF("k", "v")
    val buckets = df.withColumn("_salt",
      pmod(xxhash64(col("k"), col("v")), lit(32)).cast("int"))
      .select("_salt").distinct().count()
    assert(buckets > 20, s"hot key must spread over many salt buckets, got $buckets")
  }
}
