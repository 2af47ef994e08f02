package graft

import org.apache.spark.sql.functions._

/** The auto-injected Bloom runtime filter: an inner equi-join whose build
  * side is over the broadcast threshold but under the creation cap gets a
  * might_contain pre-filter on its probe side — with results identical to
  * the plain join — while joins outside the envelope are left alone. */
class BloomJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ~50k-row probe side, ~5k-row build side with dup keys and misses
  private def probe = (1 to 50000).map(i => ((i % 8000).toLong, i)).toDF("k", "payload")
  private def build = (1 to 5000).map(i => ((i * 3).toLong, s"a$i")).toDF("bk", "attr")

  private def optimized(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("eligible inner equi-join gets a might_contain pre-filter; results unchanged") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val j = probe.join(build, col("k") === col("bk"))
        .groupBy(col("attr")).agg(count(lit(1)).as("n"), sum(col("payload")).as("s"))
      val p = optimized(j)
      assert(p.contains("bloom_filter_agg") || p.contains("BloomFilter"),
        s"expected an injected bloom filter subquery:\n$p")
      assert(p.contains("might_contain"),
        s"expected the probe-side might_contain filter:\n$p")
      assert("might_contain".r.findAllIn(p).size == 1,
        s"the probe filter must not be copied onto the build side:\n$p")
      val got = j.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      // recompute with the rule off — identical rows required
      val plain = {
        spark.conf.set("spark.graft.bloomJoinRule.enabled", "false")
        try probe.join(build, col("k") === col("bk"))
          .groupBy(col("attr")).agg(count(lit(1)).as("n"), sum(col("payload")).as("s"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1).toSeq
        finally spark.conf.unset("spark.graft.bloomJoinRule.enabled")
      }
      assert(got === plain, "runtime filter must not change join results")
      assert(got.nonEmpty, "fixture sanity: keys must overlap")
    }
  }

  test("left semi join filters the probe (left) side only") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val j = probe.join(build, col("k") === col("bk"), "left_semi")
      val p = optimized(j)
      assert(p.contains("might_contain"), s"semi join is in the envelope:\n$p")
      val got = j.count()
      spark.conf.set("spark.graft.bloomJoinRule.enabled", "false")
      val plain = try probe.join(build, col("k") === col("bk"), "left_semi").count()
        finally spark.conf.unset("spark.graft.bloomJoinRule.enabled")
      assert(got === plain)
    }
  }

  test("broadcastable build side: no injection (the hash join is already map-side)") {
    // default 64 MB threshold — the 5k-row build side broadcasts
    val p = optimized(probe.join(build, col("k") === col("bk")))
    assert(!p.contains("might_contain"),
      s"broadcast-sized build sides must be left alone:\n$p")
  }

  test("outer joins and non-equi joins are never touched") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val outer = optimized(probe.join(build, col("k") === col("bk"), "left"))
      assert(!outer.contains("might_contain"),
        s"outer joins must keep non-matching probe rows:\n$outer")
      val theta = optimized(probe.join(build, col("k") > col("bk")))
      assert(!theta.contains("might_contain"),
        s"non-equi joins have no key to summarize:\n$theta")
    }
  }

  test("balanced joins (probe < ratio x build) are left alone") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val sameSize = (1 to 5000).map(i => (i.toLong, i)).toDF("k", "payload")
      val p = optimized(sameSize.join(build, col("k") === col("bk")))
      assert(!p.contains("might_contain"),
        s"filtering one side of a balanced join is noise:\n$p")
    }
  }

  test("broadcast joins disabled (threshold -1): rule sits out entirely") {
    // threshold <= 0 means the user forced shuffle joins; 'over the
    // broadcast threshold' would then match every build side and tax
    // every join with an extra build-side scan
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = optimized(probe.join(build, col("k") === col("bk")))
      assert(!p.contains("might_contain"),
        s"no real threshold, no envelope — rule must not fire:\n$p")
    }
    // threshold = maxCreationBytes (the factory default, 64 MB both) is
    // also an empty envelope: this shape fires at threshold 1024 with
    // the default cap (first test), and must not once the cap is 1024
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024",
        "spark.graft.bloomJoinRule.maxCreationBytes" -> "1024") {
      val p = optimized(probe.join(build, col("k") === col("bk")))
      assert(!p.contains("might_contain"),
        s"threshold = maxCreationBytes, empty envelope — rule must not fire:\n$p")
    }
  }

  test("kill switch: spark.graft.bloomJoinRule.enabled=false disables injection") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024",
        "spark.graft.bloomJoinRule.enabled" -> "false") {
      val p = optimized(probe.join(build, col("k") === col("bk")))
      assert(!p.contains("might_contain"), s"rule must honor the kill switch:\n$p")
    }
  }
}
