package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize.MaterializeOps
import TextAnalysis.tokens

/** Equivalence oracles for the two shipped tokenizer trainers: the
  * round-by-round relational forms that [[TextAnalysis.unigramTrainCore]]
  * and [[TextAnalysis.bpeTrain]] replaced. Test code only: the catalog
  * never calls them. */
object TrainRounds {

  /** The original prefix-length-round E-step (one join + argmax per
    * prefix length, cumulative frame re-checkpointed per round) — kept
    * ONLY as the equivalence reference for [[TextAnalysis.unigramTrainCore]]'s
    * single-pass DP (UnigramEquivalenceSpec proves bit-identical
    * (pieces, segs) on unicode/tie-heavy fixtures and the test corpus). */
  def unigramTrainRounds(docs: DataFrame, nIters: Int,
      maxPieceLen: Int, minSeedCount: Long, maxWordLen: Int,
      textCol: String): (DataFrame, DataFrame) = {
    require(nIters >= 1 && nIters <= 8, "nIters in [1, 8]")
    require(maxPieceLen >= 2 && maxPieceLen <= 16, "maxPieceLen in [2, 16]")
    require(maxWordLen >= maxPieceLen && maxWordLen <= 64, "maxWordLen in [maxPieceLen, 64]")
    val words = (docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1 && length(col("w")) <= maxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("len", length(col("w"))))
      .materialized
    val occ = words
      .select(col("w"), col("freq"), col("len"),
        explode(sequence(lit(1), col("len"))).as("i"))
      .select(col("w"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), col("len") - col("i") + 1))).as("k"))
      .select(col("freq"), expr("substring(w, i, k)").as("piece"))
    val seedCnt = occ.groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .filter(col("cnt") >= minSeedCount || length(col("piece")) === 1)
    def withLogp(cnts: DataFrame): DataFrame = {
      val tot = cnts.agg(sum(col("cnt")).as("_tot"))
      cnts.crossJoin(broadcast(tot))
        .select(col("piece"), col("cnt"),
          round(log(col("cnt").cast("double") / col("_tot").cast("double")), 6)
            .cast("decimal(18,6)").as("lp"))
    }
    var pieces = withLogp(seedCnt).materialized
    // the coverage-floor set: every character seen in any model word
    val chars = words
      .select(col("w"), explode(sequence(lit(1), col("len"))).as("i"))
      .select(expr("substring(w, i, 1)").as("piece")).distinct()
      .materialized
    val maxLenRow = words.agg(max(col("len"))).collect()(0) // one-row stat
    val maxLen = if (maxLenRow.isNullAt(0)) 0 else maxLenRow.getInt(0)
    // TYPED empty, never spark.emptyDataFrame: a corpus with no model
    // words (all tokens over the cap, or empty) must still hand
    // unigramSegment a resolvable (w, freq, seg, score) schema so the
    // zero-count membership rows survive (the r16 review finding)
    var segs: DataFrame = words
      .select(col("w"), col("freq"),
        array().cast("array<string>").as("seg"),
        lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)").as("score"))
      .limit(0)
    var it = 0
    while (it < nIters && maxLen > 0) {
      var s = words.select(col("w"), col("len"), col("freq"),
        lit(0).as("pos"),
        lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)").as("score"),
        array().cast("array<string>").as("seg"))
        .materialized
      var i = 1
      while (i <= maxLen) {
        val cand = s
          .filter(col("pos") >= i - maxPieceLen && col("pos") < i &&
            col("len") >= i)
          .withColumn("piece", expr(s"substring(w, pos + 1, $i - pos)"))
          .join(broadcast(pieces.select(col("piece"), col("lp"))), Seq("piece"))
          .select(col("w"), col("len"), col("freq"),
            (col("score") + col("lp")).cast("decimal(18,6)").as("score2"),
            concat(col("seg"), array(col("piece"))).as("seg2"),
            (lit(i) - col("pos")).as("k"), col("piece"))
        val stepped = cand.groupBy(col("w"), col("len"), col("freq"))
          .agg(max_by(struct(col("score2"), col("seg2")),
            struct(col("score2"), col("k"), col("piece"))).as("_b"))
          .select(col("w"), col("len"), col("freq"), lit(i).as("pos"),
            col("_b.score2").as("score"), col("_b.seg2").as("seg"))
        s = s.unionByName(stepped).materialized
        i += 1
      }
      segs = s.filter(col("pos") === col("len"))
        .select(col("w"), col("freq"), col("seg"), col("score"))
        .materialized
      val counts = segs.select(col("freq"), explode(col("seg")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .materialized // read by the floor join AND the anti-join
      val floored = chars.join(counts, Seq("piece"), "left")
        .select(col("piece"),
          greatest(coalesce(col("cnt"), lit(0L)), lit(1L)).as("cnt"))
        .unionByName(counts.join(chars, Seq("piece"), "left_anti"))
      pieces = withLogp(floored).materialized
      it += 1
    }
    (pieces, segs)
  }

  /** The original per-round windowed trainer (lead pair window + tree
    * top-1 + gaps-and-islands rewrite + localCheckpoint, per round) —
    * kept ONLY as the equivalence reference for [[TextAnalysis.bpeTrain]]'s compiled
    * merge-application form (BpeEquivalenceSpec proves bit-identical
    * (table, syms) on run-heavy/unicode/tie-heavy fixtures). */
  def bpeTrainRounds(docs: DataFrame, rounds: Int, textCol: String,
                     checkpoint: Boolean = true): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 64, "rounds must be in [1, 64]")
    import org.apache.spark.sql.expressions.Window
    def cp(df: DataFrame): DataFrame =
      if (checkpoint) df.materialized else df
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // (w, freq, pos, sym): characters 1..len, then the </w> marker
    var syms = words
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")) + 1)).as("pos"))
      .withColumn("sym",
        when(col("pos") <= length(col("w")),
          expr("substring(w, pos, 1)")).otherwise(lit("</w>")))
    syms = cp(syms)
    val wWord = Window.partitionBy(col("w")).orderBy(col("pos"))
    var table: DataFrame = null
    for (r <- 1 to rounds) {
      val withNext = syms.withColumn("nxt", lead(col("sym"), 1).over(wWord))
      val best = withNext.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("left"), col("nxt").as("right"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("left"), col("right"))
        .limit(1)
        .withColumn("round", lit(r.toLong))
      val bestCp = cp(best)
      // a fully-merged corpus has no adjacent pairs left: best is EMPTY,
      // and the crossJoin below would wipe the symbol table for every
      // remaining round — stop instead (later rounds are no-ops)
      if (bestCp.isEmpty) {
        val out = if (table == null)
          bestCp.select(col("round"), col("left"), col("right"), col("pair_count"))
        else table.select(col("round"), col("left"), col("right"), col("pair_count"))
        return (out, syms)
      }
      table = if (table == null) bestCp else table.unionByName(bestCp)
      // rewrite: leftmost-nonoverlapping occurrences of (left, right).
      // Chaining is only possible when left == right, where the rule is
      // "even offset within the equal-symbol run" (gaps-and-islands).
      val rnAll = row_number().over(wWord)
      val rnSym = row_number().over(
        Window.partitionBy(col("w"), col("sym")).orderBy(col("pos")))
      val marked = withNext.crossJoin(broadcast(bestCp.select(
          col("left").as("_l"), col("right").as("_r"))))
        .withColumn("_rnAll", rnAll)
        .withColumn("_island", rnAll - rnSym)
        .withColumn("_runpos", col("_rnAll") - min(col("_rnAll")).over(
          Window.partitionBy(col("w"), col("sym"), col("_island"))))
        .withColumn("_start",
          col("sym") === col("_l") && col("nxt") === col("_r") &&
            (col("_l") =!= col("_r") || col("_runpos") % 2 === 0))
        .withColumn("_consumed",
          coalesce(lag(col("_start"), 1).over(wWord), lit(false)))
      syms = marked.filter(!col("_consumed"))
        .select(col("w"), col("freq"),
          row_number().over(wWord).as("pos"),
          when(col("_start"), concat(col("sym"), col("nxt")))
            .otherwise(col("sym")).as("sym"))
      syms = cp(syms)
    }
    (table.select(col("round"), col("left"), col("right"), col("pair_count")),
      syms)
  }
}
