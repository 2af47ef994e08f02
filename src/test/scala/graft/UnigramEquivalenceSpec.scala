package graft

import graft.operators.TextAnalysis
import graft.operators.TrainRounds.unigramTrainRounds
import org.apache.spark.sql.DataFrame

/** The r17 optimization contract for the unigram trainer: the
  * single-pass Viterbi E-step ([[graft.functions.UnigramViterbi]] behind
  * `unigramTrainCore`) must be BIT-IDENTICAL to the prefix-length-round
  * relational DP it replaced (`unigramTrainRounds`, kept as the
  * reference) — same (pieces, segs) down to decimal scores and seg
  * order, on ASCII, unicode (multi-byte + supplementary code points),
  * and tie-heavy corpora. A drift here would silently change four
  * oracle-checked catalog rows (q278/q279/q283/q284). */
class UnigramEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def pieceSet(df: DataFrame): Set[(String, Long, java.math.BigDecimal)] =
    df.collect().map(r => (r.getAs[String]("piece"), r.getAs[Long]("cnt"),
      r.getAs[java.math.BigDecimal]("lp"))).toSet

  private def segSet(df: DataFrame): Set[(String, Long, List[String], java.math.BigDecimal)] =
    df.collect().map(r => (r.getAs[String]("w"), r.getAs[Long]("freq"),
      r.getAs[scala.collection.Seq[String]]("seg").toList,
      r.getAs[java.math.BigDecimal]("score"))).toSet

  private def assertSame(docs: DataFrame, nIters: Int = 2, maxPieceLen: Int = 4,
                         minSeedCount: Long = 2L, maxWordLen: Int = 12): Unit = {
    val (pF, sF) = TextAnalysis.unigramTrainCore(docs, nIters, maxPieceLen,
      minSeedCount, maxWordLen, "text")
    val (pR, sR) = unigramTrainRounds(docs, nIters, maxPieceLen,
      minSeedCount, maxWordLen, "text")
    assert(pieceSet(pF) === pieceSet(pR), "piece tables must be bit-identical")
    assert(segSet(sF) === segSet(sR), "segmentations must be bit-identical")
  }

  test("stock corpus: single-pass DP == round DP") {
    assertSame(Seq(
      (1L, "low lower lowest low low"),
      (2L, "new newer newest new"),
      (3L, "low new lowest newer"),
      (4L, "abracadabra")
    ).toDF("doc_id", "text"))
  }

  test("unicode corpus (multi-byte + supplementary code points)") {
    // é is 2 UTF-8 bytes / 1 code point; 𝄞 (U+1D11E) is a surrogate
    // pair in UTF-16 / 1 code point — substring/length must agree with
    // Spark's code-point semantics, and piece ordering with UTF8 binary
    assertSame(Seq(
      (1L, "café caféine café naïve naïve"),
      (2L, "𝄞clef 𝄞clef 𝄞 note note𝄞note"),
      (3L, "ααβ ααβ βαα αβα café")
    ).toDF("doc_id", "text"))
  }

  test("tie-heavy corpus: equal-score segmentations break identically") {
    // symmetric repeats make many pieces share counts, forcing the
    // (score, piece-length, piece) tie-break to decide
    assertSame(Seq(
      (1L, "ab ab ab ba ba ba"),
      (2L, "abab baba abab baba"),
      (3L, "aabb bbaa aabb bbaa"),
      (4L, "aaaa bbbb aaaa bbbb")
    ).toDF("doc_id", "text"), nIters = 3)
  }

  test("degenerate corpora: empty, null text, over-cap words") {
    assertSame(Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    assertSame(Seq(
      (1L, "supercalifragilistic expialidocious"),
      (2L, null.asInstanceOf[String])
    ).toDF("doc_id", "text"))
  }

  test("single-char vocab floor: unused chars stay at count 1 in both") {
    // 'q' appears only inside a word whose Viterbi pick never uses the
    // single char once 'qu' becomes a piece — the floor must keep it
    assertSame(Seq(
      (1L, "quick quick quip quip"),
      (2L, "qu qu quiz")
    ).toDF("doc_id", "text"))
  }
}
