package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point, the one path by which graft's SQL
  * functions and optimizer rules reach a session. It registers the native
  * graft expressions with the SQL function registry, so they are callable
  * from `spark.sql` (not only the Column API), and injects graft's two
  * optimizer rules: `BandedThetaJoinRule` into the fixed-point
  * operator-optimization batches, `BloomJoinRule` into the Once batch
  * that follows them:
  *
  * {{{
  * .withExtensions(new GraftExtensions)  // what graft.GraftSession.local builds with
  * // or on a cluster: --conf spark.sql.extensions=graft.functions.GraftExtensions
  * spark.sql("SELECT dot_product(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * Extensions apply when a session is built, and `newSession()` passes
  * them on; a session that is already built does not get them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach { case (name, info, builder) =>
      ext.injectFunction((new FunctionIdentifier(name), info, builder))
    }
    // banded theta joins (abs(a.t - b.t) <= w with no equi key) rewrite to
    // the bucketed equi-join instead of a nested-loop plan
    ext.injectOptimizerRule(_ => graft.plans.BandedThetaJoinRule)
    // Bloom runtime filters for small-but-unbroadcastable build sides,
    // once, after filter inference (BloomJoinRule's scaladoc says why)
    ext.injectPreCBORule(_ => graft.plans.BloomJoinRule)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Multiply, Sqrt}
  import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

  // the SQL surface casts like SQL does: feistel32(7, 42) with INT
  // literals and dot_product over array<decimal> literals must work the
  // way the Column-API twins (which .cast explicitly) do — the native
  // expressions demand exact types and none implements
  // ImplicitCastInputTypes. Unconditional Cast: SimplifyCasts removes
  // the no-op ones, uncastable inputs fail analysis with the clear
  // cast error instead of a TypeCheckFailure.
  private def asLong(e: Expression): Expression = Cast(e, LongType)
  private def asVec(e: Expression): Expression = Cast(e, ArrayType(DoubleType))

  private def arity(name: String, n: Int)
      (f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      require(children.length == n, s"$name takes exactly $n argument(s)")
      f(children)
    }

  /** The SQL-callable surface: every entry is pure codegen'd Catalyst
    * (DotProduct is the one custom Expression; norm/cosine compose it with
    * built-ins, exactly like their Column-API twins in VectorFunctions). */
  private val sqlFunctions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("dot_product", new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      arity("dot_product(a, b)", 2)(c => DotProduct(asVec(c.head), asVec(c(1))))),
    ("vec_norm", new ExpressionInfo(classOf[DotProduct].getName, "vec_norm"),
      arity("vec_norm(a)", 1)(c => { val v = asVec(c.head); Sqrt(DotProduct(v, v)) })),
    ("cosine_sim", new ExpressionInfo(classOf[DotProduct].getName, "cosine_sim"),
      arity("cosine_sim(a, b)", 2)(c => { val (a, b) = (asVec(c.head), asVec(c(1)))
        Divide(DotProduct(a, b),
          Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b)))) })),
    // same name as DuckDB's NFC function — the oracle mirror reads the same
    ("nfc_normalize", new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      arity("nfc_normalize(s)", 1)(c => NfcNormalize(c.head))),
    ("idn_ascii", new ExpressionInfo(classOf[IdnAscii].getName, "idn_ascii"),
      arity("idn_ascii(host)", 1)(c => IdnAscii(c.head))),
    ("etld1", new ExpressionInfo(classOf[Etld1].getName, "etld1"),
      arity("etld1(host)", 1)(c => Etld1(c.head))),
    // per-row entropy stats (map-only quality screen; CodegenFallback by
    // design — the per-row work is a code-point hash map)
    ("char_entropy_stats", new ExpressionInfo(classOf[CharEntropyStats].getName,
      "char_entropy_stats"),
      arity("char_entropy_stats(s)", 1)(c => CharEntropyStats(c.head))),
    // same name as DuckDB's scorer — the oracle mirror reads the same
    ("jaro_winkler_similarity", new ExpressionInfo(classOf[JaroWinkler].getName,
      "jaro_winkler_similarity"),
      arity("jaro_winkler_similarity(a, b)", 2)(c => JaroWinkler(c.head, c(1)))),
    // the Hilbert layout key beside morton16 (which is Column-composed;
    // Hilbert's rotation recurrence forces a native Expression)
    ("hilbert16", new ExpressionInfo(classOf[HilbertIndex].getName, "hilbert16"),
      arity("hilbert16(x, y)", 2)(c => HilbertIndex(asLong(c.head), asLong(c(1))))),
    // seeded epoch-shuffle bijection over [0, 2^32): `feistel32(id, seed)`
    ("feistel32", new ExpressionInfo(classOf[FeistelPermute].getName, "feistel32"),
      arity("feistel32(id, seed)", 2)(c => FeistelPermute(asLong(c.head), asLong(c(1))))),
    // the UDTF surface: word n-gram generators, SQL-callable like explode
    // (`SELECT doc_id, ngrams(text, 5) FROM docs`); n must be a literal —
    // the generator's output schema is fixed at plan time
    ("ngrams", new ExpressionInfo(classOf[NGramsGenerator].getName, "ngrams"),
      arity("ngrams(text, n)", 2)(c => NGramsGenerator(c.head, literalInt("ngrams", c(1))))),
    ("ngrams_pos", new ExpressionInfo(classOf[NGramsGenerator].getName, "ngrams_pos"),
      arity("ngrams_pos(text, n)", 2)(c =>
        NGramsGenerator(c.head, literalInt("ngrams_pos", c(1)), withPos = true))))

  private def literalInt(fn: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _) => n
    case _ => throw new IllegalArgumentException(
      s"$fn: the n-gram size must be an INTEGER LITERAL (the generator's " +
        "output schema is fixed at plan time)")
  }
}
