package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: automatic Bloom runtime filters for shuffled equi-joins
  * — the planner-injected twin of [[graft.operators.Joins.bloomFilteredJoin]]
  * (which stays as the explicit API with a caller-sized filter).
  *
  * The target envelope is the join the manual API was built for: an inner
  * equi-join whose build side survives its filters SMALL enough to
  * summarize as a bit set but TOO BIG to broadcast — Spark then shuffles
  * BOTH sides in full, and at 100 TB the probe side's exchange dominates
  * the query. The rewrite filters the probe side BEFORE its shuffle:
  *
  *   Join(l, r, Inner, l.k = r.k)
  *   ==> Join(Filter(might_contain(scalar-subquery[bloom_agg(xxhash64(r.k))],
  *                    xxhash64(l.k)), l), r, Inner, l.k = r.k)
  *
  * Result identity: the Bloom filter has no false negatives, and its false
  * positives are removed by the exact join that still runs — only the
  * shuffled volume changes (same contract as the manual API; the spec
  * proves parity). The subquery executes once, its result broadcasts to
  * the probe scan, and both the aggregate and the probe are Spark-native
  * codegen'd expressions ([[BloomFilterAggregate]] /
  * [[BloomFilterMightContain]] — the same machinery Spark's own
  * InjectRuntimeFilter uses, so AQE/subquery-reuse handle it natively).
  * Both hash the POST-COERCION key expressions from the join condition,
  * so the cross-type false-negative trap the manual API guards against
  * cannot arise here.
  *
  * Scope (semantics-preserving, deliberately narrow):
  *   - INNER joins (either side can be the build side — the smaller one
  *     is picked) and LEFT SEMI joins (build = right, probe = left; an
  *     outer join must keep non-matching probe rows — exactly what the
  *     pre-filter drops — so outer types are never touched);
  *   - one deterministic cross-side equality conjunct over atomic types;
  *   - build side's estimated size in (autoBroadcastJoinThreshold,
  *     spark.graft.bloomJoinRule.maxCreationBytes]: under the broadcast
  *     threshold Spark hash-joins map-side and a pre-filter buys nothing,
  *     over the cap the filter itself is too expensive to build. When the
  *     cap is not above the threshold the envelope is empty and the rule
  *     returns the plan before it reads any join's stats. That is the case
  *     at [[graft.GraftSession]]'s defaults (64 MB both), so there the
  *     rule does not fire until a deployer lowers the threshold;
  *   - probe side at least `spark.graft.bloomJoinRule.minSizeRatio` ×
  *     build side (filtering the small side of a balanced join is noise);
  *   - build side fully deterministic (the subquery re-executes it);
  *   - skipped if the probe side already carries a Bloom probe on the
  *     same key (idempotent), or if either side is streaming.
  *
  * [[graft.functions.GraftExtensions]] runs it once, after filter
  * inference (`injectPreCBORule`): inside the fixed-point batches,
  * InferFiltersFromConstraints would copy the probe filter across the
  * join key onto the build side.
  *
  * Differs from Spark's InjectRuntimeFilter envelope: that rule requires
  * a selective filter on the creation side; this one fires for the
  * unfiltered-dimension case (reference star shape: a dim that is simply
  * bigger than the broadcast threshold) where Spark injects nothing.
  */
object BloomJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.bloomJoinRule.enabled", "true").toBoolean
  private def maxCreationBytes: BigInt =
    BigInt(conf.getConfString("spark.graft.bloomJoinRule.maxCreationBytes",
      (64L * 1024 * 1024).toString))
  private def minSizeRatio: Int =
    conf.getConfString("spark.graft.bloomJoinRule.minSizeRatio", "4").toInt

  /** The probe side already filters on a Bloom probe of `key` (ours or
    * Spark's own runtime filter) — do not stack another. */
  private def hasBloomProbe(plan: LogicalPlan, key: Expression): Boolean =
    plan.exists {
      case Filter(cond, _) => cond.exists {
        case BloomFilterMightContain(_, xx: XxHash64) =>
          xx.children.exists(_.semanticEquals(key))
        case _ => false
      }
      case _ => false
    }

  private def deterministicPlan(p: LogicalPlan): Boolean =
    !p.exists(n => !n.expressions.forall(_.deterministic))

  /** Probe-side Filter(might_contain(subquery[bloom of creKey], appKey)). */
  private def inject(app: LogicalPlan, appKey: Expression,
                     cre: LogicalPlan, creKey: Expression): LogicalPlan = {
    // project the key first so the subquery's scan prunes to one column
    // even before its own optimization pass runs
    val keyAlias = Alias(creKey, "_graft_bloom_key")()
    // size the filter from the build side's stats instead of the 1M-item
    // default: a 64 MB build side of short keys holds ~4M distinct items,
    // and the default bloom degrades to ~0.7 FPP — pass-through cost with
    // none of the pruning. ~16 bytes/key estimate, clamped to [2^12, 2^22]
    // items at 20 bits each (FPP < 1%), the shape Spark's own
    // InjectRuntimeFilter derives from rowCount.
    val estItems = math.max(1L << 12,
      math.min(1L << 22, (cre.stats.sizeInBytes / 16).toLong))
    val aggPlan = Aggregate(Nil,
      Seq(Alias(new BloomFilterAggregate(new XxHash64(Seq(keyAlias.toAttribute)),
        Literal(estItems), Literal(estItems * 20))
        .toAggregateExpression(), "_graft_bloom_filter")()),
      Project(Seq(keyAlias), cre))
    Filter(BloomFilterMightContain(ScalarSubquery(aggPlan),
      new XxHash64(Seq(appKey))), app)
  }

  /** Scalar types XxHash64 hashes stably on both sides (AtomicType itself
    * is private[sql] — enumerate the public members). */
  private def eligibleKey(e: Expression): Boolean =
    e.deterministic && e.references.nonEmpty && (e.dataType match {
      // no BooleanType: a 2-value key can never prune — blooming the
      // flag conjunct of `ON p.flag = d.flag AND p.id = d.id` pays the
      // full build-side scan for a filter that passes every probe row
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: DecimalType | _: StringType |
           _: BinaryType | _: DateType | _: TimestampType |
           _: TimestampNTZType => true
      case _ => false
    })

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // No envelope, no work: no join's stats are read. A threshold <= 0
    // means the user DISABLED broadcast joins to force shuffle plans —
    // "over the broadcast threshold" would then cover every build side
    // down to one row and tax every join with an extra build-side scan;
    // the envelope is defined relative to a real threshold, so without
    // one the rule sits out (the explicit bloomFilteredJoin API remains
    // available). A cap at or under the threshold leaves it empty.
    val (bcast, cap) = (BigInt(conf.autoBroadcastJoinThreshold), maxCreationBytes)
    if (!enabled || bcast <= 0 || cap <= bcast) return plan
    plan.transformUp {
      case j @ Join(l, r, jt, Some(cond), hint)
          if (jt == Inner || jt == LeftSemi) && !l.isStreaming && !r.isStreaming =>
        // first cross-side equality conjunct, normalized to (leftKey, rightKey)
        val equi = splitConjunctivePredicates(cond).collectFirst {
          case EqualTo(a, b) if eligibleKey(a) && eligibleKey(b) &&
              a.references.subsetOf(l.outputSet) &&
              b.references.subsetOf(r.outputSet) => (a, b)
          case EqualTo(a, b) if eligibleKey(a) && eligibleKey(b) &&
              b.references.subsetOf(l.outputSet) &&
              a.references.subsetOf(r.outputSet) => (b, a)
        }
        equi match {
          case Some((lk, rk)) =>
            val (lSize, rSize) = (l.stats.sizeInBytes, r.stats.sizeInBytes)
            def fits(creSize: BigInt, appSize: BigInt, cre: LogicalPlan) =
              creSize > bcast && creSize <= cap &&
                appSize >= creSize * minSizeRatio && deterministicPlan(cre)
            if (jt == LeftSemi || rSize <= lSize) {
              // build from the right, filter the left
              if (fits(rSize, lSize, r) && !hasBloomProbe(l, lk))
                Join(inject(l, lk, r, rk), r, jt, Some(cond), hint)
              else j
            } else {
              if (fits(lSize, rSize, l) && !hasBloomProbe(r, rk))
                Join(l, inject(r, rk, l, lk), jt, Some(cond), hint)
              else j
            }
          case _ => j
        }
    }
  }
}
