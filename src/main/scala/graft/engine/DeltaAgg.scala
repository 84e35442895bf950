package graft.engine

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{
  UnresolvedAttribute, UnresolvedExtractValue}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, ArrayJoin, ArrayRepeat, ArrayTransform, AttributeReference,
  Cast, Coalesce, CreateNamedStruct, Descending, Divide, Expression,
  Flatten, GreaterThan, Greatest, HllSketchEstimate, If, IsNotNull, IsNull,
  KnownNotNull, LambdaFunction, Literal, Multiply, NamedExpression, Or,
  SortArray, Sqrt, Subtract, UnresolvedNamedLambdaVariable}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, AggregateFunction, Average, BoolAnd, BoolOr,
  CollectList, Complete, Corr, Count, CountIf, CovPopulation,
  CovSample, HllSketchAgg, HyperLogLogPlusPlus, ListAgg, Max, MaxBy,
  Median, Min, MinBy, Percentile, RegrAvgX, RegrAvgY, RegrCount,
  RegrIntercept, RegrR2, RegrSXX, RegrSXY, RegrSYY, RegrSlope, StddevPop,
  StddevSamp, Sum, VariancePop, VarianceSamp}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.functions.{
  broadcast, coalesce, col, greatest, least, lit, sum, when}
import org.apache.spark.sql.types.{
  BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType,
  FloatType, IntegerType, LongType, NumericType, ShortType, StringType,
  TimestampNTZType, TimestampType}

/** Algebraic delta-accumulation for keyed aggregate cascades — the
  * RisingWave-style aggregate operator: instead of recomputing touched
  * groups against the source's CURRENT snapshot (a base-table scan per
  * epoch, even with the semi-join pushed below the Aggregate), admitted
  * statements fold the source's 4-op changelog directly into carried
  * per-group auxiliary state:
  *
  *   cnt' = cnt + cntΔ⁺ − cntΔ⁻        sum' = sum ⊞ sumΔ⁺ ⊟ sumΔ⁻
  *
  * so per-epoch cost is proportional to the DELTA (plus a map-side state
  * merge), never to the base data. This is the classical decomposable-
  * aggregate IVM rule (Gray et al.'s distributive aggregates; the same
  * algebra Spark itself uses between partial and final aggregation).
  *
  * Slot tiers (round 10 widened the original COUNT/SUM/decimal-AVG set):
  *  - **Invertible, exact**: COUNT, SUM/AVG over integral or decimal —
  *    pure signed addition, merged by the union+re-sum fast path.
  *  - **Non-invertible extremum**: MIN/MAX over any orderable type —
  *    inserts fold directly (`max' = greatest(max, Δmax)`); a retraction
  *    that could remove the carried extremum (`Δ⁻max ≥ max`) re-fetches
  *    exactly that group from the source (RisingWave's extremum
  *    re-fetch-on-retraction, with the source table as the state table).
  *  - **Float tolerance tier** (opt-in, `ConnOptions.foldFloatingPointAgg`):
  *    SUM/AVG over float/double with Kahan-compensated carried state —
  *    each epoch's increment passes through the compensation term, so the
  *    long accumulation chain does not drift linearly in epoch count.
  *    Excluded from the default exact tier because re-associated float
  *    addition is not bit-identical to a batch evaluation.
  *
  * Admission (everything else falls back to touched-group recompute,
  * which is always correct):
  *  - the analyzed plan is a single root [[Aggregate]] whose child is
  *    multilinear in its changelog sources (Project/Filter/inner joins
  *    with static dims — validated by the caller's linearity scan);
  *  - every aggregate call is Complete and of an admitted kind above;
  *    FILTER (WHERE …) predicates admit on plain slots (the partials and
  *    their derived helpers inherit the predicate — round 12), while
  *    dk-keyed kinds (DISTINCT, percentile) reject them;
  *  - output columns are grouping keys or deterministic expressions over
  *    admitted aggregate calls and keys (CAST/round wrappers, folded
  *    HAVING predicates — all fine: the expression is re-evaluated over
  *    the derived aggregate values).
  *
  * NULL semantics: SUM/MIN/MAX must surface NULL exactly when a group has
  * no non-NULL inputs, so each value slot carries a paired non-NULL
  * counter; the visible value is `IF(cnt > 0, value, NULL)`. A group
  * leaves the state when its row count reaches zero (the cascade's Delete
  * emission).
  */
private[engine] object DeltaAgg {

  /** One admitted aggregate call's auxiliary layout: `auxIdx` indexes the
    * first of its auxiliary columns —
    * [sum, nonNullCnt] for SUM/AVG, [cnt] for COUNT,
    * [extremum, nonNullCnt] for MIN/MAX,
    * [sum, kahanComp, nonNullCnt] for float SUM/AVG,
    * NOTHING for COUNT/SUM/AVG(DISTINCT) — their `dkIdx` names the
    * state-key column carrying the distinct child value (two-level tier,
    * round 12). */
  private[engine] final case class Slot(auxIdx: Int, kind: Int, dkIdx: Int = -1) {
    def width: Int = kind match {
      case KindCount | KindHll => 1
      case KindCountD | KindMaxD | KindMinD | KindSumD | KindAvgD |
           KindPct | KindListAgg | KindListAggDesc | KindListAggOrd |
           KindArrAgg => 0
      case KindSumF | KindAvgF => 3
      case KindStdS | KindStdP | KindVarS | KindVarP => 3
      case KindMaxBy | KindMinBy => 3 // [arg, extremum ord, nonNullOrdCnt]
      case KindCorr | KindRegr => 6 // [Σxy, Σx, Σy, Σx², Σy², n]
      case KindCovS | KindCovP => 4 // [Σxy, Σx, Σy, n]
      case _ => 2
    }
    /** Index of the slot's non-NULL counter column (valid for width ≥ 2). */
    def cntIdx: Int = auxIdx + width - 1
  }
  private val KindCount = 0
  private val KindSum = 1
  private val KindAvg = 2
  private val KindMax = 3
  private val KindMin = 4
  private val KindSumF = 5
  private val KindAvgF = 6
  private val KindCountD = 7
  /** dk-backed extremum (round 12): MIN/MAX whose child IS a distinct-key
    * column of the two-level tier. The inner groups are single-valued in
    * that child, so the extremum needs no aux columns and — crucially —
    * no retraction re-fetch: the visible value is Max/Min over the state's
    * key column itself, and a value leaves exactly when its last reference
    * does. (A plain KindMax at inner granularity would flag EVERY
    * retraction as a possible extremum removal, because the retracted
    * value always equals the single-valued subgroup's carried max.) */
  private val KindMaxD = 8
  private val KindMinD = 9
  /** stddev/variance (round 12): decomposable as [sum-of-squares, sum,
    * nonNullCnt] — all three slots signed-invertible, so the fold stays on
    * the fast union+re-sum path. EXACT tier when the (double-typed) child
    * is the analyzer's cast of an integral column — the sums carry in
    * DECIMAL(38,0); the tolerance tier (foldFloatingPointAgg) admits raw
    * double children with plain double sums. The finish re-derives
    * m₂ = S₂ − S₁²/n in double at the output boundary, clamped at 0
    * against cancellation epsilon; NULL below the ddof threshold exactly
    * like Spark's own n==0 / n==1 semantics. */
  private val KindStdS = 10
  private val KindStdP = 11
  private val KindVarS = 12
  private val KindVarP = 13
  /** SUM/AVG(DISTINCT) (round 12): same two-level state as COUNT(DISTINCT)
    * — the distinct child is a state-key column and the (keys, value) row
    * vanishes with its last reference — so the slots own no aux columns
    * and the visible pass re-aggregates the state's own key column
    * (Sum / Sum÷Count over the per-value rows). Exact tier only
    * (integral/decimal child): a float SUM(DISTINCT) has no
    * order-insensitive spelling at the visible boundary. */
  private val KindSumD = 14
  private val KindAvgD = 15
  /** Exact percentile/median (round 12): the two-level state IS the
    * group's value HISTOGRAM — per-(group, value) reference counts — so
    * the visible pass re-evaluates Spark's own [[Percentile]] with the
    * state's row counter as its frequency argument. Exact for ANY numeric
    * child including floats (the state stores the values themselves, not
    * order-sensitive sums; the single interpolation at the output boundary
    * is the same arithmetic a batch evaluation performs on the same
    * multiset), and needs no retraction re-fetch: a retracted value's
    * refcount simply reaches zero and the row leaves the histogram.
    * State is O(distinct values) per group — the honest cost of exact
    * percentile IVM (same state RisingWave's percentile operator keeps).
    * Reference: risingwave-py surfaces percentile MVs via core.py's
    * materialized-view passthrough. */
  private val KindPct = 16
  /** max_by/min_by (round 12): the argument-at-extremum pair folds like
    * the extremum tier — inserts compare ordering values and carry the
    * winning argument; a retraction whose ordering value ties or beats
    * the carried extremum re-fetches the group (the argument at the new
    * extremum is not derivable from [arg, ord] state alone). These are
    * the latest-row primitives (RisingWave's own upsert materialization
    * is arg_max over the version column). */
  private val KindMaxBy = 17
  private val KindMinBy = 18
  /** Bivariate statistics (round 12): corr / covar_samp / covar_pop fold
    * via signed raw co-moments — [Σxy, Σx, Σy, (Σx², Σy²,) n-both-non-null]
    * — with the single-variable sums gated to rows where BOTH children are
    * non-NULL (Spark skips the whole row when either side is NULL). Exact
    * decimal sums for integral-under-cast children, double sums behind the
    * float gate. Zero-variance corr surfaces NULL — the SQL-standard /
    * DuckDB / RisingWave stance; Spark's NATIVE corr under ANSI raises
    * DIVIDE_BY_ZERO on such a group, so the maintained face is total where
    * the equivalent ad-hoc query is not. */
  private val KindCorr = 19
  private val KindCovS = 20
  private val KindCovP = 21
  /** The linear-regression family (round 12): every regr_* function is a
    * finish over the same six raw co-moments KindCorr carries, so they
    * share its aux builder and merge verbatim; the VARIANT (slope,
    * intercept, r², count, avgx, avgy, sxx, syy, sxy) rides in the slot's
    * otherwise-unused dkIdx field. Argument order is SQL's
    * regr_*(y, x) — children(0) is the dependent variable. */
  private val KindRegr = 22
  /** Order-sensitive multiset aggregates (round 13): string_agg/listagg
    * and array_agg/collect_list ride the SAME two-level dk state as exact
    * percentile — the per-(group, value) refcounts ARE the group's value
    * multiset — so the fold is the unchanged signed row-counter machinery
    * (a value leaves the concat exactly when its last reference retracts)
    * and the slots own no aux columns. The visible pass rebuilds the
    * ordered result from the state's own rows: array_repeat(value,
    * refcount) per state row, collected, value-sorted (repeated arrays of
    * distinct values order lexicographically by their value), flattened,
    * then joined (listagg) or emitted as the array (collect_list).
    * Admission requires a listagg ordering, when present, to be BY THE
    * VALUE ITSELF — the one order derivable from a value-keyed histogram;
    * an unordered listagg / collect_list is documented nondeterministic in
    * Spark, and the fold emits the value-ascending instance (wrap
    * collect_list in sort_array for a deterministic face).
    * Reference surface: report-style string_agg/array_agg MVs reach the
    * engine through the SQL passthrough (`risingwave/core.py:161-212`,
    * execute/fetch) and the materialized-view path
    * (`risingwave/core.py:451-456`). */
  private val KindListAgg = 23
  private val KindListAggDesc = 24
  private val KindArrAgg = 25
  /** Insert-only HLL fold (round 13): `approx_count_distinct` MVs carry a
    * DataSketches HLL sketch per group — merge-only state, folded by
    * hll_union_agg over (carried ∪ insert-partials) — while the source
    * changelog stays insert-only; the FIRST statement-visible retraction
    * demotes the MV to touched-group recompute for good (a sketch cannot
    * subtract — RisingWave's own approx-distinct posture). The estimator
    * therefore switches from Spark's HyperLogLog++ (batch face) to
    * DataSketches HLL (maintained face); both honor the statement's rsd
    * (lgConfigK derived from relativeSD), and approx faces are
    * tolerance-contracted, not value-pinned.
    * Reference surface: approx_count_distinct MVs reach the engine
    * through the materialized-view passthrough
    * (`risingwave/core.py:451-456`); the insert-only-fold / demote
    * posture mirrors RisingWave's own non-retractable approx-distinct
    * handling. */
  private val KindHll = 26
  /** Ordered listagg by OTHER columns (round 14): `string_agg(v, d ORDER
    * BY o[, …])` — the everyday report shape the round-13 fold rejected —
    * keys the state by the composite (o…, v) tuple (the dk histogram
    * already carries multi-column keys) and the visible pass rebuilds by
    * sorting the repeat arrays on the FULL composite struct (structs
    * compare by field position, ordering columns first), then extracting
    * the value component after the sort. SortArray sorts whole structs in
    * one direction, so admission requires every ordering direction equal
    * with its default null ordering; ties in the ordering prefix emit
    * value-ordered — the deterministic instance of what Spark documents
    * as nondeterministic for tied WITHIN GROUP orderings. */
  private val KindListAggOrd = 27

  private def regrVariant(f: AggregateFunction): Int = f match {
    case _: RegrCount => 0
    case _: RegrAvgX => 1
    case _: RegrAvgY => 2
    case _: RegrSXY => 3
    case _: RegrSXX => 4
    case _: RegrSYY => 5
    case _: RegrSlope => 6
    case _: RegrIntercept => 7
    case _ => 8 // RegrR2
  }

  private def isStd(kind: Int): Boolean =
    kind == KindStdS || kind == KindStdP || kind == KindVarS || kind == KindVarP

  private def isCov(kind: Int): Boolean =
    kind == KindCorr || kind == KindCovS || kind == KindCovP ||
      kind == KindRegr

  /** State-key (__dk) columns a call contributes: its distinct children
    * (ALL of them for a multi-argument COUNT DISTINCT) or a percentile/
    * median's ordering child. Empty = the call owns plain aux slots. */
  private def dkChildrenOf(ae: AggregateExpression): Seq[Expression] =
    kindOf(ae) match {
      case KindCountD => ae.aggregateFunction.children
      case KindSumD | KindAvgD => Seq(ae.aggregateFunction.children.head)
      case KindPct => Seq(ae.aggregateFunction.children.head)
      case KindListAgg | KindListAggDesc =>
        Seq(ae.aggregateFunction.asInstanceOf[ListAgg].child)
      case KindListAggOrd =>
        // ordering children FIRST (struct field order = sort precedence),
        // the value child LAST
        val la = ae.aggregateFunction.asInstanceOf[ListAgg]
        la.orderExpressions.map(_.child) :+ la.child
      case KindArrAgg => Seq(ae.aggregateFunction.children.head)
      case _ => Nil
    }

  /** Kinds whose value columns live in the state KEY, not aux slots. */
  private def isDkKind(kind: Int): Boolean =
    kind == KindCountD || kind == KindSumD || kind == KindAvgD ||
      kind == KindPct || kind == KindListAgg || kind == KindListAggDesc ||
      kind == KindListAggOrd || kind == KindArrAgg

  private def isFloat(dt: DataType): Boolean =
    dt == DoubleType || dt == FloatType

  /** The integral column under the analyzer's to-double cast, when the
    * stddev/variance child admits the exact decimal-sum tier. */
  private def stdExactChild(e: Expression): Option[Expression] = e match {
    case c: Cast => c.child.dataType match {
      case ByteType | ShortType | IntegerType | LongType => Some(c.child)
      case _ => None
    }
    // regr_count keeps its integral children uncast (no double coercion)
    case _ if (e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }) => Some(e)
    case _ => None
  }

  private def kindOf(ae: AggregateExpression): Int =
    if (ae.isDistinct) ae.aggregateFunction match {
      case _: Sum => KindSumD
      case _: Average => KindAvgD
      // MIN/MAX(DISTINCT x) ≡ MIN/MAX(x): normalize to the plain
      // extremum slots (no reason to key the state by x for them; if
      // another call DOES key it, the dk-match below upgrades anyway)
      case _: Max => KindMax
      case _: Min => KindMin
      case _ => KindCountD
    }
    else ae.aggregateFunction match {
      case _: Percentile | _: Median => KindPct
      case la: ListAgg =>
        val byValue = la.orderExpressions.isEmpty ||
          (la.orderExpressions.size == 1 &&
            la.orderExpressions.head.child.semanticEquals(la.child))
        if (!byValue) KindListAggOrd
        else if (la.orderExpressions.exists(_.direction == Descending))
          KindListAggDesc
        else KindListAgg
      case _: CollectList => KindArrAgg
      case _: HyperLogLogPlusPlus => KindHll
      case _: Corr => KindCorr
      case _: CovSample => KindCovS
      case _: CovPopulation => KindCovP
      case _: RegrCount | _: RegrAvgX | _: RegrAvgY | _: RegrSXY |
           _: RegrSXX | _: RegrSYY | _: RegrSlope | _: RegrIntercept |
           _: RegrR2 => KindRegr
      // bool_and/bool_or ARE min/max over booleans (false < true) — the
      // extremum slots, including the retraction re-fetch, apply verbatim
      case _: BoolAnd => KindMin
      case _: BoolOr => KindMax
      case _: MaxBy => KindMaxBy
      case _: MinBy => KindMinBy
      case s: Sum if isFloat(s.child.dataType) => KindSumF
      case _: Sum => KindSum
      case av: Average if isFloat(av.child.dataType) => KindAvgF
      case _: Average => KindAvg
      case _: Max => KindMax
      case _: Min => KindMin
      case _: StddevSamp => KindStdS
      case _: StddevPop => KindStdP
      case _: VarianceSamp => KindVarS
      case _: VariancePop => KindVarP
      case _ => KindCount
    }

  final class Spec private[DeltaAgg](
      private[DeltaAgg] val keyOutNames: Seq[String],
      private[DeltaAgg] val auxNames: Seq[String],
      private[DeltaAgg] val visibleCols: Seq[Column],
      /** row-count aux column name (a group vanishes at 0) */
      private[DeltaAgg] val rowsCol: String,
      private[DeltaAgg] val slots: Seq[Slot],
      /** State-key columns carrying DISTINCT children values (round 12):
        * non-empty = the TWO-LEVEL tier. The carried aux state is keyed by
        * (grouping keys ++ distinct children) — the inner level of the
        * classic two-level COUNT(DISTINCT) rewrite — every slot folds at
        * that granularity with the unchanged signed machinery (a distinct
        * value's reference rides the inner rows counter and the (k, v)
        * row vanishes at zero), and [[visible]] aggregates the state by
        * the OUTER keys: COUNT(DISTINCT x) = Count over the state's
        * per-value rows. */
      private[DeltaAgg] val distinctKeyNames: Seq[String] = Nil,
      /** The same visible outputs as raw NamedExpressions — the two-level
        * [[visible]] builds its Aggregate from these directly (a Column →
        * Expression round-trip leaves a non-codegen ColumnNode wrapper). */
      private[DeltaAgg] val visibleExprs: Seq[NamedExpression] = Nil) {
    /** Output column names of the grouping keys (visible/outer keys). */
    def keys: Seq[String] = keyOutNames
    /** Granularity the carried state and the merge operate at. */
    def stateKeys: Seq[String] = keyOutNames ++ distinctKeyNames
    /** True when the state is inner-level (DISTINCT children in the key). */
    def isTwoLevel: Boolean = distinctKeyNames.nonEmpty
    /** True when the spec carries non-invertible (MIN/MAX) or
      * Kahan-compensated float slots — merged by the join path, which can
      * also re-fetch underflowed groups. Pure COUNT/SUM/decimal-AVG specs
      * keep the union+re-sum fast path. */
    private[DeltaAgg] def needJoinMerge: Boolean =
      slots.exists(s => s.kind == KindMax || s.kind == KindMin ||
        s.kind == KindMaxBy || s.kind == KindMinBy ||
        s.kind == KindSumF || s.kind == KindAvgF)
    /** Spec probe: whether any slot re-fetches on extremum retraction. */
    private[graft] def hasExtremum: Boolean =
      slots.exists(s => s.kind == KindMax || s.kind == KindMin ||
        s.kind == KindMaxBy || s.kind == KindMinBy)
    /** True when the spec carries a merge-only HLL sketch slot — the
      * caller must demote to recompute on the first statement-visible
      * retraction (a sketch cannot subtract). */
    private[graft] def hasHll: Boolean = slots.exists(_.kind == KindHll)
    /** True when every aux column folds by plain signed addition (no
      * extremum/float/sketch slots) — the admission of the aux
      * overlay's point fold, which reproduces the union+re-sum merge
      * exactly. */
    private[graft] def isPureSigned: Boolean = !needJoinMerge && !hasHll
    /** Sketch-valued aux columns: combined by hll_union_agg, never
      * negated or summed. */
    private[DeltaAgg] lazy val sketchCols: Set[String] =
      slots.collect { case s if s.kind == KindHll => s"__a${s.auxIdx}" }.toSet
    /** Sum-like aux value columns paired with their slot's non-NULL
      * counter: a NULL value while the counter is positive can ONLY mean
      * the Sum aggregate itself overflowed (non-ANSI decimal Sum returns
      * NULL past DECIMAL(38,…) — a single long² or x·y product is ~8.5e37,
      * so two or three large-magnitude rows overflow INSIDE the partial,
      * where [[checkedCast]] never sees it; the union+re-sum merge would
      * then skip the NULL partial and silently drop the epoch's
      * contribution). Every guarded site raises instead, aborting the fold
      * into the caller's recompute fallback. Float sums are exempt (double
      * overflow goes to ±Infinity, not NULL); COUNT and extremum slots
      * cannot overflow. */
    private[DeltaAgg] lazy val momentGuards: Map[String, String] =
      slots.flatMap { s =>
        val cnt = s"__a${s.cntIdx}"
        s.kind match {
          case KindSum | KindAvg => Seq(s"__a${s.auxIdx}" -> cnt)
          case k if isStd(k) =>
            Seq(s"__a${s.auxIdx}" -> cnt, s"__a${s.auxIdx + 1}" -> cnt)
          case k if isCov(k) =>
            (0 until s.width - 1).map(j => s"__a${s.auxIdx + j}" -> cnt)
          case _ => Nil
        }
      }.toMap
  }

  /** Finish a regr_* variant from the six raw co-moments: `n` is the
    * both-non-NULL pair counter, `m(j)` the j-th moment as a double
    * (0 = Σxy, 1 = Σy, 2 = Σx, 3 = Σy², 4 = Σx² — regr args are (y, x)).
    * Edge semantics mirror Spark's natives where they don't throw:
    * n = 0 → NULL (count → 0); zero x-variance → NULL slope/intercept/r²;
    * zero y-variance with x-variance present → r² = 1. Guards nest so no
    * moment divides before the n > 0 test (ANSI). */
  private def regrFinish(variant: Int, dt: DataType, n: Expression,
                         m: Int => Expression): Expression = {
    val nD = Cast(n, DoubleType)
    def guard(e: => Expression): Expression =
      If(GreaterThan(n, Literal(0L)), e, Literal(null, DoubleType))
    def ck = Subtract(m(0), Divide(Multiply(m(1), m(2)), nD))
    def sxx = Subtract(m(4), Divide(Multiply(m(2), m(2)), nD))
    def syy = Subtract(m(3), Divide(Multiply(m(1), m(1)), nD))
    variant match {
      case 0 => Cast(Coalesce(Seq(n, Literal(0L))), dt) // regr_count
      case 1 => guard(Divide(m(2), nD)) // regr_avgx
      case 2 => guard(Divide(m(1), nD)) // regr_avgy
      case 3 => guard(ck) // regr_sxy
      case 4 => guard(Greatest(Seq(sxx, Literal(0.0, DoubleType)))) // sxx
      case 5 => guard(Greatest(Seq(syy, Literal(0.0, DoubleType)))) // syy
      case 6 => guard(If(GreaterThan(sxx, Literal(0.0, DoubleType)),
        Divide(ck, sxx), Literal(null, DoubleType))) // regr_slope
      case 7 => guard(If(GreaterThan(sxx, Literal(0.0, DoubleType)),
        Divide(Subtract(m(1), Multiply(Divide(ck, sxx), m(2))), nD),
        Literal(null, DoubleType))) // regr_intercept
      case _ => guard(If(GreaterThan(sxx, Literal(0.0, DoubleType)),
        If(GreaterThan(syy, Literal(0.0, DoubleType)),
          Divide(Multiply(ck, ck), Multiply(sxx, syy)),
          Literal(1.0, DoubleType)),
        Literal(null, DoubleType))) // regr_r2
    }
  }

  private def isKeyOutput(a: Aggregate, ne: NamedExpression): Boolean = ne match {
    case ar: AttributeReference => a.groupingExpressions.exists(_.semanticEquals(ar))
    case al: Alias => a.groupingExpressions.exists(_.semanticEquals(al.child))
    case _ => false
  }

  /** Types with a total order both engines agree on — the MIN/MAX tier. */
  private def orderable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def admittedCall(ae: AggregateExpression, allowFloat: Boolean): Boolean =
    ae.mode == Complete &&
      // FILTER (WHERE …) admits on plain slots (round 12): the partial
      // and each derived helper (counter, sum-of-squares, ordering
      // extremum) inherit the predicate, so the signed fold sees only
      // passing rows. dk-keyed kinds reject with a filter: their
      // per-value refcounts ride the slot-agnostic row counter, which a
      // per-call predicate cannot restrict.
      ae.filter.forall(f => f.deterministic &&
        !(ae.isDistinct || isDkKind(kindOf(ae)))) &&
      ae.aggregateFunction.children.forall(_.deterministic) &&
      (if (ae.isDistinct)
        // COUNT/SUM/AVG(DISTINCT x) — the two-level tier keys the state by
        // x, so every distinct child must be groupable/orderable (COUNT
        // admits multi-argument calls: each child becomes a key column and
        // the visible re-count goes over the tuple); SUM/AVG stay in the
        // exact tier (integral/decimal child) since the visible re-sum
        // over distinct values has no Kahan spelling (round 12).
        // MIN/MAX(DISTINCT) ≡ MIN/MAX — normalized to the plain slots.
        ae.aggregateFunction match {
          case c: Count => c.children.nonEmpty &&
            c.children.forall(ch => orderable(ch.dataType))
          case s: Sum => s.child.dataType match {
            case ByteType | ShortType | IntegerType | LongType |
                 _: DecimalType => true
            case _ => false
          }
          case av: Average => av.child.dataType match {
            case ByteType | ShortType | IntegerType | LongType |
                 _: DecimalType => true
            case _ => false
          }
          case m: Max => orderable(m.child.dataType)
          case m: Min => orderable(m.child.dataType)
          case _ => false
        }
      else ae.aggregateFunction match {
        case _: Count => true
        // count_if is a count slot whose partial evaluates the predicate
        // (its runtime replacement is Count(nullif(pred, false)))
        case _: CountIf => true
        case _: BoolAnd | _: BoolOr => true // boolean extremum slots
        // max_by/min_by: the ordering child drives the extremum fold and
        // the retraction underflow test; the argument rides along. Both
        // stay in atomic orderable types so the carried state snapshots.
        // Tie semantics: Spark documents max_by/min_by as nondeterministic
        // when several rows share the extremum ordering value, and the
        // fold inherits that latitude — an insert TYING the carried
        // extremum keeps the carried argument (takeAdd compares strictly),
        // while a full recompute (batch, or the repair path) may pick
        // either row. Both faces are valid answers to the same statement;
        // they can durably differ only for tie-heavy data, and a
        // retraction touching the tied extremum re-fetches (restoring
        // whatever the recompute picks).
        case mb: MaxBy => orderable(mb.children(1).dataType) &&
          orderable(mb.children(0).dataType)
        case mb: MinBy => orderable(mb.children(1).dataType) &&
          orderable(mb.children(0).dataType)
        // exact percentile/median (round 12): the child becomes a state
        // key, so the carried state is the group's value histogram and
        // the visible pass re-runs Percentile frequency-weighted by the
        // state's row counter. Any numeric child is exact here — the
        // state holds values, not order-sensitive sums. The percentage
        // must fold (it re-binds verbatim in the visible pass) and the
        // frequency must be the parser's default 1 (a user-supplied
        // frequency column is not derivable from the histogram state).
        case p: Percentile =>
          p.child.dataType.isInstanceOf[NumericType] &&
            orderable(p.child.dataType) &&
            p.percentageExpression.foldable && !p.reverse &&
            (p.frequencyExpression match {
              case Literal(v, ByteType | ShortType | IntegerType | LongType) =>
                v != null && v.toString == "1"
              case _ => false
            })
        case m: Median =>
          m.child.dataType.isInstanceOf[NumericType] &&
            orderable(m.child.dataType)
        // string_agg/listagg: the dk histogram rebuilds the concat, so the
        // ordering (when present) must be by the value itself — the one
        // order the value-keyed state can reproduce; the delimiter must
        // fold (it re-binds verbatim in the visible finish). Unordered
        // listagg is documented nondeterministic — the fold emits the
        // value-ascending instance.
        case la: ListAgg =>
          la.child.dataType == StringType && la.delimiter.foldable &&
            (la.orderExpressions.isEmpty ||
              (la.orderExpressions.size == 1 &&
                la.orderExpressions.head.child.semanticEquals(la.child)) ||
              // ordered by OTHER columns (round 14): each ordering child
              // becomes a state-key column and the rebuild sorts structs
              // of (ordkeys…, value) in ONE direction — so every
              // direction must agree, at its default null ordering
              // (struct comparison has no per-field spelling), over
              // state-keyable deterministic children
              la.orderExpressions.forall(so =>
                so.child.deterministic && orderable(so.child.dataType) &&
                  so.direction == la.orderExpressions.head.direction &&
                  so.nullOrdering == so.direction.defaultNullOrdering))
        // array_agg/collect_list: documented nondeterministic order — the
        // fold emits the value-ascending instance (wrap in sort_array for
        // a deterministic face); the element must be a state-keyable type
        case cl: CollectList => orderable(cl.child.dataType)
        // approx_count_distinct: merge-only DataSketches HLL state while
        // the changelog stays insert-only (foldAux demotes on the first
        // retraction); child types are HllSketchAgg's input envelope
        case h: HyperLogLogPlusPlus => h.child.dataType match {
          case IntegerType | LongType | StringType => true
          case _ => false
        }
        case s: Sum => s.child.dataType match {
          case ByteType | ShortType | IntegerType | LongType | _: DecimalType => true
          // float tier: Kahan-compensated fold behind the opt-in flag
          case DoubleType | FloatType => allowFloat
          case _ => false
        }
        // AVG over decimal: its sum buffer is decimal (exact under
        // re-association). AVG over integrals (round 11): Spark's own
        // buffer is a DOUBLE sum (order-sensitive rounding), but the fold
        // does BETTER — the aux slot carries Sum(child), which is an exact
        // LONG for integral inputs, and the visible value re-binds
        // Average.evaluateExpression to that exact sum (one cast + one
        // divide at the output boundary; an exact long sum that overflows
        // 2⁶³ is outside the admitted envelope, same stance as the decimal
        // tier's overflow guard). Float AVG folds only in the tolerance
        // tier (no exact spelling exists).
        case av: Average => av.child.dataType match {
          case _: DecimalType => true
          case ByteType | ShortType | IntegerType | LongType => true
          case DoubleType | FloatType => allowFloat
          case _ => false
        }
        case m: Max => orderable(m.child.dataType)
        case m: Min => orderable(m.child.dataType)
        // stddev/variance: exact tier for integral-under-cast children,
        // tolerance tier (plain double sums) behind the float flag
        case sd: StddevSamp => allowFloat || stdExactChild(sd.child).nonEmpty
        case sd: StddevPop => allowFloat || stdExactChild(sd.child).nonEmpty
        case sd: VarianceSamp => allowFloat || stdExactChild(sd.child).nonEmpty
        case sd: VariancePop => allowFloat || stdExactChild(sd.child).nonEmpty
        // bivariate stats (corr/covar/regr_* family): both children must
        // be exact (integral-under-cast) or the float gate open
        case cv if kindOf(ae) == KindCorr || kindOf(ae) == KindCovS ||
            kindOf(ae) == KindCovP || kindOf(ae) == KindRegr =>
          allowFloat || (stdExactChild(cv.children(0)).nonEmpty &&
            stdExactChild(cv.children(1)).nonEmpty)
        case _ => false
      })

  /** Aggregate calls in deterministic traversal order — identical for the
    * original and a re-targeted analysis of the same statement text. */
  private def calls(a: Aggregate): Seq[AggregateExpression] =
    a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })

  /** Admit `analyzed` (the ORIGINAL statement's plan) and build the spec.
    * None = not decomposable; caller keeps recompute mode. */
  def admit(analyzed: LogicalPlan, allowFloat: Boolean = false): Option[Spec] = analyzed match {
    case a: Aggregate =>
      val cs = calls(a)
      // cs.isEmpty = a keys-only aggregate (SELECT DISTINCT spelled as
      // GROUP BY): the fold carries just the group row counter — a group
      // appears at count > 0 and vanishes at 0, which IS distinct
      // maintenance. The visibility mapping below still requires every
      // output to be a grouping key.
      if (!cs.forall(admittedCall(_, allowFloat))) return None
      // the two-level tier folds every slot at (keys ++ dk children)
      // granularity — exact for COUNT/SUM/AVG/MIN/MAX/stddev (the stddev
      // visible pass re-sums its per-inner exact partials), but a Kahan
      // float fold re-summed at visible time loses its compensation, so
      // the float tier does not compose with dk-keyed state
      val needTwoLevel = cs.exists(ae => dkChildrenOf(ae).nonEmpty)
      if (needTwoLevel && cs.exists(ae => {
        val k = kindOf(ae); k == KindSumF || k == KindAvgF }))
        return None
      // slot layout, by traversal order; dk children (DISTINCT children,
      // percentile ordering children) dedupe semantically into shared
      // state-key columns (pass 1 collects them BEFORE slot assignment so
      // a MIN/MAX preceding its matching dk call still becomes dk-backed)
      var next = 0
      var dkChildren = Seq.empty[Expression]
      def dkIndexOf(c: Expression): Int = {
        val i = dkChildren.indexWhere(_.semanticEquals(c))
        if (i >= 0) i else { dkChildren :+= c; dkChildren.size - 1 }
      }
      cs.foreach(ae => dkChildrenOf(ae).foreach(dkIndexOf))
      // more than one dk child: state rows are (keys, a, b, …) tuples, so
      // every dk-derived visible DISTINCT aggregate must itself be
      // DISTINCT over its own column(s) — a plain Count/Sum would tally
      // one value once per combination with the OTHER children's values.
      // (Percentile is immune: its frequency weighting sums the row
      // counter across the other children's combinations, which is
      // exactly the value's total multiplicity.)
      val multiDk = dkChildren.size > 1
      val slotByCall = new java.util.IdentityHashMap[AggregateExpression, Slot]()
      val slots = cs.map { ae =>
        val kind0 = kindOf(ae)
        // a FILTERed extremum must keep its own (filtered) aux pair — the
        // dk histogram column is unfiltered
        val dkMatch =
          if ((kind0 == KindMax || kind0 == KindMin) && ae.filter.isEmpty)
            dkChildren.indexWhere(
              _.semanticEquals(ae.aggregateFunction.children.head))
          else -1
        val slot = kind0 match {
          case KindCountD | KindSumD | KindAvgD | KindPct =>
            Slot(next, kind0, dkIndexOf(ae.aggregateFunction.children.head))
          case KindListAgg | KindListAggDesc | KindArrAgg =>
            Slot(next, kind0, dkIndexOf(dkChildrenOf(ae).head))
          // the slot's dkIdx names the VALUE column (dk children list the
          // ordering columns first); the rebuild re-derives the ordering
          // columns' indices from the call itself
          case KindListAggOrd =>
            Slot(next, kind0, dkIndexOf(dkChildrenOf(ae).last))
          case KindMax if dkMatch >= 0 => Slot(next, KindMaxD, dkMatch)
          case KindMin if dkMatch >= 0 => Slot(next, KindMinD, dkMatch)
          // regr_* variant rides the otherwise-unused dkIdx field
          case KindRegr =>
            Slot(next, KindRegr, regrVariant(ae.aggregateFunction))
          case _ => Slot(next, kind0)
        }
        slotByCall.put(ae, slot)
        next += slot.width
        slot
      }
      // the HLL sketch slot composes with neither the two-level tier (the
      // dk state already holds exact distinct values — an approx sketch
      // alongside it would be strictly worse) nor the join-merge path (no
      // sketch arithmetic there); such statements keep recompute mode
      if (slots.exists(_.kind == KindHll) &&
          (needTwoLevel || slots.exists(s =>
            s.kind == KindMax || s.kind == KindMin || s.kind == KindMaxBy ||
              s.kind == KindMinBy || s.kind == KindSumF || s.kind == KindAvgF)))
        return None
      val distinctKeyNames = dkChildren.indices.map(i => s"__dk$i")
      val auxNames = slots.flatMap { s =>
        (0 until s.width).map(j => s"__a${s.auxIdx + j}")
      } :+ RowsCol
      // visible mapping: key outputs pass through; everything else
      // re-evaluates over the derived aggregate values (unresolved
      // attribute references bind against the aux state frame)
      val keyNames = a.aggregateExpressions.filter(isKeyOutput(a, _)).map(_.name)
      // every grouping expression must surface as an output key — a
      // grouping column the output drops (e.g. a ROLLUP/CUBE plan's
      // spark_grouping_id) would make the aux frame emit several state
      // rows per visible key and the merge would collapse distinct inner
      // groups (a rollup subtotal with the base group it shadows)
      if (!a.groupingExpressions.forall(g => a.aggregateExpressions.exists {
        case ar: AttributeReference => g.semanticEquals(ar)
        case al: Alias => g.semanticEquals(al.child)
        case _ => false
      })) return None
      val keyForAttr: Map[Long, String] = a.aggregateExpressions.collect {
        case ar: AttributeReference => ar.exprId.id -> ar.name
        case al: Alias => al.child match {
          case ar: AttributeReference => ar.exprId.id -> al.name
          case _ => -1L -> al.name
        }
      }.filter(_._1 >= 0).toMap
      var ok = true
      // outer aggregate wrapper for the two-level regime's visible pass
      def aggE(f: AggregateFunction, distinct: Boolean = false): Expression =
        AggregateExpression(f, Complete, isDistinct = distinct, None,
          NamedExpression.newExprId)
      val visNamed: Seq[NamedExpression] = a.aggregateExpressions.map { ne =>
        if (isKeyOutput(a, ne)) UnresolvedAttribute.quoted(ne.name)
        else {
          val derived = ne.transform {
            case ae: AggregateExpression if slotByCall.containsKey(ae) &&
                needTwoLevel =>
              // TWO-LEVEL visible derivations: the state row is one INNER
              // group (outer keys ++ dk values), so every slot
              // re-aggregates its per-inner partials by the outer keys —
              // exact for this tier's admitted kinds (sum of sums, max of
              // maxes; the non-NULL counters re-sum for NULL discipline)
              val s = slotByCall.get(ae)
              def sumOf(c: String): Expression =
                aggE(Sum(UnresolvedAttribute(c)))
              s.kind match {
                case KindCountD =>
                  // state rows are unique per (keys, values): counting the
                  // value column(s) counts each distinct non-NULL tuple
                  // once (DISTINCT again when OTHER dk children multiply
                  // rows; multi-argument COUNT counts its own tuple)
                  val dks = ae.aggregateFunction.children.map(c =>
                    UnresolvedAttribute(s"__dk${dkIndexOf(c)}"): Expression)
                  aggE(Count(dks), distinct = multiDk)
                case KindSumD =>
                  // Sum over the per-value rows = sum of distinct values;
                  // NULL falls out (Sum of an empty/all-NULL column)
                  Cast(aggE(Sum(UnresolvedAttribute(s"__dk${s.dkIdx}")),
                    distinct = multiDk), ae.dataType)
                case KindAvgD =>
                  val av = ae.aggregateFunction.asInstanceOf[Average]
                  val dk = s"__dk${s.dkIdx}"
                  av.evaluateExpression.transform {
                    case attr: AttributeReference if attr.exprId == av.sum.exprId =>
                      Cast(aggE(Sum(UnresolvedAttribute(dk)),
                        distinct = multiDk), av.sum.dataType)
                    case attr: AttributeReference if attr.exprId == av.count.exprId =>
                      aggE(Count(Seq(UnresolvedAttribute(dk))),
                        distinct = multiDk)
                  }
                case KindPct =>
                  // the state is the value histogram: re-run Spark's own
                  // Percentile over the per-value rows with the refcount
                  // as frequency — frequency sums across other dk
                  // children's combinations, reproducing each value's
                  // exact multiplicity; NULL values sit in the NULL inner
                  // group, which Percentile ignores
                  val dk = UnresolvedAttribute(s"__dk${s.dkIdx}")
                  val freq = UnresolvedAttribute(RowsCol)
                  val pct = ae.aggregateFunction match {
                    case p: Percentile =>
                      new Percentile(dk, p.percentageExpression, freq)
                    case _ =>
                      new Percentile(dk, Literal(0.5, DoubleType), freq)
                  }
                  Cast(aggE(pct), ae.dataType)
                case KindMaxD => // extremum over the state's own key column
                  aggE(Max(UnresolvedAttribute(s"__dk${s.dkIdx}")))
                case KindMinD =>
                  aggE(Min(UnresolvedAttribute(s"__dk${s.dkIdx}")))
                case KindListAgg | KindListAggDesc | KindArrAgg =>
                  // rebuild the ordered multiset from the histogram state:
                  // each state row contributes its value repeated refcount
                  // times; repeated arrays of DISTINCT values order
                  // lexicographically by their value, so sort_array over
                  // the collected per-row arrays + flatten IS the
                  // value-ordered multiset. NULL values sit in
                  // filter-skipped state rows (both aggregates drop NULL
                  // inputs); the refcount sums across OTHER dk children's
                  // combinations because equal-valued rows each contribute
                  // their own repeat array.
                  val dk = UnresolvedAttribute(s"__dk${s.dkIdx}")
                  val rep = ArrayRepeat(KnownNotNull(dk),
                    Cast(UnresolvedAttribute(RowsCol), IntegerType))
                  val collected = AggregateExpression(
                    CollectList(rep), Complete, isDistinct = false,
                    Some(IsNotNull(dk)), NamedExpression.newExprId)
                  val ordered = Flatten(SortArray(collected,
                    Literal(s.kind != KindListAggDesc)))
                  if (s.kind == KindArrAgg) ordered
                  else {
                    val la = ae.aggregateFunction.asInstanceOf[ListAgg]
                    val delim = Coalesce(Seq(
                      Cast(la.delimiter, StringType), Literal("")))
                    val nonNull = aggE(Count(Seq(dk)))
                    If(GreaterThan(nonNull, Literal(0L)),
                      ArrayJoin(ordered, delim, None),
                      Literal(null, ae.dataType))
                  }
                case KindListAggOrd =>
                  // ordered-by-other-columns listagg (round 14): the state
                  // key carries the composite (ordkeys…, value) tuple, so
                  // the repeat arrays hold structs — the outer sort orders
                  // by the ordering columns first (structs compare by
                  // field position) and the value components are extracted
                  // AFTER the sort. One direction for the whole struct
                  // (admission pinned all directions equal); a NULL
                  // ordkey field sorts where the direction's default null
                  // ordering puts it (struct comparison: null first
                  // ascending, last descending). NULL values drop via the
                  // collect filter, exactly like the value-ordered kinds.
                  val la = ae.aggregateFunction.asInstanceOf[ListAgg]
                  val dk = UnresolvedAttribute(s"__dk${s.dkIdx}")
                  val structFields: Seq[Expression] =
                    la.orderExpressions.zipWithIndex.flatMap { case (so, i) =>
                      Seq(Literal(s"o$i"),
                        UnresolvedAttribute(s"__dk${dkIndexOf(so.child)}"))
                    } ++ Seq(Literal("v"), KnownNotNull(dk))
                  val rep = ArrayRepeat(CreateNamedStruct(structFields),
                    Cast(UnresolvedAttribute(RowsCol), IntegerType))
                  val collected = AggregateExpression(
                    CollectList(rep), Complete, isDistinct = false,
                    Some(IsNotNull(dk)), NamedExpression.newExprId)
                  val asc = la.orderExpressions.head.direction != Descending
                  val x = UnresolvedNamedLambdaVariable(Seq("x"))
                  val ordered = ArrayTransform(
                    Flatten(SortArray(collected, Literal(asc))),
                    LambdaFunction(UnresolvedExtractValue(x, Literal("v")),
                      Seq(x)))
                  val delim = Coalesce(Seq(
                    Cast(la.delimiter, StringType), Literal("")))
                  val nonNull = aggE(Count(Seq(dk)))
                  If(GreaterThan(nonNull, Literal(0L)),
                    ArrayJoin(ordered, delim, None),
                    Literal(null, ae.dataType))
                case KindCount =>
                  Coalesce(Seq(sumOf(s"__a${s.auxIdx}"), Literal(0L)))
                case KindSum =>
                  If(GreaterThan(Coalesce(Seq(sumOf(s"__a${s.cntIdx}"), Literal(0L))),
                      Literal(0L)),
                    Cast(sumOf(s"__a${s.auxIdx}"), ae.dataType),
                    Literal(null, ae.dataType))
                case KindAvg =>
                  val av = ae.aggregateFunction.asInstanceOf[Average]
                  av.evaluateExpression.transform {
                    case attr: AttributeReference if attr.exprId == av.sum.exprId =>
                      Cast(sumOf(s"__a${s.auxIdx}"), av.sum.dataType)
                    case attr: AttributeReference if attr.exprId == av.count.exprId =>
                      Cast(sumOf(s"__a${s.cntIdx}"), av.count.dataType)
                  }
                case k if isStd(k) =>
                  // stddev/variance re-aggregate exactly: per-inner
                  // [S₂, S₁, n] partials are plain (decimal-exact) sums,
                  // so summing them across inner groups reproduces the
                  // outer group's moments; same finish as the flat tier
                  val n = Coalesce(Seq(sumOf(s"__a${s.cntIdx}"), Literal(0L)))
                  val nD = Cast(n, DoubleType)
                  val s2 = Cast(sumOf(s"__a${s.auxIdx}"), DoubleType)
                  val s1 = Cast(sumOf(s"__a${s.auxIdx + 1}"), DoubleType)
                  val m2 = Greatest(Seq(
                    Subtract(s2, Divide(Multiply(s1, s1), nD)),
                    Literal(0.0, DoubleType)))
                  val samp = k == KindStdS || k == KindVarS
                  val variance = Divide(m2,
                    if (samp) Subtract(nD, Literal(1.0, DoubleType)) else nD)
                  val value =
                    if (k == KindStdS || k == KindStdP) Sqrt(variance)
                    else variance
                  If(GreaterThan(n, Literal(if (samp) 1L else 0L)),
                    value, Literal(null, DoubleType))
                case KindRegr =>
                  regrFinish(s.dkIdx, ae.dataType,
                    Coalesce(Seq(sumOf(s"__a${s.cntIdx}"), Literal(0L))),
                    j => Cast(sumOf(s"__a${s.auxIdx + j}"), DoubleType))
                case k if isCov(k) =>
                  // per-inner co-moments re-sum exactly across the state
                  val n = Coalesce(Seq(sumOf(s"__a${s.cntIdx}"), Literal(0L)))
                  val nD = Cast(n, DoubleType)
                  def m(j: Int) =
                    Cast(sumOf(s"__a${s.auxIdx + j}"), DoubleType)
                  val ck = Subtract(m(0), Divide(Multiply(m(1), m(2)), nD))
                  k match {
                    case KindCovP =>
                      If(GreaterThan(n, Literal(0L)), Divide(ck, nD),
                        Literal(null, DoubleType))
                    case KindCovS =>
                      If(GreaterThan(n, Literal(1L)),
                        Divide(ck, Subtract(nD, Literal(1.0, DoubleType))),
                        Literal(null, DoubleType))
                    case _ =>
                      val mx = Greatest(Seq(Subtract(m(3),
                        Divide(Multiply(m(1), m(1)), nD)),
                        Literal(0.0, DoubleType)))
                      val my = Greatest(Seq(Subtract(m(4),
                        Divide(Multiply(m(2), m(2)), nD)),
                        Literal(0.0, DoubleType)))
                      val div = Sqrt(Multiply(mx, my))
                      // nested guards: div's own moments divide by n, so
                      // they must not evaluate when n = 0 (ANSI throws)
                      If(GreaterThan(n, Literal(0L)),
                        If(GreaterThan(div, Literal(0.0, DoubleType)),
                          Divide(ck, div), Literal(null, DoubleType)),
                        Literal(null, DoubleType))
                  }
                case KindMax =>
                  If(GreaterThan(Coalesce(Seq(sumOf(s"__a${s.cntIdx}"), Literal(0L))),
                      Literal(0L)),
                    aggE(Max(UnresolvedAttribute(s"__a${s.auxIdx}"))),
                    Literal(null, ae.dataType))
                case KindMaxBy | KindMinBy =>
                  // per-inner [arg, ord] pairs re-compete across the
                  // outer group with the same max_by/min_by semantics
                  val arg = UnresolvedAttribute(s"__a${s.auxIdx}")
                  val ord = UnresolvedAttribute(s"__a${s.auxIdx + 1}")
                  val f: AggregateFunction =
                    if (s.kind == KindMaxBy) MaxBy(arg, ord)
                    else MinBy(arg, ord)
                  If(GreaterThan(Coalesce(Seq(sumOf(s"__a${s.cntIdx}"), Literal(0L))),
                      Literal(0L)),
                    aggE(f), Literal(null, ae.dataType))
                case _ => // KindMin (floats rejected above)
                  If(GreaterThan(Coalesce(Seq(sumOf(s"__a${s.cntIdx}"), Literal(0L))),
                      Literal(0L)),
                    aggE(Min(UnresolvedAttribute(s"__a${s.auxIdx}"))),
                    Literal(null, ae.dataType))
              }
            case ae: AggregateExpression if slotByCall.containsKey(ae) =>
              val s = slotByCall.get(ae)
              s.kind match {
                case k if isStd(k) =>
                  // finish from [S₂, S₁, n]: m₂ = S₂ − S₁²/n in double,
                  // clamped at 0 (cancellation epsilon must not reach
                  // sqrt); NULL below the ddof threshold — n==0 for pop,
                  // n<=1 for samp — matching Spark's defaults
                  val n = UnresolvedAttribute(s"__a${s.cntIdx}")
                  val nD = Cast(n, DoubleType)
                  val s2 = Cast(UnresolvedAttribute(s"__a${s.auxIdx}"), DoubleType)
                  val s1 = Cast(UnresolvedAttribute(s"__a${s.auxIdx + 1}"), DoubleType)
                  val m2 = Greatest(Seq(
                    Subtract(s2, Divide(Multiply(s1, s1), nD)),
                    Literal(0.0, DoubleType)))
                  val samp = k == KindStdS || k == KindVarS
                  val variance = Divide(m2,
                    if (samp) Subtract(nD, Literal(1.0, DoubleType)) else nD)
                  val value =
                    if (k == KindStdS || k == KindStdP) Sqrt(variance)
                    else variance
                  If(GreaterThan(n, Literal(if (samp) 1L else 0L)),
                    value, Literal(null, DoubleType))
                case KindSum | KindSumF | KindMax | KindMin |
                     KindMaxBy | KindMinBy =>
                  // value slots surface NULL exactly when the group has no
                  // non-NULL inputs — the paired counter decides
                  If(GreaterThan(UnresolvedAttribute(s"__a${s.cntIdx}"), Literal(0L)),
                    UnresolvedAttribute(s"__a${s.auxIdx}"),
                    Literal(null, ae.dataType))
                case KindRegr =>
                  regrFinish(s.dkIdx, ae.dataType,
                    UnresolvedAttribute(s"__a${s.cntIdx}"),
                    j => Cast(UnresolvedAttribute(s"__a${s.auxIdx + j}"),
                      DoubleType))
                case k if isCov(k) =>
                  // finish from the raw co-moments; divide-by-zero → NULL
                  // (Spark's default nullOnDivideByZero stance)
                  val n = UnresolvedAttribute(s"__a${s.cntIdx}")
                  val nD = Cast(n, DoubleType)
                  def m(j: Int) =
                    Cast(UnresolvedAttribute(s"__a${s.auxIdx + j}"), DoubleType)
                  val ck = Subtract(m(0), Divide(Multiply(m(1), m(2)), nD))
                  k match {
                    case KindCovP =>
                      If(GreaterThan(n, Literal(0L)), Divide(ck, nD),
                        Literal(null, DoubleType))
                    case KindCovS =>
                      If(GreaterThan(n, Literal(1L)),
                        Divide(ck, Subtract(nD, Literal(1.0, DoubleType))),
                        Literal(null, DoubleType))
                    case _ => // corr
                      val mx = Greatest(Seq(Subtract(m(3),
                        Divide(Multiply(m(1), m(1)), nD)),
                        Literal(0.0, DoubleType)))
                      val my = Greatest(Seq(Subtract(m(4),
                        Divide(Multiply(m(2), m(2)), nD)),
                        Literal(0.0, DoubleType)))
                      val div = Sqrt(Multiply(mx, my))
                      // nested guards: div's own moments divide by n, so
                      // they must not evaluate when n = 0 (ANSI throws)
                      If(GreaterThan(n, Literal(0L)),
                        If(GreaterThan(div, Literal(0.0, DoubleType)),
                          Divide(ck, div), Literal(null, DoubleType)),
                        Literal(null, DoubleType))
                  }
                case KindAvg | KindAvgF =>
                  // Spark's own finish expression, re-bound to the aux
                  // sum/count columns (their types equal the avg buffer
                  // types, so re-analysis reproduces identical semantics)
                  val av = ae.aggregateFunction.asInstanceOf[Average]
                  av.evaluateExpression.transform {
                    case attr: AttributeReference if attr.exprId == av.sum.exprId =>
                      UnresolvedAttribute(s"__a${s.auxIdx}")
                    case attr: AttributeReference if attr.exprId == av.count.exprId =>
                      UnresolvedAttribute(s"__a${s.cntIdx}")
                  }
                case KindHll =>
                  // estimate at the visible boundary; an empty/absent
                  // sketch surfaces 0 — approx_count_distinct never NULLs
                  Cast(Coalesce(Seq(
                    HllSketchEstimate(UnresolvedAttribute(s"__a${s.auxIdx}")),
                    Literal(0L))), ae.dataType)
                case _ => UnresolvedAttribute(s"__a${s.auxIdx}")
              }
            case ar: AttributeReference =>
              keyForAttr.get(ar.exprId.id) match {
                case Some(n) => UnresolvedAttribute(n)
                case None =>
                  // a non-key, non-aggregate leaf (e.g. an expression key's
                  // raw column reappearing in a compound output) — the
                  // value is not derivable from aux state
                  ok = false; ar
              }
          }
          derived match {
            case n: NamedExpression => n
            case e => Alias(e, ne.name)()
          }
        }
      }
      if (!ok) None
      else Some(new Spec(keyNames, auxNames,
        visNamed.map(GraftColumnBridge.column), RowsCol, slots,
        distinctKeyNames, visNamed))
    case _ => None
  }

  private val RowsCol = "__g_rows"
  private val UfCol = "__g_uf"

  /** Auxiliary partial-aggregate frame over an analysis of the (possibly
    * delta-re-targeted) statement: same grouping, same key outputs, the
    * slot-layout columns per admitted call, plus the group row counter. */
  def aux(spark: SparkSession, spec: Spec, analyzed: LogicalPlan): DataFrame = {
    val a = analyzed.collectFirst { case ag: Aggregate => ag }.get
    val cs = calls(a)
    var next = 0
    // two-level tier: DISTINCT children (deduped in the SAME traversal
    // order as admit — the re-targeted plan of the same statement text
    // yields the same structure) join the grouping, so partials arrive at
    // state granularity and every other slot computes per inner group
    var dkChildren = Seq.empty[Expression]
    def dkIndexOf(c: Expression): Int = {
      val i = dkChildren.indexWhere(_.semanticEquals(c))
      if (i >= 0) i else { dkChildren :+= c; dkChildren.size - 1 }
    }
    cs.foreach(ae => dkChildrenOf(ae).foreach(dkIndexOf))
    val auxExprs: Seq[NamedExpression] = cs.flatMap { ae =>
      val kind0 = kindOf(ae)
      // dk-backed extremum: same detection as admit (pass 1 above filled
      // the dk list, so ordering cannot change the outcome); FILTERed
      // extrema keep their own aux pair like admit
      val kind =
        if ((kind0 == KindMax || kind0 == KindMin) && ae.filter.isEmpty &&
            dkChildren.exists(
              _.semanticEquals(ae.aggregateFunction.children.head)))
          (if (kind0 == KindMax) KindMaxD else KindMinD)
        else kind0
      val base = next
      val width = Slot(base, kind).width
      next += width
      // every derived helper inherits the call's own FILTER predicate —
      // the aux state must see exactly the rows the visible call sees
      def cnt(child: Expression, idx: Int): NamedExpression =
        Alias(AggregateExpression(Count(Seq(child)), Complete, isDistinct = false,
          ae.filter, NamedExpression.newExprId), s"__a$idx")()
      val child = ae.aggregateFunction.children.headOption.getOrElse(Literal(1))
      def sumOf(e: Expression, idx: Int): NamedExpression =
        Alias(AggregateExpression(Sum(e), Complete, isDistinct = false,
          ae.filter, NamedExpression.newExprId), s"__a$idx")()
      kind match {
        case KindCountD | KindMaxD | KindMinD | KindSumD | KindAvgD |
             KindPct | KindListAgg | KindListAggDesc | KindListAggOrd |
             KindArrAgg =>
          Seq.empty
        case k if isStd(k) =>
          // [sum-of-squares, sum, nonNullCnt] — exact decimal sums for an
          // integral-under-cast child (a long² always fits DECIMAL(38,0)),
          // plain double sums in the tolerance tier
          stdExactChild(child) match {
            case Some(c) =>
              val dec = Cast(c, DecimalType(38, 0))
              Seq(sumOf(Multiply(dec, dec), base),
                sumOf(dec, base + 1), cnt(child, base + 2))
            case None =>
              Seq(sumOf(Multiply(child, child), base),
                sumOf(child, base + 1), cnt(child, base + 2))
          }
        case KindSum | KindMax | KindMin =>
          Seq(Alias(ae, s"__a$base")(), cnt(child, base + 1))
        case KindMaxBy | KindMinBy =>
          // [argument at the extremum, extremum ordering value,
          //  non-NULL ordering counter] — rows with a NULL ordering value
          // are invisible to max_by, so the counter tracks the ordering
          val ord = ae.aggregateFunction.children(1)
          val ext: AggregateFunction =
            if (kind == KindMaxBy) Max(ord) else Min(ord)
          Seq(Alias(ae, s"__a$base")(),
            Alias(AggregateExpression(ext, Complete, isDistinct = false,
              ae.filter, NamedExpression.newExprId), s"__a${base + 1}")(),
            cnt(ord, base + 2))
        case KindAvg =>
          // the avg folds as its (decimal-exact) sum + non-null count
          Seq(
            Alias(AggregateExpression(Sum(child), Complete, isDistinct = false,
              ae.filter, NamedExpression.newExprId), s"__a$base")(),
            cnt(child, base + 1))
        case KindSumF | KindAvgF =>
          // [sum, kahan compensation (0 for a fresh partial), nonNullCnt]
          Seq(
            Alias(AggregateExpression(Sum(child), Complete, isDistinct = false,
              ae.filter, NamedExpression.newExprId), s"__a$base")(),
            Alias(Literal(0.0, DoubleType), s"__a${base + 1}")(),
            cnt(child, base + 2))
        case KindHll =>
          // merge-only sketch partial: lgConfigK from the statement's rsd
          // (HLL++'s precision is p = ceil(2·log₂(1.106/rsd)); DataSketches
          // clamps to [4, 21]) so a user-tightened approx keeps its bound
          val h = ae.aggregateFunction.asInstanceOf[HyperLogLogPlusPlus]
          val lgK = math.min(21, math.max(4, math.ceil(
            2.0 * math.log(1.106 / h.relativeSD) / math.log(2.0)).toInt))
          Seq(Alias(AggregateExpression(HllSketchAgg(child, Literal(lgK)),
            Complete, isDistinct = false, ae.filter,
            NamedExpression.newExprId), s"__a$base")())
        case k if isCov(k) =>
          // [Σxy, Σx, Σy, (Σx², Σy²,) n-both-non-null]: the pairwise
          // product NULLs itself when either side is NULL; the
          // single-variable sums and squares gate explicitly so every
          // moment sees exactly the rows the visible call sees
          val cx = ae.aggregateFunction.children(0)
          val cy = ae.aggregateFunction.children(1)
          val (gx, gy) = (stdExactChild(cx), stdExactChild(cy)) match {
            case (Some(ex), Some(ey)) =>
              (Cast(ex, DecimalType(38, 0)): Expression,
               Cast(ey, DecimalType(38, 0)): Expression)
            case _ => (cx, cy)
          }
          val eitherNull = Or(IsNull(cx), IsNull(cy))
          def gate(e: Expression): Expression =
            If(eitherNull, Literal(null, e.dataType), e)
          def pairCnt(idx: Int): NamedExpression =
            Alias(AggregateExpression(Count(Seq(cx, cy)), Complete,
              isDistinct = false, ae.filter, NamedExpression.newExprId),
              s"__a$idx")()
          val headCols = Seq(
            sumOf(Multiply(gx, gy), base),
            sumOf(gate(gx), base + 1),
            sumOf(gate(gy), base + 2))
          if (k == KindCorr || k == KindRegr)
            headCols ++ Seq(sumOf(gate(Multiply(gx, gx)), base + 3),
              sumOf(gate(Multiply(gy, gy)), base + 4), pairCnt(base + 5))
          else headCols :+ pairCnt(base + 3)
        case _ => Seq(Alias(ae, s"__a$base")())
      }
    } :+ Alias(AggregateExpression(Count(Seq(Literal(1))), Complete,
      isDistinct = false, None, NamedExpression.newExprId), RowsCol)()
    val keyOuts = a.aggregateExpressions.filter(isKeyOutput(a, _))
    val dkOuts = dkChildren.zipWithIndex.map { case (c, i) =>
      Alias(c, s"__dk$i")() }
    val frame = GraftColumnBridge.ofRows(spark,
      Aggregate(a.groupingExpressions ++ dkChildren,
        keyOuts ++ dkOuts ++ auxExprs, a.child))
    guardMoments(frame, spec)
  }

  /** Pin an all-LocalRelation-leaf plan to one partition so aggregations
    * above plan exchange-free (round 15) — the Mv.pinLocal1 discipline;
    * any distributed leaf (the at-scale path) keeps its plan. */
  private def pinLocal1(df: DataFrame): DataFrame = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    if (leaves.nonEmpty && leaves.forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
      df.coalesce(1)
    else df
  }

  /** Sign-negate a retraction partial for the union+re-sum fast path.
    * Sketch columns pass through un-negated (binary has no −1 product);
    * the caller's insert-only contract for HLL specs guarantees the DEL
    * side is empty whenever a sketch column is present. */
  private def negateAux(df: DataFrame, spec: Spec): DataFrame =
    df.select(spec.stateKeys.map(col) ++ spec.auxNames.map { c =>
      (if (spec.sketchCols(c)) col(c) else col(c) * lit(-1)).as(c)
    }: _*)

  /** Per-column combiner of the union+re-sum merge: signed Sum everywhere
    * except sketch columns, which union via hll_union_agg (merge-only). */
  private def combineAux(spec: Spec, c: String): Column =
    if (spec.sketchCols(c))
      org.apache.spark.sql.functions.hll_union_agg(col(c), lit(true)).as(c)
    else sum(col(c)).as(c)

  /** Overflow tripwire over a partial/regrouped aux frame: raise when a
    * sum-like moment is NULL while its slot's non-NULL counter is positive
    * (see [[Spec.momentGuards]]) — the raise aborts the epoch's fold inside
    * the caller's checkpoint, degrading to the always-correct recompute. */
  private def guardMoments(frame: DataFrame, spec: Spec): DataFrame = {
    val guards = spec.momentGuards
    if (guards.isEmpty) frame
    else frame.select(frame.columns.toIndexedSeq.map { c =>
      guards.get(c) match {
        case Some(cn) =>
          when(col(c).isNull && col(cn) > lit(0L),
            overflowRaise(frame.schema(c).dataType))
            .otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
  }

  /** Fold an epoch's insert/retract auxiliary partials into the carried
    * state. Pure COUNT/SUM/decimal-AVG specs re-sum touched keys (state
    * slice ∪ adds ∪ negated dels) with untouched rows passing through an
    * anti join against the BROADCAST touched-key set — the state never
    * shuffles. Specs with MIN/MAX or float slots take the join-merge path
    * instead ([[mergeJoin]]), which needs `refetch` to recompute groups
    * whose carried extremum a retraction removed: `refetch(keys)` must
    * return fresh aux rows (via [[aux]] over the CURRENT source) for
    * exactly those groups — for a global (keyless) spec it is called with
    * an empty-column frame and must return the full single-row aux.
    * Aux columns cast back to the state schema (decimal addition widens).
    * Groups whose row count reaches zero drop (the caller's diff emits
    * their Deletes). */
  def merge(state: DataFrame, addAux: DataFrame, delAux: DataFrame,
            spec: Spec,
            refetch: DataFrame => DataFrame = null,
            /** Precomputed touched-key frame (ideally a LocalRelation, so
              * the semi/anti broadcast builds are job-free); None =
              * derive from the partials. */
            touchedHint: Option[DataFrame] = None): DataFrame = {
    if (spec.needJoinMerge) {
      require(refetch != null, "extremum/float specs need a refetch callback")
      return mergeJoin(state, addAux, delAux, spec, refetch, touchedHint)
    }
    // the merge operates at STATE granularity — outer keys plus the
    // distinct-children columns for the two-level tier (round 12)
    val keys = spec.stateKeys
    val auxCols = spec.auxNames
    if (keys.isEmpty) {
      // global aggregate: ONE row, always touched, NEVER dropped — a
      // global aggregate over an empty input still yields its row
      // (count 0, sums NULL), exactly like the batch evaluation
      return guardMoments(
        pinLocal1(state.unionByName(addAux).unionByName(negateAux(delAux, spec)))
          .groupBy()
          .agg(combineAux(spec, auxCols.head), auxCols.tail.map(c =>
            combineAux(spec, c)): _*), spec)
        .select(spec.auxNames.map { c =>
          checkedCast(col(c), state.schema(c).dataType).as(c)
        }: _*)
    }
    val (untouched, resummed) =
      mergeParts(state, addAux, delAux, spec, touchedHint).get
    untouched.unionByName(resummed)
  }

  /** The keyed fast-path merge split into its two halves — (untouched
    * passthrough via broadcast anti join, re-summed touched slice) — so a
    * caller with an over-bound state can materialize ONLY the
    * delta-proportional slice and stack it over the carried frame, instead
    * of re-persisting the whole state every epoch (round 13, verdict #4).
    * None for join-merge (extremum/float) and global (keyless) specs —
    * those keep [[merge]]'s own paths. */
  def mergeParts(state: DataFrame, addAux: DataFrame, delAux: DataFrame,
                 spec: Spec,
                 touchedHint: Option[DataFrame] = None)
      : Option[(DataFrame, DataFrame)] = {
    if (spec.needJoinMerge || spec.stateKeys.isEmpty) return None
    val keys = spec.stateKeys
    val auxCols = spec.auxNames
    val touched = touchedHint.getOrElse(addAux.select(keys.map(col): _*)
      .union(delAux.select(keys.map(col): _*)).distinct())
    val kr = touched.toDF(keys.map(k => s"__k_$k"): _*)
    def keyCond(df: DataFrame) =
      keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
    val stateTouched = state.join(broadcast(kr), keyCond(state), "left_semi")
    val untouched = state.join(broadcast(kr), keyCond(state), "left_anti")
    val resummed = guardMoments(pinLocal1(stateTouched
      .unionByName(addAux)
      .unionByName(negateAux(delAux, spec)))
      .groupBy(keys.map(col): _*)
      .agg(combineAux(spec, auxCols.head), auxCols.tail.map(c =>
        combineAux(spec, c)): _*), spec)
      .filter(col(spec.rowsCol) > 0)
      // cast aux sums back to the state schema: decimal addition widens
      // the type per fold, and an ever-widening state schema would break
      // both the union above and the persisted snapshot
      .select(keys.map(col) ++ spec.auxNames.map { c =>
        checkedCast(col(c), state.schema(c).dataType).as(c)
      }: _*)
    Some((untouched, resummed))
  }

  /** Join-based merge for specs with non-invertible (MIN/MAX) or
    * Kahan-compensated float slots. Shape: the epoch's touched keys form a
    * delta-sized spine; the state slice, add-partials, and del-partials
    * all BROADCAST onto it (each is touched-key-bounded); per-slot
    * arithmetic runs as column expressions; groups whose retraction could
    * have removed the carried extremum re-fetch via `refetch`. Untouched
    * state passes through an anti join exactly like the fast path — the
    * state never shuffles, and per-epoch cluster work stays
    * delta-proportional except the re-fetch, which is the documented
    * RisingWave extremum behavior (delta-restricted by a semi-join pushed
    * below the source re-aggregation). */
  private def mergeJoin(state: DataFrame, addAux0: DataFrame,
                        delAux0: DataFrame, spec: Spec,
                        refetch: DataFrame => DataFrame,
                        touchedHint: Option[DataFrame] = None): DataFrame = {
    val keys = spec.stateKeys
    val auxCols = spec.auxNames
    // one partial row per key per side: multi-source epochs union one
    // partial per telescoped term — combine with each slot's own combiner
    // (max-of-maxes / min-of-mins for extremum values, sums elsewhere;
    // the DEL side's extremum combiner keeps the most dangerous value,
    // which is exactly what the underflow test needs)
    def regroup(df: DataFrame): DataFrame = {
      val combined = auxCols.map { c =>
        val idx = c.stripPrefix("__a")
        // width-0 (COUNT DISTINCT / histogram) slots share their auxIdx
        // with the next slot — they own no aux column, never resolve here.
        // Match by column OFFSET within the owning slot: max_by's three
        // columns combine differently (arg follows its ord; ord takes the
        // extremum; the counter sums).
        val slot = spec.slots.find(s =>
          c != RowsCol && idx.nonEmpty && idx.forall(_.isDigit) &&
            s.width > 0 && idx.toInt >= s.auxIdx &&
            idx.toInt < s.auxIdx + s.width)
        val off = slot.map(idx.toInt - _.auxIdx).getOrElse(-1)
        slot match {
          case Some(s) if s.kind == KindMax && off == 0 =>
            org.apache.spark.sql.functions.max(col(c)).as(c)
          case Some(s) if s.kind == KindMin && off == 0 =>
            org.apache.spark.sql.functions.min(col(c)).as(c)
          case Some(s) if (s.kind == KindMaxBy || s.kind == KindMinBy) &&
              off == 0 =>
            val ordc = s"__a${s.auxIdx + 1}"
            (if (s.kind == KindMaxBy)
              org.apache.spark.sql.functions.max_by(col(c), col(ordc))
            else
              org.apache.spark.sql.functions.min_by(col(c), col(ordc))).as(c)
          case Some(s) if s.kind == KindMaxBy && off == 1 =>
            org.apache.spark.sql.functions.max(col(c)).as(c)
          case Some(s) if s.kind == KindMinBy && off == 1 =>
            org.apache.spark.sql.functions.min(col(c)).as(c)
          case _ => sum(col(c)).as(c)
        }
      }
      guardMoments(
        if (keys.isEmpty) df.groupBy().agg(combined.head, combined.tail: _*)
        else df.groupBy(keys.map(col): _*).agg(combined.head, combined.tail: _*),
        spec)
    }
    val addG = regroup(addAux0)
    val delG = regroup(delAux0)

    def s(c: String) = col(s"__s_$c")
    def a(c: String) = col(s"__x_$c")
    def d(c: String) = col(s"__y_$c")
    def z(c: Column) = coalesce(c, lit(0))

    val sr = state.toDF((keys.map(k => s"__s_$k") ++ auxCols.map(c => s"__s_$c")): _*)
    val ar = addG.toDF((keys.map(k => s"__x_$k") ++ auxCols.map(c => s"__x_$c")): _*)
    val dr = delG.toDF((keys.map(k => s"__y_$k") ++ auxCols.map(c => s"__y_$c")): _*)

    val spine =
      if (keys.isEmpty)
        // global: one state row (always exists after backfill) × one
        // partial row per side
        sr.crossJoin(ar).crossJoin(dr)
      else {
        val touched = touchedHint.getOrElse(addG.select(keys.map(col): _*)
          .union(delG.select(keys.map(col): _*)).distinct())
        val kr = touched.toDF(keys.map(k => s"__k_$k"): _*)
        def keyCond(df: DataFrame) =
          keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
        val stateTouched = state.join(broadcast(kr), keyCond(state), "left_semi")
        val srT = stateTouched.toDF(
          (keys.map(k => s"__s_$k") ++ auxCols.map(c => s"__s_$c")): _*)
        touched
          .join(broadcast(srT), keys.map(k => col(k) <=> col(s"__s_$k")).reduce(_ && _), "left")
          .join(broadcast(ar), keys.map(k => col(k) <=> col(s"__x_$k")).reduce(_ && _), "left")
          .join(broadcast(dr), keys.map(k => col(k) <=> col(s"__y_$k")).reduce(_ && _), "left")
      }

    // per-slot arithmetic + underflow flags
    val ufFlags = scala.collection.mutable.ArrayBuffer[Column]()
    val newAux: Seq[Column] = spec.slots.flatMap { slot =>
      val v = s"__a${slot.auxIdx}"
      def counters(cntName: String): Column =
        (z(s(cntName)) + z(a(cntName)) - z(d(cntName)))
          .cast(LongType).as(cntName)
      slot.kind match {
        // their values ARE state-key columns — no aux arithmetic
        case KindCountD | KindMaxD | KindMinD | KindSumD | KindAvgD |
             KindPct | KindListAgg | KindListAggDesc | KindListAggOrd |
             KindArrAgg =>
          Seq.empty
        case KindCount =>
          Seq((z(s(v)) + z(a(v)) - z(d(v)))
            .cast(state.schema(v).dataType).as(v))
        case KindSum | KindAvg =>
          val cn = s"__a${slot.cntIdx}"
          Seq(
            checkedSigned(z(s(v)) + z(a(v)) - z(d(v)), state.schema(v).dataType).as(v),
            counters(cn))
        case k if isStd(k) =>
          // [S₂, S₁, n] — all signed-invertible; inputs are z()-coalesced
          // non-NULL, so a NULL fold result can only mean decimal Add
          // overflow → checkedSigned raises instead of carrying NULL
          val sm = s"__a${slot.auxIdx + 1}"
          val cn = s"__a${slot.cntIdx}"
          Seq(
            checkedSigned(z(s(v)) + z(a(v)) - z(d(v)), state.schema(v).dataType).as(v),
            checkedSigned(z(s(sm)) + z(a(sm)) - z(d(sm)),
              state.schema(sm).dataType).as(sm),
            counters(cn))
        case k if isCov(k) =>
          // raw co-moments — all signed-invertible
          val cn = s"__a${slot.cntIdx}"
          (0 until slot.width - 1).map { j =>
            val cname = s"__a${slot.auxIdx + j}"
            checkedSigned(z(s(cname)) + z(a(cname)) - z(d(cname)),
              state.schema(cname).dataType).as(cname)
          } :+ counters(cn)
        case KindMax | KindMin =>
          val cn = s"__a${slot.cntIdx}"
          // a retraction whose most competitive value ties or beats the
          // carried extremum may have removed it — re-fetch the group.
          // (null-safe: no state extremum, or a state row freshly created
          // this epoch, triggers too — conservative, still exact after
          // the re-fetch)
          val safe = if (slot.kind == KindMax) d(v) < s(v) else d(v) > s(v)
          val uf = (z(d(cn)) > 0) && !coalesce(safe, lit(false))
          ufFlags += uf
          val fold =
            if (slot.kind == KindMax) greatest(s(v), a(v)) else least(s(v), a(v))
          Seq(
            when(uf, lit(null).cast(state.schema(v).dataType)).otherwise(fold).as(v),
            counters(cn))
        case KindMaxBy | KindMinBy =>
          // the ORDERING column drives both the fold and the underflow
          // test; the argument column follows whichever side won. A
          // retraction tying-or-beating the carried extremum ordering
          // value re-fetches (the runner-up argument is not in state).
          val ov = s"__a${slot.auxIdx + 1}"
          val cn = s"__a${slot.cntIdx}"
          val isMax = slot.kind == KindMaxBy
          val safe = if (isMax) d(ov) < s(ov) else d(ov) > s(ov)
          val uf = (z(d(cn)) > 0) && !coalesce(safe, lit(false))
          ufFlags += uf
          val takeAdd = s(ov).isNull ||
            (a(ov).isNotNull && (if (isMax) a(ov) > s(ov) else a(ov) < s(ov)))
          val argFold = when(takeAdd, a(v)).otherwise(s(v))
          val ordFold = if (isMax) greatest(s(ov), a(ov)) else least(s(ov), a(ov))
          Seq(
            when(uf, lit(null).cast(state.schema(v).dataType))
              .otherwise(argFold).as(v),
            when(uf, lit(null).cast(state.schema(ov).dataType))
              .otherwise(ordFold).as(ov),
            counters(cn))
        case _ => // KindSumF | KindAvgF — Kahan-compensated float fold
          val cp = s"__a${slot.auxIdx + 1}"
          val cn = s"__a${slot.cntIdx}"
          val inc = z(a(v)).cast(DoubleType) - z(d(v)).cast(DoubleType)
          val y = inc - z(s(cp)).cast(DoubleType)
          val t = z(s(v)).cast(DoubleType) + y
          Seq(
            t.as(v),
            ((t - z(s(v)).cast(DoubleType)) - y).as(cp),
            counters(cn))
      }
    }
    val rowsNew = (z(s(RowsCol)) + z(a(RowsCol)) - z(d(RowsCol)))
      .cast(LongType).as(RowsCol)
    val ufAll = ufFlags.reduceOption(_ || _).getOrElse(lit(false)).as(UfCol)
    val keyCols: Seq[Column] =
      if (keys.isEmpty) Nil
      else keys.map(k => coalesce(col(k)).as(k)) // spine carries the keys
    // the flagged frame is TOUCHED-sized (delta-proportional) — cheap to
    // materialize, and the materialization decides the re-fetch branch
    val flagged = spine.select(keyCols ++ newAux :+ rowsNew :+ ufAll: _*)
      .localCheckpoint(true)
    val ufRows = flagged.filter(col(UfCol))
    val hasUf = ufRows.take(1).nonEmpty
    val arith0 = flagged.filter(!col(UfCol)).drop(UfCol)
    val arith =
      if (keys.isEmpty) arith0 // the global row NEVER drops
      else arith0.filter(col(spec.rowsCol) > 0)
    val refreshedTouched =
      if (!hasUf) arith
      else {
        // groups that vanished entirely are simply absent from the fresh
        // aux — their Delete emission falls out of the caller's diff
        val fresh = refetch(ufRows.select(keys.map(col): _*))
          .select((keys.map(col) ++ auxCols.map(c =>
            checkedCast(col(c), state.schema(c).dataType).as(c))): _*)
        if (keys.isEmpty) fresh else arith.unionByName(fresh)
      }
    if (keys.isEmpty) refreshedTouched
    else {
      val touchedKeysDf = flagged.select(keys.map(col): _*).distinct()
      val kr2 = touchedKeysDf.toDF(keys.map(k => s"__k_$k"): _*)
      val untouched = state.join(broadcast(kr2),
        keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _), "left_anti")
      untouched.unionByName(refreshedTouched)
    }
  }

  /** Cast a folded aux value back to the state schema, RAISING when the
    * narrowing cast would silently turn a non-NULL value into NULL
    * (decimal precision overflow under non-ANSI evaluation): the raised
    * error aborts the epoch's fold inside the caller's checkpoint, and
    * [[graft.engine.MaterializedView]]'s foldAux catch drops the spec —
    * so precision overflow degrades to the always-correct touched-group
    * recompute instead of silently corrupting the carried sum. */
  private def checkedCast(c: Column, dt: DataType): Column = {
    val casted = c.cast(dt)
    when(c.isNotNull && casted.isNull, overflowRaise(dt)).otherwise(casted)
  }

  /** [[checkedCast]] for signed-fold arithmetic whose inputs are
    * z()-coalesced non-NULL: a NULL result can only mean the decimal Add
    * itself overflowed (non-ANSI returns NULL, which checkedCast alone
    * would pass through). */
  private def checkedSigned(e: Column, dt: DataType): Column =
    when(e.isNull, overflowRaise(dt)).otherwise(checkedCast(e, dt))

  private def overflowRaise(dt: DataType): Column =
    org.apache.spark.sql.functions.raise_error(
      lit("graft delta-agg fold overflowed the state precision")).cast(dt)

  /** The statement's visible output derived from aux state — lazy; the
    * caller checkpoints the (narrow) aux state only. Two-level specs
    * AGGREGATE the inner-granularity state by the outer keys (the
    * COUNT(DISTINCT) finish); single-level specs project per row. */
  def visible(state: DataFrame, spec: Spec): DataFrame =
    if (!spec.isTwoLevel) state.select(spec.visibleCols: _*)
    else GraftColumnBridge.ofRows(state.sparkSession,
      Aggregate(
        spec.keyOutNames.map(UnresolvedAttribute.quoted(_): Expression),
        spec.visibleExprs, state.queryExecution.logical))

  /** The epoch's touched OUTER keys as a frame over the aux deltas
    * (already grouped — orders smaller than the state). */
  def touchedKeys(addAux: DataFrame, delAux: DataFrame, spec: Spec): DataFrame =
    addAux.select(spec.keyOutNames.map(col): _*)
      .union(delAux.select(spec.keyOutNames.map(col): _*)).distinct()
}
