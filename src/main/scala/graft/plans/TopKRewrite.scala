package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.expressions.{
  Add, Alias, And, Attribute, AttributeReference, Cast, CreateStruct,
  CumeDist, DenseRank, EqualNullSafe, EqualTo, Expression, Floor,
  GetStructField, GreaterThan, GreaterThanOrEqual, If, IntegralDivide,
  Least, LessThan, LessThanOrEqual, Literal, Multiply, NTile, PercentRank,
  PosExplode, PredicateHelper, Rank, Remainder, RowNumber, RowOrdering,
  Subtract, WindowExpression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, BROADCAST, Filter, Generate, HintInfo, Join, JoinHint,
  LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructType}

import graft.functions.{RankKRows, TopKRows}

/** Optimizer rule: rewrite the `row_number() OVER (PARTITION BY p ORDER
  * BY s) <= k` filter-over-window idiom — the way every SQL user writes
  * per-group top-k — into the bounded-heap [[TopKRows]] aggregation.
  *
  * The window form shuffles EVERY row of the table on `p` and fully sorts
  * each partition before the filter throws all but k rows per group away.
  * The rewritten plan is
  * `Aggregate(p, graft_top_k_rows(...)) → posexplode → Project`:
  * an ObjectHashAggregate that partial-aggregates, so each map task sends
  * at most k rows per group into the exchange and nothing is ever fully
  * sorted — at 100 TB the shuffle shrinks from the whole table to
  * ~k × groups. (Spark's own InferWindowGroupLimit inserts per-partition
  * rank limits but keeps the full shuffle-and-sort plan shape; this
  * rewrite removes the sort entirely. It fires first — user rules run in
  * the operator-optimization batch.)
  *
  * Fires only on the exact safe shape: a Filter directly over a Window
  * whose ONLY window expression is `row_number()` (→ [[TopKRows]]),
  * `rank()` or `dense_rank()` (→ [[RankKRows]], which keeps boundary tie
  * groups whole and carries each row's rank; dense mode retains the k
  * smallest distinct keys) with a non-empty orderable ORDER BY, where
  * some conjunct bounds the rank from above by a positive integer
  * literal ≤ 10000 (`maxK`; heap memory per group is
  * ~k rows; rank mode may additionally hold a boundary tie group — the
  * same rows the window form would output). Remaining conjuncts stay as
  * a residual filter — the rewritten plan reproduces the rank column
  * under the original attribute id, so every downstream reference keeps
  * resolving. Tie semantics are unchanged: `row_number` picks tied rows
  * arbitrarily, and so does the heap; `rank` ties are exact. Disable
  * with `spark.sql.optimizer.excludedRules=graft.plans.WindowTopKRewrite`.
  *
  * The FRACTION family — `ntile(b) <= k`, `percent_rank() <= p`,
  * `cume_dist() <= p` — rewrites too, via the two-pass form: their
  * retained-row count depends on the group size, so a broadcast
  * per-group `count(*)` joins onto the input (the big side is not
  * re-shuffled; the bounded aggregate still partial-aggregates map-side
  * with its per-group k in hand) and the rank value is reconstructed
  * arithmetically from the emitted position/rank/peer-count and the
  * count, with the ORIGINAL predicate always re-applied exactly. Fires
  * only while the kept fraction is ≤ 0.5 (`maxFraction`) — past that
  * the window's sort wins.
  */
object WindowTopKRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val maxK = 10000
  // ntile/percent_rank retain a FRACTION of each group; past this fraction
  // the bounded aggregate buffers most of the group and the window's
  // sort is the better plan
  private val maxFraction = 0.5

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case f @ Filter(cond,
          w @ Window(Seq(alias @ Alias(WindowExpression(rankFn, _), _)),
            partSpec, orderSpec, child, _))
          if (rankFn.isInstanceOf[RowNumber] || rankFn.isInstanceOf[Rank] ||
            rankFn.isInstanceOf[DenseRank]) &&
            orderSpec.nonEmpty &&
            RowOrdering.isOrderable(orderSpec.map(_.child).toIndexedSeq) =>
        val rnAttr = alias.toAttribute
        val conjuncts = splitConjunctivePredicates(cond)
        // a pure `rn <= v` bound may be DROPPED once the rewrite keeps only
        // the top min-bound rows; an `rn = v` bound also caps the heap but
        // must STAY as a residual equality filter
        val pure = conjuncts.flatMap(pureUpperBound(_, rnAttr))
        val eqs = conjuncts.flatMap(equalityBound(_, rnAttr))
        (pure ++ eqs) match {
          case Nil => f
          case bs =>
            val k = bs.min
            if (k < 1 || k > maxK) f
            else {
              val residual = conjuncts.filterNot(c =>
                pureUpperBound(c, rnAttr).exists(_ >= k))
              rewrite(w, child, partSpec, rnAttr, k, rankFn) match {
                case rewritten if residual.isEmpty => rewritten
                case rewritten => Filter(residual.reduce(And), rewritten)
              }
            }
        }

      // ntile(b) <= k / percent_rank() <= p: the retained-row count depends
      // on the GROUP SIZE, so this is the two-pass form — a broadcast
      // per-group count joined onto the input feeds a per-group k into the
      // same bounded aggregates, and the original predicate is re-applied
      // exactly on the reconstructed rank value.
      case f @ Filter(cond,
          w @ Window(Seq(alias @ Alias(WindowExpression(fracFn, _), _)),
            partSpec, orderSpec, child, _))
          if (fracFn.isInstanceOf[NTile] || fracFn.isInstanceOf[PercentRank] ||
            fracFn.isInstanceOf[CumeDist]) &&
            orderSpec.nonEmpty &&
            RowOrdering.isOrderable(orderSpec.map(_.child).toIndexedSeq) =>
        val attr = alias.toAttribute
        val conjuncts = splitConjunctivePredicates(cond)
        fracFn match {
          case nt: NTile => nt.buckets match {
            case Literal(b: Int, IntegerType) if b > 0 =>
              val bounds = conjuncts.flatMap(pureUpperBound(_, attr)) ++
                conjuncts.flatMap(equalityBound(_, attr))
              bounds match {
                case Nil => f
                case bs =>
                  val kSel = bs.min
                  // fire only when the filter actually prunes buckets and the
                  // kept fraction is small enough that bounded aggregation
                  // beats the window's full sort
                  if (kSel < 1 || kSel.toDouble / b > maxFraction) f
                  else rewriteNtile(w, child, partSpec, attr, kSel, b, cond)
              }
            case _ => f
          }
          case _ => // PercentRank | CumeDist
            conjuncts.flatMap(doubleUpperBound(_, attr)) match {
              case Nil => f
              case ps =>
                val p = ps.min
                if (p < 0.0 || p > maxFraction) f
                else if (fracFn.isInstanceOf[CumeDist])
                  rewriteCumeDist(w, child, partSpec, attr, p, cond)
                else rewritePercentRank(w, child, partSpec, attr, p, cond)
            }
        }
    }

  /** `rn <= lit` / `rn < lit` (and mirrored) → Some(bound). */
  private def pureUpperBound(c: Expression, rn: Attribute): Option[Int] = c match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rn) => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rn) => Some(v - 1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute) if a.semanticEquals(rn) => Some(v)
    case GreaterThan(Literal(v: Int, IntegerType), a: Attribute) if a.semanticEquals(rn) => Some(v - 1)
    case _ => None
  }

  /** `rn = lit` (either side) → Some(bound); the conjunct itself remains. */
  private def equalityBound(c: Expression, rn: Attribute): Option[Int] = c match {
    case EqualTo(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rn) => Some(v)
    case EqualTo(Literal(v: Int, IntegerType), a: Attribute) if a.semanticEquals(rn) => Some(v)
    case _ => None
  }

  /** `pr <= lit` / `pr < lit` (and mirrored) over a double column →
    * Some(bound). `<` keeps a superset (≤ the same literal); the exact
    * predicate is re-applied as a residual on the reconstructed value.
    */
  private def doubleUpperBound(c: Expression, pr: Attribute): Option[Double] = c match {
    case LessThanOrEqual(a: Attribute, Literal(v: Double, DoubleType)) if a.semanticEquals(pr) => Some(v)
    case LessThan(a: Attribute, Literal(v: Double, DoubleType)) if a.semanticEquals(pr) => Some(v)
    case GreaterThanOrEqual(Literal(v: Double, DoubleType), a: Attribute) if a.semanticEquals(pr) => Some(v)
    case GreaterThan(Literal(v: Double, DoubleType), a: Attribute) if a.semanticEquals(pr) => Some(v)
    case _ => None
  }

  /** Join a broadcast per-group `count(*)` onto `child`: the count side
    * aggregates to one row per group (map-side partial count, tiny
    * shuffle), broadcasts, and equi-joins back null-safely — so the big
    * side is NOT re-shuffled and the downstream bounded aggregate still
    * partial-aggregates map-side with its per-group k in hand. Returns
    * the joined plan and the count attribute.
    */
  private def withGroupCounts(
      child: LogicalPlan, partSpec: Seq[Expression]): (LogicalPlan, Attribute) = {
    val gAliases = partSpec.map(e => Alias(e, "__graft_gk")())
    val cntAlias = Alias(
      AggregateExpression(Count(Literal(1)), Complete, isDistinct = false),
      "__graft_cnt")()
    val agg = Aggregate(partSpec, gAliases :+ cntAlias, child)
    val cond = partSpec.zip(gAliases.map(_.toAttribute))
      .map { case (l, r) => EqualNullSafe(l, r): Expression }.reduceOption(And)
    val join = Join(child, agg, if (cond.isEmpty) Cross else Inner, cond,
      JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST)))))
    (join, cntAlias.toAttribute)
  }

  private def rewrite(
      w: Window, child: LogicalPlan, partSpec: Seq[Expression],
      rnAttr: Attribute, k: Int, rankFn: Expression): LogicalPlan = {
    val orderSpec = w.orderSpec
    val keyStruct = CreateStruct(orderSpec.map(_.child))
    val payloadStruct = CreateStruct(child.output)
    val dirs = orderSpec.map(_.direction)
    val nullOrds = orderSpec.map(_.nullOrdering)
    val isRankLike = !rankFn.isInstanceOf[RowNumber]
    val func =
      if (isRankLike)
        RankKRows(keyStruct, payloadStruct, Literal(k), dirs, nullOrds,
          dense = rankFn.isInstanceOf[DenseRank])
      else TopKRows(keyStruct, payloadStruct, Literal(k), dirs, nullOrds)
    val aggExpr = Alias(
      AggregateExpression(func, Complete, isDistinct = false), "__graft_top")()
    val agg = Aggregate(partSpec, Seq(aggExpr), child)

    // rank mode appends the computed __graft_rank to each emitted struct
    // (tie groups share a rank, so position alone cannot reproduce it)
    val elemType = func.dataType.asInstanceOf[
      org.apache.spark.sql.types.ArrayType].elementType.asInstanceOf[StructType]
    val posAttr = AttributeReference("pos", IntegerType, nullable = false)()
    val rowAttr = AttributeReference("col", elemType, nullable = false)()
    val gen = Generate(PosExplode(aggExpr.toAttribute),
      unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
      generatorOutput = Seq(posAttr, rowAttr), agg)

    // reconstruct every original column under its ORIGINAL attribute id so
    // downstream references (including the residual filter and anything
    // above) keep resolving; rn = 1-based top-k position (row_number) or
    // the carried rank field (rank)
    val fields = child.output.zipWithIndex.map { case (a, i) =>
      Alias(GetStructField(rowAttr, i, Some(a.name)), a.name)(
        exprId = a.exprId, qualifier = a.qualifier)
    }
    val rnExpr: Expression =
      if (isRankLike) GetStructField(rowAttr, child.output.length, Some("__graft_rank"))
      else Add(posAttr, Literal(1))
    val rnOut = Alias(rnExpr, rnAttr.name)(exprId = rnAttr.exprId)
    Project(fields :+ rnOut, gen)
  }

  /** Aggregate → posexplode skeleton shared by the fraction rewrites:
    * returns (generate plan, pos attr, row attr).
    */
  private def explodeTop(
      func: Expression with org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction,
      partSpec: Seq[Expression],
      input: LogicalPlan): (LogicalPlan, Attribute, Attribute) = {
    val aggExpr = Alias(
      AggregateExpression(func, Complete, isDistinct = false), "__graft_top")()
    val agg = Aggregate(partSpec, Seq(aggExpr), input)
    val elemType = func.dataType.asInstanceOf[
      org.apache.spark.sql.types.ArrayType].elementType.asInstanceOf[StructType]
    val posAttr = AttributeReference("pos", IntegerType, nullable = false)()
    val rowAttr = AttributeReference("col", elemType, nullable = false)()
    val gen = Generate(PosExplode(aggExpr.toAttribute),
      unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
      generatorOutput = Seq(posAttr, rowAttr), agg)
    (gen, posAttr, rowAttr)
  }

  /** Reconstruct every original column under its ORIGINAL attribute id. */
  private def originalFields(child: LogicalPlan, rowAttr: Attribute): Seq[Alias] =
    child.output.zipWithIndex.map { case (a, i) =>
      Alias(GetStructField(rowAttr, i, Some(a.name)), a.name)(
        exprId = a.exprId, qualifier = a.qualifier)
    }

  /** `ntile(b) <= kSel`: keep the first `kSel*(n/b) + min(kSel, n%b)`
    * rows of each group (exactly the rows in the first kSel buckets; the
    * per-group k comes from the broadcast count join), reconstruct the
    * ntile value arithmetically from the emitted position and group size,
    * and re-apply the original predicate.
    */
  private def rewriteNtile(
      w: Window, child: LogicalPlan, partSpec: Seq[Expression],
      ntAttr: Attribute, kSel: Int, b: Int, cond: Expression): LogicalPlan = {
    val (joined, cntAttr) = withGroupCounts(child, partSpec)
    val orderSpec = w.orderSpec
    val keyStruct = CreateStruct(orderSpec.map(_.child))
    val payloadStruct = CreateStruct(child.output :+ cntAttr)
    val bL = Literal(b.toLong, LongType)
    val kkL = Literal(math.min(kSel, b).toLong, LongType)
    // rows retained by ntile <= kSel: kk*(n/b) + min(kk, n%b)
    val m = Add(
      Multiply(kkL, IntegralDivide(cntAttr, bL)),
      Least(Seq(kkL, Remainder(cntAttr, bL))))
    val kExpr = Cast(Least(Seq(m, Literal(Int.MaxValue.toLong, LongType))), IntegerType)
    val func = TopKRows(keyStruct, payloadStruct, kExpr,
      orderSpec.map(_.direction), orderSpec.map(_.nullOrdering))
    val (gen, posAttr, rowAttr) = explodeTop(func, partSpec, joined)
    val fields = originalFields(child, rowAttr)
    // ntile of 0-based position i over n rows in b buckets, with
    // q = n/b and r = n%b: the first r buckets hold q+1 rows, so
    // i < r*(q+1) → i/(q+1)+1, else r + (i - r*(q+1))/q + 1
    val cntF = GetStructField(rowAttr, child.output.length, Some("__graft_cnt"))
    val one = Literal(1L, LongType)
    val posL = Cast(posAttr, LongType)
    val q = IntegralDivide(cntF, bL)
    val r = Remainder(cntF, bL)
    val t = Multiply(r, Add(q, one))
    val nt = If(LessThan(posL, t),
      Add(IntegralDivide(posL, Add(q, one)), one),
      Add(Add(r, IntegralDivide(Subtract(posL, t), q)), one))
    val rnOut = Alias(Cast(nt, IntegerType), ntAttr.name)(exprId = ntAttr.exprId)
    Filter(cond, Project(fields :+ rnOut, gen))
  }

  /** `percent_rank() <= p`: keep rows with rank ≤ floor(p·(n-1)) + 2 per
    * group (+1 for the 1-based boundary rank, +1 margin for the window's
    * double rounding — safe while p·(n-1) < 2^52), reconstruct
    * percent_rank exactly as the window does ((rank-1)/(n-1), 0 for
    * single-row groups) from the carried rank and group size, and
    * re-apply the original predicate exactly.
    */
  private def rewritePercentRank(
      w: Window, child: LogicalPlan, partSpec: Seq[Expression],
      prAttr: Attribute, p: Double, cond: Expression): LogicalPlan = {
    val (joined, cntAttr) = withGroupCounts(child, partSpec)
    val orderSpec = w.orderSpec
    val keyStruct = CreateStruct(orderSpec.map(_.child))
    val payloadStruct = CreateStruct(child.output :+ cntAttr)
    val one = Literal(1L, LongType)
    val cutoff = Add(
      Floor(Multiply(Literal(p), Cast(Subtract(cntAttr, one), DoubleType))),
      Literal(2L, LongType))
    val kExpr = Cast(Least(Seq(cutoff, Literal(Int.MaxValue.toLong, LongType))), IntegerType)
    val func = RankKRows(keyStruct, payloadStruct, kExpr,
      orderSpec.map(_.direction), orderSpec.map(_.nullOrdering), dense = false)
    val (gen, _, rowAttr) = explodeTop(func, partSpec, joined)
    val fields = originalFields(child, rowAttr)
    val cntF = GetStructField(rowAttr, child.output.length, Some("__graft_cnt"))
    val rankF = GetStructField(rowAttr, child.output.length + 1, Some("__graft_rank"))
    val pr = If(GreaterThan(cntF, one),
      org.apache.spark.sql.catalyst.expressions.Divide(
        Cast(Subtract(Cast(rankF, LongType), one), DoubleType),
        Cast(Subtract(cntF, one), DoubleType)),
      Literal(0.0, DoubleType))
    val rnOut = Alias(pr, prAttr.name)(exprId = prAttr.exprId)
    Filter(cond, Project(fields :+ rnOut, gen))
  }

  /** `cume_dist() <= p`: a row's cume_dist is its TIE-GROUP-END position
    * over the group size, so retention needs rank ≤ floor(p·n) (+2
    * margin, trimmed by the exact residual) and the reconstruction needs
    * the tie-group size — RankKRows carries it (`withPeers`; retained tie
    * groups are always whole, so the count is the original one):
    * cume_dist = (rank − 1 + peers) / n, exactly the window's division.
    * Completes the rank-function family: row_number/rank/dense_rank/
    * ntile/percent_rank/cume_dist all rewrite to bounded aggregation.
    */
  private def rewriteCumeDist(
      w: Window, child: LogicalPlan, partSpec: Seq[Expression],
      cdAttr: Attribute, p: Double, cond: Expression): LogicalPlan = {
    val (joined, cntAttr) = withGroupCounts(child, partSpec)
    val orderSpec = w.orderSpec
    val keyStruct = CreateStruct(orderSpec.map(_.child))
    val payloadStruct = CreateStruct(child.output :+ cntAttr)
    val one = Literal(1L, LongType)
    val cutoff = Add(
      Floor(Multiply(Literal(p), Cast(cntAttr, DoubleType))), Literal(2L, LongType))
    val kExpr = Cast(Least(Seq(cutoff, Literal(Int.MaxValue.toLong, LongType))), IntegerType)
    val func = RankKRows(keyStruct, payloadStruct, kExpr,
      orderSpec.map(_.direction), orderSpec.map(_.nullOrdering),
      dense = false, withPeers = true)
    val (gen, _, rowAttr) = explodeTop(func, partSpec, joined)
    val fields = originalFields(child, rowAttr)
    val cntF = GetStructField(rowAttr, child.output.length, Some("__graft_cnt"))
    val rankF = GetStructField(rowAttr, child.output.length + 1, Some("__graft_rank"))
    val peersF = GetStructField(rowAttr, child.output.length + 2, Some("__graft_peers"))
    val endPos = Add(Subtract(Cast(rankF, LongType), one), Cast(peersF, LongType))
    val cd = org.apache.spark.sql.catalyst.expressions.Divide(
      Cast(endPos, DoubleType), Cast(cntF, DoubleType))
    val rnOut = Alias(cd, cdAttr.name)(exprId = cdAttr.exprId)
    Filter(cond, Project(fields :+ rnOut, gen))
  }
}
