package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeSet, GenericInternalRow, JoinedRow,
  RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{
  BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Whole-operator Catalyst extension for the event-time as-of join: a
  * custom logical node ([[AsOfJoinNode]]), a planner strategy
  * ([[AsOfJoinStrategy]], injected by [[graft.functions.GraftExtensions]],
  * which a session needs to plan the node) and a sort-merge physical
  * operator ([[AsOfJoinExec]]).
  *
  * [[graft.operators.AsOf.asOfJoin]] expresses the same semantics
  * compositionally (union + running `last(ignoreNulls)` window); that form
  * shuffles and window-scans the UNION of both sides and materializes a
  * carried-payload column per window step. This operator is the
  * preference-order-(c) escalation: the merge is a single forward pass per
  * partition with one held dim row of state — no union materialization, no
  * window frame machinery — while keeping EXACTLY the planner contracts a
  * built-in join has:
  *
  *  - `requiredChildDistribution` = `ClusteredDistribution(keys)` on both
  *    children, so EnsureRequirements co-partitions the sides (and AQE can
  *    still coalesce the exchanges);
  *  - `requiredChildOrdering` = (keys…, ts) ascending, so the sort is
  *    planned (and elided when a child is already sorted, e.g. a bucketed
  *    sorted table — the compositional form can never skip its window
  *    sort);
  *  - `outputPartitioning`/`outputOrdering` forward the left child's, so a
  *    downstream per-key aggregation or another as-of join on the same key
  *    reuses the exchange and sort instead of re-shuffling.
  *
  * Join semantics (identical to the compositional form): for every fact
  * row, attach the payload of the LATEST dim row with the same key and
  * `dim.ts <= fact.ts` (ties match); facts with no such dim row keep null
  * payloads (LEFT as-of). Dim rows with null key or null ts never match;
  * facts with null key or ts emit unmatched.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    rightCarried: Seq[Attribute],
    outAttrs: Seq[Attribute])
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] as [[AsOfJoinExec]]; a no-op for every other
  * node. Registered only by [[graft.functions.GraftExtensions]]; a
  * session without it cannot plan [[graft.operators.AsOf.asOfJoinNative]].
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(planLater(n.left), planLater(n.right),
        n.leftKeys, n.rightKeys, n.leftTs, n.rightTs,
        n.rightCarried, n.outAttrs) :: Nil
    case _ => Nil
  }
}

/** The per-partition as-of merge, factored out of the exec so BOTH
  * execution paths share it: the interpreted `doExecute` builds it inside
  * `zipPartitions`, and the whole-stage-codegen path ships it to the
  * generated class via `references` and drives it from the fused
  * `processNext()` loop. Holds only serializable expression metadata; the
  * non-serializable codegen'd projections/orderings are built per
  * partition on the executor (same as SortMergeJoinExec).
  *
  * The returned iterator yields a reused [[JoinedRow]] over
  * `(fact, carried)` — field ordinals line up with
  * `left.output ++ outAttrs` — so the fused parent reads columns straight
  * out of it with no per-row result projection; the interpreted path adds
  * its own `UnsafeProjection` on top.
  */
class AsOfMerger(
    leftOutput: Seq[Attribute],
    rightOutput: Seq[Attribute],
    lKeys: Seq[Attribute],
    rKeys: Seq[Attribute],
    lTs: Attribute,
    rTs: Attribute,
    carried: Seq[Attribute]) extends Serializable {

  require(rKeys.map(_.dataType) == lKeys.map(_.dataType) &&
    rTs.dataType == lTs.dataType,
    "as-of join sides disagree on key/ts types — cast upstream")

  def create(
      factIter: Iterator[InternalRow],
      dimIter: Iterator[InternalRow]): Iterator[InternalRow] = {
    val keyTypes = lKeys.map(_.dataType)
    val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
    val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTs.dataType))
    val factKeyProj = UnsafeProjection.create(lKeys, leftOutput)
    val factTsProj = UnsafeProjection.create(Seq(lTs), leftOutput)
    val dimKeyProj = UnsafeProjection.create(rKeys, rightOutput)
    val dimTsProj = UnsafeProjection.create(Seq(rTs), rightOutput)
    val carriedProj = UnsafeProjection.create(carried, rightOutput)
    val nullCarried = new GenericInternalRow(carried.length)
    val joined = new JoinedRow

    new Iterator[InternalRow] {
      private var nextDim: InternalRow = if (dimIter.hasNext) dimIter.next() else null
      // the held row survives across next() calls while its key keeps
      // matching — both pieces must be copies (projection buffers are
      // reused on the next dim row)
      private var heldKey: UnsafeRow = null
      private var heldCarried: UnsafeRow = null

      override def hasNext: Boolean = factIter.hasNext

      override def next(): InternalRow = {
        val fact = factIter.next()
        val fKey = factKeyProj(fact)
        val fTs = factTsProj(fact)
        val factUnmatchable = fKey.anyNull || fTs.anyNull
        if (!factUnmatchable) {
          var scanning = nextDim != null
          while (scanning) {
            val dKey = dimKeyProj(nextDim)
            if (dKey.anyNull || dimTsProj(nextDim).anyNull) {
              advance()
            } else {
              val c = keyOrd.compare(dKey, fKey)
              if (c < 0) {
                advance()
              } else if (c == 0 && tsOrd.compare(dimTsProj(nextDim), fTs) <= 0) {
                heldKey = dKey.copy()
                heldCarried = carriedProj(nextDim).copy()
                advance()
              } else {
                scanning = false
              }
            }
            if (nextDim == null) scanning = false
          }
        }
        val matched = !factUnmatchable && heldKey != null &&
          keyOrd.compare(heldKey, fKey) == 0
        joined(fact, if (matched) heldCarried else nullCarried)
      }

      private def advance(): Unit =
        nextDim = if (dimIter.hasNext) dimIter.next() else null
    }
  }
}

/** Sort-merge as-of join: both sides clustered on the key and sorted by
  * (keys…, ts); one forward pass per partition holding at most ONE dim
  * row of state (the latest at-or-before candidate). Linear in rows,
  * constant memory — and because the planner contracts above are
  * declared, Spark still handles exchange planning, sort elision, AQE
  * coalescing and metrics exactly as for built-ins.
  *
  * Implements [[CodegenSupport]] the way SortMergeJoinExec does: the exec
  * STARTS a whole-stage-codegen region (both children arrive as the
  * stage's two input RDDs — `inputRDDs()`; their produce chain is not
  * fused into this node) and every parent operator above fuses over its
  * output. The generated `processNext()` drives the shared
  * [[AsOfMerger]] and hands each merged row straight to the parent's
  * consume code, so no per-row `UnsafeProjection` materialization happens
  * between the merge and the fused parents (the interpreted path pays
  * one). `needCopyResult` is true because the merger reuses its
  * [[JoinedRow]] across rows.
  */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    rightCarried: Seq[Attribute],
    outAttrs: Seq[Attribute])
  extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = left.output ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  private def merger = new AsOfMerger(
    left.output, right.output, leftKeys, rightKeys, leftTs, rightTs,
    rightCarried)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val m = merger
    val leftOutput = left.output
    val oAttrs = outAttrs
    val outputAttrs = output

    left.execute().zipPartitions(right.execute()) { (factIter, dimIter) =>
      val resultProj = UnsafeProjection.create(outputAttrs, leftOutput ++ oAttrs)
      m.create(factIter, dimIter).map { r =>
        numOutputRows += 1
        resultProj(r)
      }
    }
  }

  // ---- whole-stage codegen ------------------------------------------------

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  override def needCopyResult: Boolean = true

  protected override def doProduce(ctx: CodegenContext): String = {
    val mergerRef = ctx.addReferenceObj("asofMerger", merger, classOf[AsOfMerger].getName)
    val iterTerm = ctx.addMutableState("scala.collection.Iterator", "asofIter",
      v => s"$v = $mergerRef.create(inputs[0], inputs[1]);")
    val numOutput = metricTerm(ctx, "numOutputRows")
    val row = ctx.freshName("asofRow")
    // bind output columns as vars off the merged row (never hand the reused
    // JoinedRow itself downstream — the stage top must build an UnsafeRow)
    ctx.INPUT_ROW = row
    ctx.currentVars = null
    val outputVars = output.zipWithIndex.map { case (a, i) =>
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        i, a.dataType, a.nullable).genCode(ctx)
    }
    // No `limitNotReachedCond` here: that guard is reserved for leaf and
    // blocking nodes (calling it from a binary node logs Spark's "[BUG]"
    // warning — and throws under spark.testing). SortMergeJoinExec's own
    // produce loop has the same shape and relies on `shouldStop()` alone;
    // a limit above this node still terminates the stage through it.
    s"""
       |while ($iterTerm.hasNext()) {
       |  InternalRow $row = (InternalRow) $iterTerm.next();
       |  $numOutput.add(1);
       |  ${consume(ctx, outputVars).trim}
       |  $shouldStopCheckCode
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
