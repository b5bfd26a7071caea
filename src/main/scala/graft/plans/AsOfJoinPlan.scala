package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** As-of join as a WHOLE-OPERATOR Catalyst extension — the (c) rung of
  * the custom-operator ladder (compose > custom Expression > custom
  * LogicalPlan + Strategy + SparkPlan), next to the union+window
  * composition at [[graft.operators.AsOfJoin.asOf]] which is rung (a).
  *
  * Why a physical operator can beat the composition: the window
  * formulation unions BOTH sides into one frame, so the per-key sort
  * runs over |left| + |right| rows and every left row carries null-
  * padded right columns through the shuffle. This operator keeps the
  * sides separate — each shuffles and sorts only itself (Spark inserts
  * the exchanges/sorts from `requiredChildDistribution`/`Ordering`, so
  * AQE still sizes them) — and a single forward merge pass per
  * partition produces the matches. Same one-shuffle-per-side scale
  * shape as sort-merge join, no bin tuning, no candidate duplication.
  *
  * Semantics (mirrors `asOf` exactly): for each left row, `outCol` :=
  * id of the right row in the same key group with the greatest
  * (time, id) among rows with `right.time <= left.time`, else null.
  *
  * Types are pinned to the quotes/trades shape: key and id are LONG,
  * time is TIMESTAMP or LONG (both read as a long physically).
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    rightId: Attribute,
    outAttr: Attribute) extends BinaryNode {

  override def output: Seq[Attribute] = left.output :+ outAttr

  override def producedAttributes: AttributeSet = AttributeSet(outAttr)

  // declare every passed-through left column as referenced, or column
  // pruning would insert a Project below `left` that drops them
  override def references: AttributeSet =
    AttributeSet(left.output) ++ AttributeSet(
      Seq(leftKey, leftTime, rightKey, rightTime, rightId))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: one custom logical node → one custom physical node.
  * Injected via `SparkSessionExtensions.injectPlannerStrategy` (the
  * deployment path) or appended to `spark.experimental.extraStrategies`
  * (the per-session path [[graft.operators.AsOfJoin.asOfNative]] uses).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, lt, rk, rt, rid, out) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, rid, out) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    rightId: Attribute,
    outAttr: Attribute) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ outAttr

  // both sides hash-cluster on their key — EnsureRequirements inserts
  // compatible exchanges exactly as it does for sort-merge join
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
    ClusteredDistribution(Seq(rightKey)) :: Nil

  // left sorted by (key, time); right additionally by id so the LAST
  // consumed right row at equal time is the max id — the tie rule
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightId, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lkOrd = left.output.indexWhere(_.exprId == leftKey.exprId)
    val ltOrd = left.output.indexWhere(_.exprId == leftTime.exprId)
    val rkOrd = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rtOrd = right.output.indexWhere(_.exprId == rightTime.exprId)
    val ridOrd = right.output.indexWhere(_.exprId == rightId.exprId)
    require(lkOrd >= 0 && ltOrd >= 0 && rkOrd >= 0 && rtOrd >= 0 && ridOrd >= 0,
      "as-of join attributes must come from the respective child outputs")
    Seq(leftKey, rightKey, rightId).foreach(a => require(a.dataType == LongType,
      s"as-of key/id must be LONG, got ${a.dataType} for ${a.name}"))
    Seq(leftTime, rightTime).foreach(a => require(
      a.dataType == LongType || a.dataType == TimestampType,
      s"as-of time must be LONG/TIMESTAMP, got ${a.dataType} for ${a.name}"))
    val leftSchema = left.output
    val outSchema = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outSchema, leftSchema :+ outAttr)
      val matchRow = new GenericInternalRow(1)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val r = rIter.buffered
      var curKey = 0L
      var haveKey = false
      var curMatch = 0L
      var haveMatch = false

      def rKeyNullOrBelow(k: Long): Boolean = {
        val row = r.head
        row.isNullAt(rkOrd) || row.getLong(rkOrd) < k
      }
      // rows at the key whose time is <= t (null time sorts first under
      // ASC — consumed, but can never become a match)
      def rAtKeyAndDue(k: Long, t: Long): Boolean = {
        val row = r.head
        !row.isNullAt(rkOrd) && row.getLong(rkOrd) == k &&
          (row.isNullAt(rtOrd) || row.getLong(rtOrd) <= t)
      }

      lIter.map { lrow =>
        if (lrow.isNullAt(lkOrd) || lrow.isNullAt(ltOrd)) {
          matchRow.update(0, null)
        } else {
          val k = lrow.getLong(lkOrd)
          val t = lrow.getLong(ltOrd)
          if (!haveKey || curKey != k) {
            haveKey = true; curKey = k; haveMatch = false
            while (r.hasNext && rKeyNullOrBelow(k)) r.next()
          }
          while (r.hasNext && rAtKeyAndDue(k, t)) {
            val row = r.next()
            if (!row.isNullAt(rtOrd) && !row.isNullAt(ridOrd)) {
              haveMatch = true; curMatch = row.getLong(ridOrd)
            }
          }
          if (haveMatch) matchRow.update(0, curMatch)
          else matchRow.update(0, null)
        }
        proj(joined(lrow, matchRow))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
