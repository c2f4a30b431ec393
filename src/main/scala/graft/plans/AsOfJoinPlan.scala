package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native AS-OF join — the §2.L preference-(c) showcase: a whole-operator
  * semantic Spark's built-ins can only express by composition, implemented
  * as a custom `LogicalPlan` + `Strategy` + physical `SparkPlan`; the
  * public surface registers the strategy on the caller's session.
  *
  * Semantics: LEFT OUTER; for each left row, attach the LAST right row
  * (in `(key, ts, tie…)` order) with the same key and `right.ts <=
  * left.ts` — i.e. the most recent right observation at or before the
  * left timestamp, ties on ts broken by the tie columns (highest wins).
  *
  * Why a physical operator: the declarative form (the one the `join_asof`
  * DuckDB oracle spells) is `left ⋈ right ON key AND rts <= lts` followed
  * by a rank-1 window —
  * at 100 TB the intermediate join FANS OUT to every historical right row
  * per left row (a purchase joins its user's ENTIRE view history) before
  * the group-limit prunes; Spark's InferWindowGroupLimit bounds the
  * per-group buffer but the probe still walks every match. This operator
  * is the plan you'd want instead: both sides hash-partitioned on the key
  * and sorted `(key, ts)` — the sort-merge-join layout — then ONE forward
  * linear merge per partition (each side read exactly once, O(left +
  * right), zero fan-out, constant memory: the single candidate row).
  * Requirements are declared via `requiredChildDistribution/Ordering`, so
  * EnsureRequirements plans the co-partitioned exchanges and sorts — AQE
  * and reuse apply to them like any join's.
  *
  * Null semantics match the declarative form: a NULL left key or ts matches
  * nothing (row still emitted, right side NULL); NULL right keys/ts are
  * skipped (`=` and `<=` are never true through NULL).
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTs: Attribute,
    rightTs: Attribute,
    rightTie: Seq[Attribute],
    forward: Boolean = false,
    toleranceMicros: Option[Long] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: [[AsOfJoin]] → [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lts, rts, tie, fwd, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, tie, fwd,
        tol) :: Nil
    case _ => Nil
  }
}

/** Physical as-of merge join. Children arrive co-hash-partitioned on the
  * key and sorted `(key, ts[, tie…])` (declared requirements); each
  * partition pair merges in one forward pass holding one candidate row.
  */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTs: Attribute,
    rightTs: Attribute,
    rightTie: Seq[Attribute],
    forward: Boolean = false,
    toleranceMicros: Option[Long] = None) extends BinaryExecNode {

  require(toleranceMicros.isEmpty ||
    Seq(leftTs.dataType, rightTs.dataType).forall(t =>
      t == org.apache.spark.sql.types.TimestampType ||
        t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType),
    "tolerance requires long-representable timestamp columns")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of matched rows"))

  // the merge preserves the left child's partitioning and ordering
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(leftKey)),
    ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    SortOrder(rightKey, Ascending) +: SortOrder(rightTs, Ascending) +:
      rightTie.map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyIdx = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTsIdx = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rKeyIdx = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTsIdx = right.output.indexWhere(_.exprId == rightTs.exprId)
    val keyType = leftKey.dataType
    val tsType = leftTs.dataType
    val rightWidth = right.output.length
    val outAttrs = output
    val numOut = longMetric("numOutputRows")
    val numMatched = longMetric("numMatchedRows")

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val keyOrd = TypeUtils.getInterpretedOrdering(keyType)
      val tsOrd = TypeUtils.getInterpretedOrdering(tsType)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val rBuf = rIter.buffered

      // the one candidate: the last right row seen for `matchKey` with
      // ts within every threshold processed so far (thresholds only grow
      // within a key because the left side is (key, ts)-sorted)
      var matchRow: InternalRow = null
      var matchKey: Any = null
      var matchTs: Long = 0L
      val tol = toleranceMicros
      def asLong(v: Any): Long = v.asInstanceOf[Number].longValue

      lIter.map { lRow =>
        val lKey = if (lRow.isNullAt(lKeyIdx)) null
          else lRow.get(lKeyIdx, keyType)
        val lTs = if (lRow.isNullAt(lTsIdx)) null
          else lRow.get(lTsIdx, tsType)
        numOut += 1
        if (lKey == null || lTs == null) {
          // SQL equality/<=/>= never hold through NULL: emit unmatched
          resultProj(joined(lRow, nullRight))
        } else if (forward) {
          // FIRST right row with same key and rts >= lts: rows strictly
          // before the (growing) threshold are dead for this and every
          // later left row, so drop them; the surviving head is the
          // match and is NOT consumed (it may serve later left rows too)
          var advance = true
          while (advance && rBuf.hasNext) {
            val r = rBuf.head
            if (r.isNullAt(rKeyIdx)) rBuf.next() // NULL keys sort first
            else {
              val kc = keyOrd.compare(r.get(rKeyIdx, keyType), lKey)
              if (kc < 0) rBuf.next() // earlier key: never matches again
              else if (kc == 0) {
                // NULL ts sorts first within the key and never matches
                if (r.isNullAt(rTsIdx)) rBuf.next()
                else if (tsOrd.compare(r.get(rTsIdx, tsType), lTs) < 0)
                  rBuf.next() // strictly before the threshold: dead
                else advance = false // head IS the first at-or-after
              } else advance = false // right is ahead: no match
            }
          }
          val m =
            if (rBuf.hasNext && !rBuf.head.isNullAt(rKeyIdx) &&
              keyOrd.compare(rBuf.head.get(rKeyIdx, keyType), lKey) == 0 &&
              // tolerance: the head is the NEAREST at-or-after, so if it
              // is beyond the window nothing closer exists
              tol.forall(t =>
                asLong(rBuf.head.get(rTsIdx, tsType)) - asLong(lTs) <= t))
              rBuf.head
            else nullRight
          if (m ne nullRight) numMatched += 1
          resultProj(joined(lRow, m))
        } else {
          if (matchRow != null && keyOrd.compare(matchKey, lKey) != 0) {
            matchRow = null; matchKey = null
          }
          var advance = true
          while (advance && rBuf.hasNext) {
            val r = rBuf.head
            val rKeyNull = r.isNullAt(rKeyIdx)
            val rKey = if (rKeyNull) null else r.get(rKeyIdx, keyType)
            // NULL right keys sort first under Ascending: skip them
            if (rKeyNull) rBuf.next()
            else {
              val kc = keyOrd.compare(rKey, lKey)
              if (kc < 0) rBuf.next() // earlier key: never matches again
              else if (kc == 0) {
                val rTsNull = r.isNullAt(rTsIdx)
                if (rTsNull) rBuf.next() // NULL ts never satisfies <=
                else if (tsOrd.compare(r.get(rTsIdx, tsType), lTs) <= 0) {
                  // candidate; later qualifying rows overwrite (ties on
                  // ts resolve to the highest tie columns via the sort)
                  if (tol.isDefined) matchTs = asLong(r.get(rTsIdx, tsType))
                  matchRow = rBuf.next().copy()
                  matchKey = lKey
                } else advance = false // first right row beyond threshold
              } else advance = false // right is ahead: wait for left
            }
          }
          // tolerance: the remembered candidate is the NEAREST at-or-
          // before; if it is beyond the window nothing closer exists
          val ok = (matchRow ne null) &&
            tol.forall(t => asLong(lTs) - matchTs <= t)
          if (ok) numMatched += 1
          resultProj(joined(lRow, if (ok) matchRow else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public surface: build the logical node from two DataFrames by column
  * name. Registers [[AsOfJoinStrategy]] on the left frame's session, so
  * the node plans on any session.
  */
object AsOfJoinPlan {
  def asof(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      rightTie: Seq[String] = Nil,
      forward: Boolean = false,
      toleranceMicros: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.classic
    def attr(df: DataFrame, name: String): Attribute =
      df.queryExecution.analyzed.output
        .find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(
          s"column $name not in ${df.columns.mkString(", ")}"))
    val node = AsOfJoin(
      left.queryExecution.analyzed, right.queryExecution.analyzed,
      attr(left, leftKey), attr(right, rightKey),
      attr(left, leftTs), attr(right, rightTs),
      rightTie.map(attr(right, _)), forward, toleranceMicros)
    val session = left.sparkSession.asInstanceOf[classic.SparkSession]
    RegisterStrategy(session, AsOfJoinStrategy)
    classic.Dataset.ofRows(session, node)
  }
}
