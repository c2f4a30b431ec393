package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, AttributeReference, AttributeSet,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Native gap-sessionization — the second §2.L preference-(c) operator
  * (after [[AsOfJoin]]) and the engine's only sessionizer: append a
  * per-key `session_id` where a gap greater than `gapMicros` between
  * consecutive timestamps starts a new session.
  *
  * Why a physical operator: the declarative form is lag → flag → running
  * sum — TWO window functions over the same `(keys) ORDER BY (ts, tie…)`
  * frame, and a Window operator BUFFERS each partition group (spilling
  * past `spark.sql.windowExec.buffer.spill.threshold`) and evaluates two
  * frame computers per row. This operator declares the identical
  * distribution/ordering requirements — EnsureRequirements plans the same
  * single exchange + sort, AQE applies — and then streams each partition
  * in ONE forward pass with O(1) state (previous keys, previous ts, a
  * counter): no group buffer, no spill threshold, no per-row frame
  * evaluation. The 100 TB upshot: a hot key's multi-GB event history
  * never needs to fit a window buffer (SCALING.md: 7.9 s vs 20.8 s for
  * the window form at 60M events).
  *
  * Semantics — EXACTLY the window form's, which the DuckDB oracle spells:
  * ordering `(keys…, ts, tie…)` ascending nulls-first; a row starts a new
  * session iff it is the key tuple's first row, or the previous row's ts
  * is NULL, or `ts > prev_ts + gap` (strict), or (with `entity`) the
  * entity differs null-safely from the previous row's. Keys compare
  * null-safely, so NULL keys form one group, like window partitioning.
  * `session_id` starts at 1 per key tuple.
  */
case class Sessionize(
    child: LogicalPlan,
    keys: Seq[Attribute],
    ts: Attribute,
    tie: Seq[Attribute],
    gapMicros: Long,
    entity: Option[Attribute],
    sessionAttr: AttributeReference) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ sessionAttr
  override def producedAttributes: AttributeSet = AttributeSet(sessionAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): Sessionize =
    copy(child = newChild)
}

/** Planner strategy: [[Sessionize]] → [[SessionizeExec]]. */
object SessionizeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sessionize(c, k, t, tie, gap, ent, out) =>
      SessionizeExec(planLater(c), k, t, tie, gap, ent, out) :: Nil
    case _ => Nil
  }
}

/** Physical one-pass sessionizer. The child arrives hash-partitioned on
  * the keys and sorted `(keys…, ts, tie…)` (declared requirements); each
  * partition streams through with constant state.
  */
case class SessionizeExec(
    child: SparkPlan,
    keys: Seq[Attribute],
    ts: Attribute,
    tie: Seq[Attribute],
    gapMicros: Long,
    entity: Option[Attribute],
    sessionAttr: AttributeReference) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ sessionAttr
  override def producedAttributes: AttributeSet = AttributeSet(sessionAttr)

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numSessions" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of sessions started"))

  // appending a derived column preserves the child's layout
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(keys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (keys ++ (ts +: tie)).map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    def idx(a: Attribute) = child.output.indexWhere(_.exprId == a.exprId)
    val keyIdx = keys.map(idx).toArray
    val keyTypes = keys.map(_.dataType).toArray
    val tsIdx = idx(ts)
    val entIdx = entity.map(idx).getOrElse(-1)
    val entType = entity.map(_.dataType).orNull
    val tsType = ts.dataType
    val outAttrs = output
    val gap = gapMicros
    val numOut = longMetric("numOutputRows")
    val numSessions = longMetric("numSessions")

    child.execute().mapPartitionsInternal { iter =>
      val keyOrds = keyTypes.map(TypeUtils.getInterpretedOrdering)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val idRow = new GenericInternalRow(1)

      val entOrd = if (entIdx >= 0) TypeUtils.getInterpretedOrdering(entType)
        else null
      var hasPrev = false
      val prevKeys = new Array[Any](keyIdx.length) // null = NULL key
      var prevTsNull = true
      var prevTs = 0L
      var prevEnt: Any = null
      var prevEntNull = true
      var counter = 0L

      iter.map { row =>
        val tNull = row.isNullAt(tsIdx)
        val t = if (tNull) 0L else row.get(tsIdx, tsType)
          .asInstanceOf[Number].longValue
        // null-safe equality on every key; the previous keys are then
        // replaced by stable copies — unsafe-row-backed values (UTF8String,
        // binary, structs, arrays, decimals) are reused buffers, and
        // copyValue deep-copies every buffer-backed type
        var sameKey = hasPrev
        var i = 0
        while (i < keyIdx.length) {
          val k = if (row.isNullAt(keyIdx(i))) null
            else row.get(keyIdx(i), keyTypes(i))
          val pk = prevKeys(i)
          sameKey = sameKey &&
            (if (k == null || pk == null) k == null && pk == null
             else keyOrds(i).compare(k, pk) == 0)
          prevKeys(i) = if (k == null) null else InternalRow.copyValue(k)
          i += 1
        }
        if (!sameKey) counter = 0L
        // window-form flag: first row of the keys, NULL previous ts, or a
        // strict gap. A NULL current ts never exceeds the gap (SQL 3VL) —
        // and under nulls-first ordering it can only follow another NULL.
        // entity split (null-safe <=>): a change of the entity under work
        // starts a new visit even inside the time gap
        val entNull = entIdx >= 0 && row.isNullAt(entIdx)
        val ent = if (entIdx < 0 || entNull) null else row.get(entIdx, entType)
        val entityChanged = entIdx >= 0 && sameKey &&
          !(if (entNull || prevEntNull) entNull && prevEntNull
            else entOrd.compare(ent, prevEnt) == 0)
        val newSess = !sameKey || prevTsNull ||
          (!tNull && t > prevTs + gap) || entityChanged
        if (newSess) { counter += 1L; numSessions += 1 }
        hasPrev = true
        prevEntNull = entIdx < 0 || entNull
        prevEnt = if (entIdx < 0 || entNull) null else InternalRow.copyValue(ent)
        prevTsNull = tNull
        prevTs = t
        numOut += 1
        idRow.setLong(0, counter)
        resultProj(joined(row, idRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SessionizeExec =
    copy(child = newChild)
}

/** Public surface: append `session_id` to a DataFrame by column names.
  * Registers [[SessionizeStrategy]] on the frame's session, so the node
  * plans on any session. Every caller passes the gap: the engine's visit
  * rule is `graft.operators.Etl.SessionGapMinutes`.
  */
object SessionizePlan {
  def sessionize(
      df: DataFrame,
      keys: Seq[String],
      ts: String,
      tie: Seq[String],
      gapMinutes: Int,
      sessionCol: String = "session_id",
      entity: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.classic
    def attr(name: String): Attribute =
      df.queryExecution.analyzed.output
        .find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(
          s"column $name not in ${df.columns.mkString(", ")}"))
    val child = df.queryExecution.analyzed
    val sessionAttr = AttributeReference(sessionCol, LongType, nullable = false)()
    val node = Sessionize(child, keys.map(attr), attr(ts), tie.map(attr),
      gapMinutes.toLong * 60L * 1000000L, entity.map(attr), sessionAttr)
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    RegisterStrategy(session, SessionizeStrategy)
    // Re-alias the produced column. The analyzer gives a self-join's
    // second side fresh ids for a Project's aliases, not for a custom
    // node's produced attribute; without the alias both sides of
    // `sessions.as("a").join(sessions.as("b"))` share one session_id.
    classic.Dataset.ofRows(session,
      Project(child.output :+ Alias(sessionAttr, sessionCol)(), node))
  }
}
