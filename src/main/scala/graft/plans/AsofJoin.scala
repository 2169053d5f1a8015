package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF JOIN as a first-class operator: logical node → planner
  * strategy → sorted-merge physical operator (SURVEY.md §7.4 option c —
  * the "whole-operator semantics" modality of the custom-Catalyst
  * surface, alongside the expression ([[graft.functions.ArrayDot]]) and
  * typed-Aggregator ([[graft.functions.EmbeddingCentroid]]) modalities).
  *
  * Semantics (matches [[graft.ops.Ops.asofJoin]] and DuckDB
  * `ASOF LEFT JOIN ... ON l.key = r.key AND l.ts >= r.ts`): every left
  * row keeps the payload of the LATEST right row with equal keys and
  * `r.ts <= l.ts`, or nulls when none exists.
  *
  * Why a physical operator when the composed form already works: the
  * union+window composition shuffles BOTH inputs into one exchange and
  * sorts the union; this operator hash-partitions each side on its own
  * keys, sorts each side separately (`requiredChildOrdering` — both
  * exchanges and sorts are planned by `EnsureRequirements`, so AQE and
  * reuse apply as usual), then streams one O(|l|+|r|) merge pass per
  * partition with O(1) state — no window buffering, no union schema
  * padding, and the left side's columns never travel through a struct.
  * At 100 TB both are one-shuffle-per-side plans; the merge form is
  * strictly leaner per row.
  */
case class AsofJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                        leftTime: Attribute, rightTime: Attribute,
                        payload: Seq[Attribute]) extends BinaryNode {
  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty)
  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinPlan]] onto [[AsofJoinExec]]. Installed by
  * [[graft.GraftExtensions]] (`injectPlannerStrategy`); on a session
  * without the extension, [[AsofJoin.register]] adds it.
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, p) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, p) :: Nil
    case _ => Nil
  }
}

/** Per-partition sorted-merge as-of join. `EnsureRequirements`
  * satisfies the declared distribution (hash on keys, co-partitioned —
  * the same mechanism `CoGroupExec` uses) and ordering (keys asc, time
  * asc), so `doExecute` sees aligned partitions already sorted and
  * keeps exactly one candidate payload per current key.
  */
case class AsofJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                        leftTime: Attribute, rightTime: Attribute,
                        payload: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = {
    // Deterministic ties: the merge keeps the LAST right row accepted
    // for a (key, ts), so with the sort ending at rightTime, equal-ts
    // duplicates would be kept in partition-arrival order — a run-to-
    // run nondeterminism the oracle hash-compare would eventually
    // catch. Appending the orderable payload columns totals the order
    // (the kept row becomes the payload-wise maximum); unorderable
    // payload types (maps) are skipped, leaving ties among only those
    // columns documented-unspecified.
    val tieBreak = payload.filter(a => RowOrdering.isOrderable(a.dataType))
    Seq(
      (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
      ((rightKeys :+ rightTime) ++ tieBreak).map(SortOrder(_, Ascending)))
  }

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val payloadAttrs = payload
    val lKeyExprs: Seq[Expression] = leftKeys
    val rKeyExprs: Seq[Expression] = rightKeys
    val lTimeExpr: Expression = leftTime
    val rTimeExpr: Expression = rightTime
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd =
        TypeUtils.getInterpretedOrdering(timeType)
          .asInstanceOf[Ordering[Any]]
      val lTimeEval = BindReferences.bindReference(lTimeExpr, lOut)
      val rTimeEval = BindReferences.bindReference(rTimeExpr, rOut)
      val payloadProj = UnsafeProjection.create(payloadAttrs, rOut)
      // payload attrs must be nullable in the INPUT schema too:
      // BindReferences takes nullability from the input attribute, and
      // a non-nullable bound reference would read the null-payload row
      // as zeros instead of nulls
      val nullablePayload = payloadAttrs.map(_.withNullability(true))
      val resultProj = UnsafeProjection.create(
        lOut ++ nullablePayload, lOut ++ nullablePayload)
      val nullPayload = new GenericInternalRow(payloadAttrs.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // next right row not yet consumed (NOT copied — consumed or
        // abandoned before the underlying iterator advances)
        private var rBuffered: InternalRow = _
        // latest right row accepted for the CURRENT key (copied)
        private var candKey: UnsafeRow = _
        private var candPayload: UnsafeRow = _

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          if (candKey != null && keyOrd.compare(candKey, lKey) != 0) {
            candKey = null; candPayload = null
          }
          val lTime = lTimeEval.eval(l)
          // advance the right side while it is behind (key, time)
          var done = lTime == null // null left time matches nothing
          while (!done) {
            if (rBuffered == null) {
              if (rIter.hasNext) rBuffered = rIter.next() else done = true
            }
            if (!done) {
              val rKey = rKeyProj(rBuffered)
              val cmp = keyOrd.compare(rKey, lKey)
              if (cmp < 0) rBuffered = null // before this key: skip
              else if (cmp > 0) done = true // past this key: stop
              else {
                val rTime = rTimeEval.eval(rBuffered)
                // null right time matches nothing: consume and skip
                if (rTime == null) rBuffered = null
                else if (timeOrd.compare(rTime, lTime) <= 0) {
                  candKey = rKey.copy()
                  candPayload = payloadProj(rBuffered).copy()
                  rBuffered = null
                } else done = true // right side is ahead in time
              }
            }
          }
          val matched = candKey != null && keyOrd.compare(candKey, lKey) == 0
          resultProj(joined(l, if (matched) candPayload else nullPayload))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry point. */
object AsofJoin {
  import org.apache.spark.sql.graftshim.PlanBridge

  /** Ensure [[AsofJoinStrategy]] plans on `spark`. A no-op when the
    * session's planner already carries it — every session built with
    * [[graft.GraftExtensions]] (all [[graft.GraftSession]] sessions)
    * does, so theirs is never mutated at runtime. A caller's plain
    * session gets it through `experimental.extraStrategies`, the public
    * per-session hook (idempotent: the planner then carries it).
    */
  def register(spark: SparkSession): Unit =
    if (!spark.sessionState.planner.strategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy

  /** Native as-of join: `left` enriched with `payloadCols` of the
    * latest `right` row per `keyCols` with `right.tsCol <= left.tsCol`.
    * Same contract as [[graft.ops.Ops.asofJoin]] (see the collision
    * require there). The right side is re-aliased internally so both
    * sides may derive from the same scan (the common
    * filter-same-table-twice usage) without attribute collisions.
    */
  def asof(left: DataFrame, right: DataFrame, keyCols: Seq[String],
           tsCol: String, payloadCols: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    register(spark)
    require(payloadCols.intersect(left.columns.toSeq).isEmpty,
      "payload columns collide with left-side column names")
    val lPlan = PlanBridge.analyzed(left)
    // fresh exprIds on the right so self-join-style inputs can't share
    // attributes with the left
    val rPlan = PlanBridge.analyzed(right.select(
      right.columns.toSeq.map(c => org.apache.spark.sql.functions.col(c)
        .as(c)): _*))
    def find(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column '$name' not in ${plan.output.map(_.name).mkString(", ")}"))
    val node = AsofJoinPlan(lPlan, rPlan,
      keyCols.map(find(lPlan, _)), keyCols.map(find(rPlan, _)),
      find(lPlan, tsCol), find(rPlan, tsCol),
      payloadCols.map(find(rPlan, _)))
    PlanBridge.ofRows(spark, node)
  }
}
