package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** AS-OF JOIN as a first-class operator: LogicalPlan + Strategy + SparkPlan
  * (SURVEY §7.3 / extension level (c)).
  *
  * Semantics: for every left row, attach the LAST right row with the same
  * key whose time is <= the left row's time — ties resolved by the right
  * tie-break ordering (last wins) — or nulls if none: the classic
  * point-in-time lookup. `j6_asof_join` computes the same result via
  * union + last(ignoreNulls) windows; this operator is the direct physical
  * form:
  *
  *  - requiredChildDistribution clusters BOTH sides on the key → one
  *    co-partitioning exchange each, exactly like a shuffle join;
  *  - requiredChildOrdering sorts partitions by (key, time[, tiebreak]) →
  *    the merge is one forward pass, O(n+m) per partition, holding exactly
  *    one buffered right row — no window buffers, no unioned stream;
  *  - that profile is what survives 100 TB: shuffle on key once, stream.
  *
  * Keys and times may be ANY orderable type (numeric, string, date,
  * timestamp, …) — the merge compares through interpreted orderings for
  * the declared data types. `inclusive` picks the bound: true = last right
  * row with time <= left time (the default point-in-time lookup), false =
  * strictly earlier (time < left time — "as of just before", the form that
  * excludes same-instant lookahead).
  */
object AsOfJoin {

  final case class AsOfJoinNode(
      left: LogicalPlan, right: LogicalPlan,
      leftKey: Expression, rightKey: Expression,
      leftTime: Expression, rightTime: Expression,
      rightTieBreak: Seq[Expression],
      inclusive: Boolean)
      extends BinaryNode {
    // right side is outer: its attributes become nullable
    override def output: Seq[Attribute] =
      left.output ++ right.output.map(_.withNullability(true))
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
      copy(left = newLeft, right = newRight)
  }

  object AsOfStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsOfJoinNode(l, r, lk, rk, lt, rt, tb, inc) =>
        AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb, inc) :: Nil
      case _ => Nil
    }
  }

  final case class AsOfJoinExec(
      left: SparkPlan, right: SparkPlan,
      leftKey: Expression, rightKey: Expression,
      leftTime: Expression, rightTime: Expression,
      rightTieBreak: Seq[Expression],
      inclusive: Boolean)
      extends BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output ++ right.output.map(_.withNullability(true))

    override def requiredChildDistribution: Seq[Distribution] =
      Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      Seq(
        Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
        Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
          rightTieBreak.map(SortOrder(_, Ascending)))

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
      copy(left = newLeft, right = newRight)

    override protected def doExecute(): RDD[InternalRow] = {
      val lOut = left.output
      val rOut = right.output
      val outAttrs = output
      val lk = leftKey; val rk = rightKey; val lt = leftTime; val rt = rightTime
      val inc = inclusive
      val keyType = lk.dataType
      val timeType = lt.dataType
      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        val lktProj = UnsafeProjection.create(Seq(lk, lt), lOut)
        val rktProj = UnsafeProjection.create(Seq(rk, rt), rOut)
        val outProj = UnsafeProjection.create(outAttrs, outAttrs)
        val nullRight = new GenericInternalRow(rOut.length)
        val joined = new JoinedRow
        // interpreted orderings generalize the merge to any orderable type;
        // the per-row cost is one virtual call — the pass stays O(n+m)
        val keyOrd = TypeUtils.getInterpretedOrdering(keyType)
        val timeOrd = TypeUtils.getInterpretedOrdering(timeType)
        // inclusive: fold right rows with time <= left time; exclusive: <
        val timeBound = if (inc) 0 else -1

        new Iterator[InternalRow] {
          private var rKey: Any = _
          private var rTime: Any = _
          private var rRow: InternalRow = _   // buffered right row, not yet folded
          private var rHave = false
          private var matchRow: InternalRow = _
          private var matchKey: Any = _
          private var matchValid = false

          private def advanceRight(): Unit = {
            // skip right rows with null key/time: SQL comparison semantics —
            // they can never match a left row
            while (rIter.hasNext) {
              val r = rIter.next()
              val kt = rktProj(r)
              if (!kt.isNullAt(0) && !kt.isNullAt(1)) {
                // copy out of the reused projection buffer (UTF8String etc.
                // point into it; the next projection overwrites)
                rKey = InternalRow.copyValue(kt.get(0, keyType))
                rTime = InternalRow.copyValue(kt.get(1, timeType))
                rRow = r.copy()
                rHave = true
                return
              }
            }
            rHave = false
          }

          advanceRight()

          override def hasNext: Boolean = lIter.hasNext

          override def next(): InternalRow = {
            val l = lIter.next()
            val kt = lktProj(l)
            if (kt.isNullAt(0) || kt.isNullAt(1)) return outProj(joined(l, nullRight))
            val lKey = kt.get(0, keyType)
            val lTime = kt.get(1, timeType)
            while (rHave && {
              val c = keyOrd.compare(rKey, lKey)
              c < 0 || (c == 0 && timeOrd.compare(rTime, lTime) <= timeBound)
            }) {
              matchRow = rRow; matchKey = rKey; matchValid = true
              advanceRight()
            }
            if (matchValid && keyOrd.compare(matchKey, lKey) == 0)
              outProj(joined(l, matchRow))
            else outProj(joined(l, nullRight))
          }
        }
      }
    }
  }

  /** Public API (columns resolved by name against each side). The node is
    * planned by [[AsOfStrategy]], which [[graft.functions.GraftExtensions]]
    * injects when the session is built (as `GraftSession.build` does);
    * this call leaves the session as it is.
    * {{{
    * AsOfJoin(events, orders,
    *   leftKey = "user_id", rightKey = "o_custkey",
    *   leftTime = "ts", rightTime = "o_orderdate",
    *   rightTieBreak = Seq("o_orderkey"))
    * }}}
    */
  def apply(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String] = Nil,
      inclusive: Boolean = true): DataFrame = {
    val spark: SparkSession = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(", ")}"))
    val (lk, rk) = (attr(lPlan, leftKey), attr(rPlan, rightKey))
    val (lt, rt) = (attr(lPlan, leftTime), attr(rPlan, rightTime))
    // same type, or the same physical comparison: TIMESTAMP and
    // TIMESTAMP_NTZ are both micros-since-epoch Longs and merge correctly
    def comparable(a: org.apache.spark.sql.types.DataType,
        b: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      org.apache.spark.sql.catalyst.types.DataTypeUtils.sameType(a, b) ||
        Set[org.apache.spark.sql.types.DataType](TimestampType, TimestampNTZType) == Set(a, b)
    }
    require(comparable(lk.dataType, rk.dataType),
      s"key types differ: ${lk.dataType} vs ${rk.dataType}")
    require(comparable(lt.dataType, rt.dataType),
      s"time types differ: ${lt.dataType} vs ${rt.dataType}")
    Seq(lk, lt).foreach(a => require(RowOrdering.isOrderable(a.dataType),
      s"${a.name}: ${a.dataType} is not orderable"))
    GraftSqlBridge.ofRows(spark, AsOfJoinNode(
      lPlan, rPlan, lk, rk, lt, rt,
      rightTieBreak.map(attr(rPlan, _)), inclusive))
  }
}
