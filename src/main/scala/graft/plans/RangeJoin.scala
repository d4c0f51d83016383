package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** First-class range join (time-proximity join): pairs of rows sharing a
  * key whose long-typed "timestamp" columns lie within `windowMicros` of
  * each other — the whole-operator extension tier ((c) in the preference
  * order: custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`, injected
  * via `GraftExtensions`).
  *
  * Why a custom operator: Spark has no native range join. The composable
  * route (`Events.rangeJoinBinned`) rewrites the range predicate as an
  * equi-join on time buckets with a 3-way explode — correct and bounded,
  * but it shuffles 3× the rows and then filters ~2/3 of the candidate
  * pairs back out. This operator plans the range predicate directly:
  * both sides hash-partition by key ONCE (no explode), sort by
  * (key, ts) — requirements Catalyst satisfies with the same machinery
  * a sort-merge join uses — and a per-partition two-pointer merge emits
  * exactly the in-window pairs. Memory is bounded by the per-key right
  * group (the sort-merge-join buffer bound); the window pointer is
  * monotone because both inputs are time-sorted.
  */
case class RangeJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    windowMicros: Long) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RangeJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: RangeJoinPlan → RangeJoinExec. Injected by
  * `graft.GraftExtensions`. */
object GraftStrategies extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoinPlan(l, r, lk, rk, lt, rt, w) =>
      RangeJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, w) :: Nil
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tb, outer) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb,
        outer) :: Nil
    case _ => Nil
  }
}

case class RangeJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    windowMicros: Long) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  // same machinery as SortMergeJoin: co-partition by key, sort by
  // (key, ts); EnsureRequirements inserts the exchanges/sorts
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  // rows stream out in left order/partitioning — downstream per-key
  // aggregates reuse the exchange instead of re-shuffling
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val w = windowMicros
    val lKeyTs = (leftKey, leftTs)
    val rKeyTs = (rightKey, rightTs)
    val lOut = left.output
    val rOut = right.output
    val allOut = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lProj = UnsafeProjection.create(Seq(lKeyTs._1, lKeyTs._2), lOut)
      val rProj = UnsafeProjection.create(Seq(rKeyTs._1, rKeyTs._2), rOut)
      val resultProj = UnsafeProjection.create(allOut, allOut)
      val joined = new JoinedRow

      // right side as (key, ts, copied row) — copies are required
      // because unsafe rows are reused by the upstream iterator.
      // Null keys/timestamps never match under SQL join semantics, so
      // null rows are dropped on both sides (they sort first under the
      // required ascending ordering, so filtering preserves the merge
      // invariants).
      case class RRow(key: Long, ts: Long, row: InternalRow)
      val rBuf = rIter.flatMap { r =>
        val kt = rProj(r)
        if (kt.isNullAt(0) || kt.isNullAt(1)) None
        else Some(RRow(kt.getLong(0), kt.getLong(1), r.copy()))
      }.buffered

      new Iterator[InternalRow] {
        private var curKey = 0L
        private var haveKey = false
        private val group = new scala.collection.mutable.ArrayBuffer[RRow]
        private var lo = 0 // monotone window start within group
        private var gi = 0 // cursor within the current left row's matches
        private var lRow: InternalRow = _
        private var lTs = 0L

        private def advanceLeft(): Boolean = {
          while (lIter.hasNext) {
            lRow = lIter.next()
            val kt = lProj(lRow)
            if (kt.isNullAt(0) || kt.isNullAt(1)) {
              lRow = null // null key/ts never matches (SQL semantics)
            } else {
              val k = kt.getLong(0)
              lTs = kt.getLong(1)
              if (!haveKey || k != curKey) {
                // materialize the right group for this key (SMJ-style
                // bounded buffer: one key's rows)
                haveKey = true
                curKey = k
                group.clear()
                lo = 0
                while (rBuf.hasNext && rBuf.head.key < k) rBuf.next()
                while (rBuf.hasNext && rBuf.head.key == k) group += rBuf.next()
              }
              while (lo < group.length && group(lo).ts < lTs - w) lo += 1
              gi = lo
              if (gi < group.length && group(gi).ts <= lTs + w) return true
            }
          }
          false
        }

        private var ready = false
        override def hasNext: Boolean = {
          if (!ready) {
            if (gi < group.length && lRow != null &&
              group(gi).ts <= lTs + w) ready = true
            else ready = advanceLeft()
          }
          ready
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val out = resultProj(joined(lRow, group(gi).row))
          gi += 1
          ready = false
          out
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RangeJoinExec =
    copy(left = newLeft, right = newRight)
}

object RangeJoin {
  /** Range-join two DataFrames on `keyCol` with `|leftTs - rightTs| <=
    * windowMicros`. Key and ts columns must be LongType (resolved by
    * name from each side). The two inputs must be distinct plans (fresh
    * scans) so attribute ids don't collide — the analyzer's self-join
    * dedup does not run on manually built nodes. */
  def join(left: DataFrame, right: DataFrame,
      leftKeyCol: String, rightKeyCol: String,
      leftTsCol: String, rightTsCol: String,
      windowMicros: Long): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${p.output.map(_.name)}"))
    require(lPlan.outputSet.intersect(rPlan.outputSet).isEmpty,
      "left and right must be distinct plans (fresh scans) — " +
        "re-read the source for a self range join")
    org.apache.spark.sql.graftbridge.GraftBridge.ofRows(spark,
      RangeJoinPlan(lPlan, rPlan,
        attr(lPlan, leftKeyCol), attr(rPlan, rightKeyCol),
        attr(lPlan, leftTsCol), attr(rPlan, rightTsCol), windowMicros))
  }
}
