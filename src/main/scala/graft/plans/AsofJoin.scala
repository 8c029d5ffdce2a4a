package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.{col, unix_micros, when}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Native sort-merge AS-OF join — the whole-operator custom-plan tier
  * (SURVEY §2 preference (c): LogicalPlan + Strategy + SparkPlan via
  * SparkSessionExtensions) for the one temporal operator Spark's
  * relational algebra genuinely lacks. Semantics: for every left row,
  * the single right row with the same key and the LARGEST right time
  * ≤ the left time (backward as-of, left outer — no match ⇒ nulls),
  * i.e. DuckDB's `ASOF JOIN`/pandas `merge_asof` default.
  *
  * Why a custom operator instead of the q46 union+window composition:
  * the composition shuffles the UNION of both streams and carries the
  * window machinery per row; this node asks Catalyst for exactly a
  * co-partitioned (key-clustered) + (key, time)-sorted pair of
  * children — EnsureRequirements plans the exchanges/sorts, reusing
  * any existing layout (bucketed/pre-sorted inputs join with NO
  * shuffle) — and then streams both sorted sides through an O(1)-state
  * per-partition merge: one retained candidate row per key, no
  * buffering of either side, no window frame. The merge itself is the
  * SortMergeJoinExec pattern with the inner loop specialized to
  * "advance while right ≤ left, keep last".
  *
  * Direction (round 11): `backward` (default, above) / `forward`
  * (smallest right time ≥ the left time — the "next event after"
  * probe) / `nearest` (whichever of the two candidates has the
  * smaller absolute gap; exact ties resolve backward). `tolerance`
  * (same unit as the time columns) null-pads any match whose gap
  * exceeds it — max-gap as-of, DuckDB-expressible as a post-filter
  * on the matched gap since tolerance never changes WHICH row is
  * closest. All three directions keep the same required
  * distribution/ordering and the same O(1)-state merge.
  *
  * Determinism note: if several right rows tie on (key, time), the
  * LAST in child sort order wins for backward matches and the FIRST
  * for forward matches — callers wanting cross-engine determinism
  * (the oracle does) make (key, time) unique on the right first,
  * exactly as DuckDB's ASOF JOIN documentation advises.
  * Null handling: null times must be filtered/coalesced by the caller
  * ([[AsofJoinOps.asofJoin]] rejects nullable-time plans at build).
  * Null KEYS follow SQL equality semantics (round-10 advice): a left
  * row whose key contains a null never matches (null-padded output),
  * and null-keyed right rows are skipped.
  */
case class AsofJoin(left: LogicalPlan, right: LogicalPlan,
                    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                    leftTime: Expression, rightTime: Expression,
                    direction: String = "backward",
                    tolerance: Option[Long] = None)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: 1:1 physical mapping. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, dir, tol) =>
      AsofJoinExec(lk, rk, lt, rt, planLater(l), planLater(r), dir, tol) :: Nil
    case _ => Nil
  }
}

/** Physical backward as-of merge. Child requirements make Catalyst do
  * the heavy lifting: key-clustered distribution (co-partitioned
  * exchange pair, or none if the layout already clusters) and
  * (key, time) ascending sort on both sides. Execution is a
  * zip-partitions merge with one retained row of state.
  */
case class AsofJoinExec(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                        leftTime: Expression, rightTime: Expression,
                        left: SparkPlan, right: SparkPlan,
                        direction: String = "backward",
                        tolerance: Option[Long] = None)
    extends BinaryExecNode {

  require(leftTime.dataType == LongType && rightTime.dataType == LongType,
    s"as-of times must be LongType, got ${leftTime.dataType}/${rightTime.dataType}")
  require(Set("backward", "forward", "nearest").contains(direction),
    s"as-of direction must be backward/forward/nearest, got $direction")
  require(tolerance.forall(_ >= 0L), "as-of tolerance must be >= 0")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    val outAttrs = output
    val nRight = rOut.length
    val dir = direction
    val tolOpt = tolerance
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val inTol: Long => Boolean = gap => tolOpt.forall(gap <= _)
      new Iterator[InternalRow] {
        // un-consumed right row: held by REFERENCE between next()
        // calls — valid because the sorter's row memory (and the key
        // projection's reused buffer) is only overwritten on the next
        // rIter.next()/rKeyProj call, which we only make while rHead
        // is null
        private var rHead: InternalRow = null
        private var rHeadKey: UnsafeRow = null
        private var rHeadTime: Long = 0L
        private var candidate: InternalRow = null // last right ≤ left time
        private var candidateKey: UnsafeRow = null
        private var candidateTime: Long = 0L

        /** Load the next right row with a fully non-null key into
          * rHead (null-keyed rows can never equality-match — SQL
          * semantics — and nulls sort first, so skipping here is
          * order-consistent). False when the right side is exhausted.
          */
        private def fillRHead(): Boolean = {
          while (rHead == null && rIter.hasNext) {
            val r = rIter.next()
            val rk = rKeyProj(r)
            if (!rk.anyNull) {
              rHead = r
              rHeadKey = rk
              rHeadTime = rTimeProj(r).getLong(0)
            }
          }
          rHead != null
        }

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l)
          val lt = lTimeProj(l).getLong(0)
          var matched: InternalRow = null
          if (!lk.anyNull) {
            if (dir == "forward") {
              // advance to the first right row with key ≥ lk and (on
              // key equality) time ≥ lt; rows passed over can never
              // match a LATER left row either (left sorted ascending)
              var done = false
              while (!done) {
                if (!fillRHead()) done = true
                else {
                  val cmp = keyOrd.compare(rHeadKey, lk)
                  if (cmp < 0 || (cmp == 0 && rHeadTime < lt)) rHead = null
                  else done = true
                }
              }
              if (rHead != null && keyOrd.compare(rHeadKey, lk) == 0 &&
                  inTol(rHeadTime - lt)) matched = rHead
            } else {
              // backward walk (shared by backward and nearest):
              // consume right rows at-or-before lt into the candidate;
              // stop on a future key or future time — for nearest that
              // stopped-at row IS the forward candidate
              var done = false
              while (!done) {
                if (!fillRHead()) done = true
                else {
                  val cmp = keyOrd.compare(rHeadKey, lk)
                  if (cmp < 0) rHead = null // left sorted: never needed again
                  else if (cmp == 0 && rHeadTime <= lt) {
                    // copies detach from the iterator's reused row memory
                    candidate = rHead.copy()
                    candidateKey = rHeadKey.copy()
                    candidateTime = rHeadTime
                    rHead = null
                  } else done = true
                }
              }
              val backOk = candidate != null &&
                keyOrd.compare(candidateKey, lk) == 0 && inTol(lt - candidateTime)
              if (dir == "nearest") {
                val fwdOk = rHead != null &&
                  keyOrd.compare(rHeadKey, lk) == 0 && inTol(rHeadTime - lt)
                matched =
                  if (backOk && fwdOk)
                    // exact gap tie resolves backward (≤)
                    (if (lt - candidateTime <= rHeadTime - lt) candidate else rHead)
                  else if (backOk) candidate
                  else if (fwdOk) rHead
                  else null
              } else if (backOk) matched = candidate
            }
          }
          resultProj(
            if (matched != null) joined(l, matched) else joined(l, nullRight))
        }
      }
    }
  }
}

/** DataFrame-level API + session installation. */
object AsofJoinOps {

  /** Register the strategy on an existing session (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy

  /** As-of join `left` to `right` on equal `keys`; `direction`
    * picks the time predicate — `backward` (default): most recent
    * right row with time ≤ left's; `forward`: earliest right row with
    * time ≥ left's; `nearest`: smaller absolute gap of the two, ties
    * backward. `tolerance` (in the compared unit: unix MICROS for
    * timestamp columns, the raw long value otherwise) null-pads
    * matches whose gap exceeds it. Left outer in all modes. Timestamp
    * time columns compare as unix micros; integer ones as longs.
    * Right columns come back null-padded on no match. Right time
    * columns that are nullable must be pre-filtered (the merge
    * compares primitive longs). Null join keys never match (SQL
    * equality semantics).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTimeCol: String, rightTimeCol: String,
               direction: String = "backward",
               tolerance: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    install(spark)
    val l2 = withLongTime(left, leftTimeCol, "__asof_lt")
    val r2raw = withLongTime(right, rightTimeCol, "__asof_rt")
    // self-join safety: left and right may share a lineage (and thus
    // attribute ids); re-aliasing every right column mints fresh
    // exprIds at the subtree boundary, so the node's right keys stay
    // bound when the analyzer deduplicates the shared relations below
    val r2 = r2raw.select(r2raw.columns.map(c => col(c).as(c)): _*)
    val lPlan = l2.queryExecution.analyzed
    val rPlan = r2.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name"))
    val node = AsofJoin(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, "__asof_lt"), attr(rPlan, "__asof_rt"),
      direction, tolerance)
    // USING-join output shape: left columns + right non-key columns
    // (the right keys equal the left's by construction; keeping both
    // would make every key reference ambiguous downstream)
    val dropNames = (keys :+ "__asof_rt").toSet
    val kept = lPlan.output.filterNot(_.name == "__asof_lt") ++
      node.output.drop(lPlan.output.length)
        .filterNot(a => dropNames.contains(a.name))
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      org.apache.spark.sql.catalyst.plans.logical.Project(kept, node))
  }

  /** BROADCAST backward as-of join — the small-dimension twin of
    * [[asofJoin]] (same output contract: left columns + right
    * non-key columns, null-padded on no match). The right side
    * collapses to ONE sorted (time, payload…) array per key, rides a
    * broadcast hash join, and each left row resolves its match with
    * the codegen'd [[graft.functions.SortedFloorIndex]] binary
    * search — the LEFT SIDE IS NEVER SHUFFLED OR SORTED. At 100 TB
    * this is the right plan whenever the right side is
    * dimension-sized (a rate ledger, a version history): the sorted
    * exec's exchange pair costs a full pass over the fact table that
    * this plan simply doesn't make. The trade is enforced like
    * [[graft.streaming.StreamingAsof.buildLookup]]: the right side
    * is counted first and anything above `maxRightRows` throws with
    * a pointer back to the distributed operator.
    *
    * Ties on (key, time) resolve to the largest payload tuple (the
    * struct array sorts by (time, payload…) and the floor index
    * lands on the last duplicate) — same "last wins" discipline as
    * the sorted exec; dedup first for cross-engine determinism.
    * Right rows with null time are dropped (they can never match);
    * null keys never match on either side (SQL join semantics, for
    * free from the broadcast hash join).
    */
  def asofJoinBroadcast(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTimeCol: String, rightTimeCol: String,
      maxRightRows: Long = 2000000L): DataFrame = {
    val spark = left.sparkSession
    val n = right.count()
    require(n <= maxRightRows,
      s"asofJoinBroadcast right side has $n rows > maxRightRows=$maxRightRows: " +
        "the per-key arrays broadcast to every task — use asofJoin " +
        "(distributed sort-merge) for the big-big case")
    val payload = right.columns.filterNot(keys.contains)
    require(payload.forall(c => !left.columns.contains(c)),
      s"right non-key columns ${payload.mkString(",")} must not collide with left")
    val l2 = withLongTime(left, leftTimeCol, "__asof_lt")
    val r2 = withLongTime(right, rightTimeCol, "__asof_rt")
      .filter(col("__asof_rt").isNotNull)
    val arrCol = org.apache.spark.sql.functions.sort_array(
      org.apache.spark.sql.functions.collect_list(
        org.apache.spark.sql.functions.struct(
          (col("__asof_rt").as("__t") +: payload.map(col)): _*)))
    val dim = r2.groupBy(keys.map(col): _*)
      .agg(arrCol.as("__asof_arr"))
      .withColumn("__asof_times",
        org.apache.spark.sql.functions.expr(
          "transform(__asof_arr, x -> x.__t)"))
    val idx = graft.functions.SortedFloorIndex.floorIndex(
      col("__asof_times"), col("__asof_lt"))
    val joined = l2.join(
        org.apache.spark.sql.functions.broadcast(dim), keys, "left")
      .withColumn("__asof_m", when(idx >= 0,
        org.apache.spark.sql.functions.element_at(col("__asof_arr"), idx + 1)))
    payload.foldLeft(joined) { (df, c) =>
      df.withColumn(c, col("__asof_m").getField(c))
    }.drop("__asof_lt", "__asof_arr", "__asof_times", "__asof_m")
  }

  /** Point-in-interval lookup over NON-OVERLAPPING keyed intervals
    * ([start, end), open end = null): an as-of join on the interval
    * start plus the end filter — the SCD2 "state at time t" probe
    * expressed through the native operator. Rows whose matched
    * interval has already closed before t come back null-padded (the
    * probe time falls in a gap), exactly like a no-match.
    */
  def pointInInterval(left: DataFrame, intervals: DataFrame,
                      keys: Seq[String], leftTimeCol: String,
                      startCol: String, endCol: String): DataFrame = {
    val joined = asofJoin(left, intervals, keys, leftTimeCol, startCol)
    // materialize the predicate FIRST: nulling endCol in the fold
    // would flip `isNull` for the columns processed after it
    val inWindow = col(endCol).isNull ||
      asLongCol(left, leftTimeCol) < asLongCol(intervals, endCol)
    val marked = joined.withColumn("__piv_in", inWindow)
    val rightCols = intervals.columns.filterNot(keys.contains)
    rightCols.foldLeft(marked) { (df, c) =>
      df.withColumn(c, when(col("__piv_in"), col(c)))
    }.drop("__piv_in")
  }

  /** Shared time normalization: timestamps to unix micros, integral
    * types to long, in a fresh output column.
    */
  private def withLongTime(df: DataFrame, c: String, out: String): DataFrame = {
    val t = df.schema(c).dataType
    val cast = if (t == TimestampType) unix_micros(col(c))
      else col(c).cast(LongType)
    df.withColumn(out, cast)
  }

  /** The same long normalization [[asofJoin]] applies to time
    * columns, for expressions that must compare against them.
    */
  private def asLongCol(df: DataFrame, c: String): Column =
    if (df.schema(c).dataType == TimestampType) unix_micros(col(c))
    else col(c).cast(LongType)
}
