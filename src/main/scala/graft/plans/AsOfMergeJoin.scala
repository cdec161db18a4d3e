package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native backward as-of join as a whole physical operator — the (c)
  * preference path applied to the engine's as-of family: each left row
  * (key, t) picks up the LATEST right row of the same key with
  * right.t ≤ t, or nulls when none precedes it.
  *
  * The composed formulation ([[graft.operators.AsOfJoin.asOf]]: tagged
  * union + struct-carry window) materializes a unioned frame and runs a
  * running `last(_, ignoreNulls)` over every row of both sides. This
  * operator instead REQUESTS the join-grade layout from the planner —
  * both children hash-clustered on the key and sorted by (key, t), the
  * exact SortMergeJoin contract, inserted by EnsureRequirements — and
  * then streams the two sorted iterators through a single merge walk
  * with ONE carried right row of state. No unioned frame, no window
  * buffer, no struct packing: O(1) state per key where the window form
  * keeps its whole frame, which at 100 TB is the difference between a
  * streaming join and a spill.
  *
  * Restrictions (checked at construction): key and t are LongType on
  * both sides; ties on (key, t) among right rows resolve to the LAST
  * in the child's sort order, so callers wanting deterministic
  * tie-payloads pre-dedup the right side to one row per (key, t) —
  * the documented as-of convention.
  */
case class AsOfJoinNode(leftKey: Attribute, leftT: Attribute,
    rightKey: Attribute, rightT: Attribute,
    left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

case class AsOfMergeJoinExec(leftKey: Attribute, leftT: Attribute,
    rightKey: Attribute, rightT: Attribute,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** The SortMergeJoin layout contract: co-clustered on the keys. */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  /** Sorted by (key, t) within partitions — EnsureRequirements inserts
    * the sorts; if the child is already sorted (e.g. a previous as-of
    * on the same key) they are elided.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftT, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightT, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = Seq(
    SortOrder(leftKey, Ascending), SortOrder(leftT, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lkOrd = left.output.indexWhere(_.exprId == leftKey.exprId)
    val ltOrd = left.output.indexWhere(_.exprId == leftT.exprId)
    val rkOrd = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rtOrd = right.output.indexWhere(_.exprId == rightT.exprId)
    require(lkOrd >= 0 && ltOrd >= 0 && rkOrd >= 0 && rtOrd >= 0,
      "as-of key/time attributes must come from the respective child")
    val rightWidth = right.output.size
    val allAttrs = output
    val leftAttrs = left.output
    // bind the projection against RELAXED right nullability: unmatched
    // lefts feed an all-null right row, and a non-nullable input schema
    // would make codegen skip the null check and read garbage zeros
    val rightAttrs = right.output.map(_.withNullability(true))
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joiner = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)
      val proj = UnsafeProjection.create(allAttrs, leftAttrs ++ rightAttrs)
      var carried: InternalRow = null
      var carriedKey = 0L
      // single-row lookahead; sorted iterators reuse row buffers, so
      // the head (and anything carried) is copied on read
      var rHead: InternalRow =
        if (rIter.hasNext) rIter.next().copy() else null
      lIter.map { l =>
        val lk = l.getLong(lkOrd)
        val lt = l.getLong(ltOrd)
        while (rHead != null && {
          val rk = rHead.getLong(rkOrd)
          rk < lk || (rk == lk && rHead.getLong(rtOrd) <= lt)
        }) {
          if (rHead.getLong(rkOrd) == lk) {
            carried = rHead
            carriedKey = lk
          }
          rHead = if (rIter.hasNext) rIter.next().copy() else null
        }
        val matched = carried != null && carriedKey == lk
        proj(joiner(l, if (matched) carried else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(lk, lt, rk, rt, l, r) =>
      AsOfMergeJoinExec(lk, lt, rk, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

object AsOfMergeJoin {

  /** DataFrame API: backward as-of join of `left` (key, t, payload…)
    * with `right` (key, t, payload…) through the native exec. Both
    * frames must expose LongType `key` and `t` columns; right payload
    * columns come back nullable, with right's `t` as the match
    * timestamp.
    */
  def asOfNative(left: DataFrame, right: DataFrame): DataFrame = {
    val spark = left.sparkSession
    graft.Session.install(spark)
    def attr(df: DataFrame, n: String): Attribute =
      df.queryExecution.analyzed.output.find(_.name == n)
        .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    for (df <- Seq(left, right); n <- Seq("key", "t")) {
      require(attr(df, n).dataType ==
        org.apache.spark.sql.types.LongType, s"$n must be LongType")
    }
    org.apache.spark.sql.graft.ColumnBridge.ofRows(spark,
      AsOfJoinNode(
        attr(left, "key"), attr(left, "t"),
        attr(right, "key"), attr(right, "t"),
        left.queryExecution.analyzed, right.queryExecution.analyzed))
  }

  /** Driver-contract query: purchase→click attribution through the
    * NATIVE as-of exec — same semantics as `asof_purchase_attribution`
    * (right side pre-deduped to one row per (key, µs) keeping max
    * event_id, so the oracle's arbitrary tie pick can't diverge), same
    * DuckDB ASOF oracle.
    */
  def nativeAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(s, dir)
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id".as("key"), expr("ts_ns div 1000").as("t"),
        $"event_id")
    val clicks = ev.where($"event_type" === "click")
      .groupBy($"user_id".as("key"), expr("ts_ns div 1000").as("t"))
      .agg(max($"event_id").as("click_event_id"))
      .select($"key", $"t", $"click_event_id")
    asOfNative(purchases, clicks)
      .toDF("key", "t", "event_id", "r_key", "r_t", "click_event_id")
      .selectExpr("event_id", "key AS user_id", "click_event_id",
        "t - r_t AS gap_us")
  }

  val nativeAttributionSql: String =
    """WITH purchases AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_id FROM events
      |  WHERE event_type = 'purchase'),
      |clicks AS (
      |  SELECT user_id, epoch_us(ts) AS t, max(event_id) AS click_event_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, c.click_event_id, p.t - c.t AS gap_us
      |FROM purchases p
      |ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.t >= c.t""".stripMargin

  /** FORWARD direction through the same exec by time negation (the
    * [[graft.operators.AsOfJoin.asOfForward]] identity: smallest
    * rt ≥ lt is greatest −rt ≤ −lt) — next-error followup per
    * purchase, matching the composed `asof_next_error` semantics and
    * the negated-epoch DuckDB ASOF oracle. One code path, both
    * directions.
    */
  def nativeNextError(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(s, dir)
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id".as("key"), expr("-(ts_ns div 1000)").as("t"),
        $"event_id")
    val errors = ev.where($"event_type" === "error")
      .groupBy($"user_id".as("key"), expr("-(ts_ns div 1000)").as("t"))
      .agg(max($"event_id").as("error_event_id"))
      .select($"key", $"t", $"error_event_id")
    asOfNative(purchases, errors)
      .toDF("key", "t", "event_id", "r_key", "r_t", "error_event_id")
      .selectExpr("event_id", "key AS user_id", "error_event_id",
        "(-r_t) - (-t) AS gap_us")
  }

  val nativeNextErrorSql: String =
    """SELECT p.event_id, p.user_id, e.error_event_id,
      |  (-e.nt) - (-p.nt) AS gap_us
      |FROM (SELECT user_id, event_id, -epoch_us(ts) AS nt
      |      FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id, -epoch_us(ts) AS nt,
      |        max(event_id) AS error_event_id
      |      FROM events WHERE event_type = 'error' GROUP BY 1, 2) e
      |  ON p.user_id = e.user_id AND p.nt >= e.nt""".stripMargin

  /** NEAREST direction composed from the two native runs — backward
    * pass plus negated-time forward pass, joined per click and resolved
    * by |gap| with ties to the backward match (the composed
    * `asof_nearest_purchase` rule, same DuckDB oracle). Two merge
    * walks on the same (key-clustered, t-sorted) layout: the second
    * pass's exchanges reuse the first's shuffle shape.
    */
  def nativeNearest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(s, dir)
    def clicks(neg: Boolean) = ev.where($"event_type" === "click")
      .select($"user_id".as("key"),
        expr(if (neg) "-(ts_ns div 1000)" else "ts_ns div 1000").as("t"),
        $"event_id")
    def purchases(neg: Boolean) = ev.where($"event_type" === "purchase")
      .groupBy($"user_id".as("key"),
        expr(if (neg) "-(ts_ns div 1000)" else "ts_ns div 1000").as("t"))
      .agg(max($"event_id").as("pid"))
      .select($"key", $"t", $"pid")
    val back = asOfNative(clicks(neg = false), purchases(neg = false))
      .toDF("key", "t", "event_id", "rk", "r_t", "pid")
      .selectExpr("event_id AS click_id", "pid AS b_pid",
        "r_t - t AS b_gap")
    val fwd = asOfNative(clicks(neg = true), purchases(neg = true))
      .toDF("key", "t", "event_id", "rk", "r_t", "pid")
      .selectExpr("event_id AS click_id", "pid AS f_pid",
        "t - r_t AS f_gap")
    back.join(fwd, "click_id")
      .selectExpr("click_id",
        """CASE WHEN b_pid IS NULL THEN f_pid
          |     WHEN f_pid IS NULL THEN b_pid
          |     WHEN -b_gap <= f_gap THEN b_pid ELSE f_pid END AS purchase_id""".stripMargin,
        """CASE WHEN b_pid IS NULL THEN f_gap
          |     WHEN f_pid IS NULL THEN b_gap
          |     WHEN -b_gap <= f_gap THEN b_gap ELSE f_gap END AS gap_us""".stripMargin)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("asof_native_attribution" -> (nativeAttribution _),
      "asof_native_next" -> (nativeNextError _),
      "asof_native_nearest" -> (nativeNearest _))

  def oracles: Map[String, String] =
    Map("asof_native_attribution" -> nativeAttributionSql,
      "asof_native_next" -> nativeNextErrorSql,
      "asof_native_nearest" -> graft.operators.AsOfJoin.nearestPurchaseSql)
}
