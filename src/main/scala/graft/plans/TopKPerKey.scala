package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Top-k rows per key — a whole custom operator on the (c) preference
  * path: LogicalPlan node → Strategy → SparkPlan (SURVEY.md §2 guidance
  * for semantics Spark's built-ins don't express efficiently).
  *
  * The built-in formulation (`row_number().over(partitionBy(key).orderBy
  * (ord desc)) <= k`) must SORT every key group in full. This operator
  * keeps a bounded k-element min-heap per key instead: O(n log k) with
  * k-row state per key, no sort buffer — the difference between "spills
  * at 100 TB" and "streams at 100 TB". The exchange on the key columns
  * is requested via requiredChildDistribution and inserted by
  * EnsureRequirements like any aggregation.
  */
case class TopKPerKey(keys: Seq[Attribute], ord: Attribute, k: Int,
    child: LogicalPlan, partial: Boolean = false) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Optimizer rule — the map-side combine for top-k: insert a PARTIAL
  * top-k below the final one. The partial runs in place on whatever
  * partitioning the child has (no distribution requirement), so the
  * exchange that the final node requests only ever carries ≤ k rows per
  * key per input partition — the same trick partial aggregation plays,
  * correct because each key's global top-k is a subset of the union of
  * its per-partition top-ks.
  */
object PushPartialTopK extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case t @ TopKPerKey(keys, ord, k, child, false)
        if !child.isInstanceOf[TopKPerKey] =>
      t.copy(child = TopKPerKey(keys, ord, k, child, partial = true))
  }
}

/** Physical: hash of bounded min-heaps, one pass over the partition.
  * `partial = true` skips the distribution requirement (runs map-side);
  * the final instance clusters by key via EnsureRequirements.
  */
case class TopKPerKeyExec(keys: Seq[Attribute], ord: Attribute, k: Int,
    child: SparkPlan, partial: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keys))

  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val childOutput = child.output
    val idx = child.output.indexWhere(_.exprId == ord.exprId)
    require(idx >= 0,
      s"order column ${ord.name}#${ord.exprId.id} not found in child output")
    val ordType = ord.dataType
    child.execute().mapPartitions { it =>
      // codegen'd projection is not serializable — build per partition
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val cmp = TypeUtils.getInterpretedOrdering(ordType)
      // min-heap: head = smallest of the current top-k
      implicit val heapOrd: Ordering[(Any, InternalRow)] =
        Ordering.by[(Any, InternalRow), Any](_._1)(cmp.reverse)
      val heaps = new java.util.HashMap[UnsafeRow,
        scala.collection.mutable.PriorityQueue[(Any, InternalRow)]]()
      it.foreach { row =>
        // copy FIRST, then extract: for non-primitive order types
        // (UTF8String, Decimal) the extracted value aliases the row
        // buffer — extracting from the copy keeps it stable after the
        // iterator advances. Null order values are skipped (DESC null
        // ordering ranks them after every non-null value, so they can
        // only appear when a key has fewer than k non-null rows).
        if (!row.isNullAt(idx)) {
          val key = keyProj(row)
          var heap = heaps.get(key)
          if (heap == null) {
            heap = scala.collection.mutable.PriorityQueue.empty[(Any, InternalRow)]
            heaps.put(key.copy(), heap)
          }
          if (heap.size < k) {
            val copied = row.copy()
            heap.enqueue((copied.get(idx, ordType), copied))
          } else if (cmp.compare(row.get(idx, ordType), heap.head._1) > 0) {
            heap.dequeue()
            val copied = row.copy()
            heap.enqueue((copied.get(idx, ordType), copied))
          }
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator.map(_._2))
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, ord, k, child, partial) =>
      TopKPerKeyExec(keys, ord, k, planLater(child), partial) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {

  /** DataFrame API: top `k` rows per `keys` by `orderBy` descending.
    * Installs the planner strategy on first use ([[graft.Session.install]]);
    * also injectable via `graft.GraftExtensions`.
    *
    * API CONTRACT: rows whose `orderBy` value is null are FILTERED, not
    * ranked — a key with fewer than k non-null rows returns fewer than
    * k rows. (A `row_number() ... DESC` window would rank nulls last
    * but still emit them; the equivalent formulation of this operator
    * is that window over `WHERE orderBy IS NOT NULL`, which is exactly
    * how the registered oracle states it.)
    */
  def topKPerKey(df: DataFrame, keyNames: Seq[String], orderBy: String,
      k: Int): DataFrame = {
    val spark = df.sparkSession
    graft.Session.install(spark)
    val analyzed = df.queryExecution.analyzed
    val keyAttrs = keyNames.map(n => analyzed.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n")))
    val ordAttr = analyzed.output.find(_.name == orderBy)
      .getOrElse(throw new IllegalArgumentException(s"no column $orderBy"))
    org.apache.spark.sql.graft.ColumnBridge.ofRows(spark,
      TopKPerKey(keyAttrs, ordAttr, k, analyzed))
  }

  /** Driver-contract query: top-3 orders per customer through the
    * custom exec; the oracle is the window-function formulation over
    * non-null order values — the operator's exact contract — and is
    * equivalent rank-wise because (o_custkey, o_totalprice) is tie-free
    * in this data (verified before registering).
    */
  def topOrdersCustom(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    topKPerKey(graft.Tables.orders(s, dir), Seq("o_custkey"), "o_totalprice", 3)
      .select("o_custkey", "o_orderkey", "o_totalprice")

  val topOrdersCustomSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_custkey
      |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |      FROM orders
      |      WHERE o_totalprice IS NOT NULL)
      |WHERE rn <= 3""".stripMargin

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("topk_custom_operator" -> (topOrdersCustom _))

  def oracles: Map[String, String] =
    Map("topk_custom_operator" -> topOrdersCustomSql)
}
