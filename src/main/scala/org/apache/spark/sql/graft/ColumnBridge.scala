package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark-4 moved the Column ↔ Expression bridge behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); this shim, living
  * inside the sql package, re-exposes exactly the two calls a library
  * needs to ship custom Catalyst expressions with a Column API.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw LogicalPlan (Dataset.ofRows is
    * private[sql]) — needed to hand custom logical nodes to the planner.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Stable unique id of a session (`sessionUUID` is private[sql]) —
    * memo-cache keys need it because `identityHashCode` can repeat after
    * a stopped session is collected.
    */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Rebuild a DataFrame over an already-computed InternalRow RDD with
    * FRESH (default) statistics — `internalCreateDataFrame` is
    * private[sql]. Iterative loops need this after `localCheckpoint`:
    * the checkpoint's LogicalRDD keeps the origin plan's stats, and a
    * loop whose body self-joins the carried frame SQUARES the
    * sizeInBytes estimate each round until plan compilation drowns in
    * BigInteger arithmetic.
    */
  def fromInternalRows(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** `t` with every field, element and value nullable, as a file
    * relation exposes its data schema (`asNullable` is private[spark]).
    */
  def asNullable(t: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    t.asNullable

  /** Apply a SparkSessionExtensions' injected functions to a registry
    * (the session-bootstrap step, exposed for tests).
    */
  def applyFunctionInjections(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(reg)

  /** The planner strategies and optimizer rules a SparkSessionExtensions
    * builds for a session (both builders are private[sql]), for tests.
    */
  def injectedRules(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : (Seq[org.apache.spark.sql.execution.SparkStrategy],
        Seq[org.apache.spark.sql.catalyst.rules.Rule[
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]) =
    (ext.buildPlannerStrategies(spark), ext.buildOptimizerRules(spark))
}
