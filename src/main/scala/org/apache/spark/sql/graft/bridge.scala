package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge (the Spark 4 replacement for the
  * removed `new Column(expr)`); ExpressionUtils is private[sql], so this
  * shim lives in the sql package. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an arbitrary logical plan (Dataset.ofRows is
    * private[sql]) — lets optimizer rules rebuild plans with the public
    * DataFrame API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def planOf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** The optimized logical plan — for splicing a rewrite into an
    * in-flight optimization pass. */
  def optimizedPlanOf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.optimizedPlan

  /** The QueryExecution of `plan` in `spark` — the plan-level handle a
    * DataFrame wraps, for callers inside the optimizer that only need the
    * optimized plan or the rows. */
  def executePlan(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.execution.QueryExecution =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.executePlan(plan)

  /** Every row of `qe`, collected under its own SQL execution id as a
    * Dataset action would. */
  def collect(qe: org.apache.spark.sql.execution.QueryExecution): Array[org.apache.spark.sql.catalyst.InternalRow] =
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect())

  /** The session's physical planner (sessionState is private[sql]) — lets
    * the library check for an extensions-injected strategy before adding
    * a runtime copy to experimental.extraStrategies. */
  def planner(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.execution.SparkPlanner =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.planner

  /** The session's SQL function registry (sessionState is private[sql]) —
    * lets the library register native expressions as SQL functions at
    * runtime, the same registry `spark.sql.extensions` feeds at startup. */
  def functionRegistry(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry

  /** The session's optimizer (sessionState is private[sql]) — lets the
    * library check whether an extensions-injected rule is already present
    * before appending a runtime copy to experimental.extraOptimizations. */
  def optimizer(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.catalyst.optimizer.Optimizer =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.optimizer

  /** The session's TABLE-function registry (sessionState is private[sql])
    * — lets the library register table-valued functions (e.g. `knn_join`)
    * at runtime, the same registry `spark.sql.extensions` feeds via
    * injectTableFunction at startup. */
  def tableFunctionRegistry(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.tableFunctionRegistry

  /** Materialize an extensions object's injected functions into `reg` —
    * the step session startup runs; exposed (registerFunctions is
    * private[sql]) so tests can pin the installer without a second
    * SparkContext. */
  def applyExtensionFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(reg)

  /** Same, for the injected TABLE functions (knn_join / knn_join_filtered). */
  def applyExtensionTableFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry): org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry =
    ext.registerTableFunctions(reg)
}
