package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal private[sql] bridge: parse SQL text to a logical plan, let
  * the caller transform it (graft.plans.OctoArith), and materialize it
  * as a DataFrame — the supported-API equivalent of `spark.sql` with a
  * plan hook in the middle.
  */
object GraftSqlBridge {

  def parse(spark: SparkSession, sqlText: String): LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(sqlText)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Run `f` with `spark` as the thread's active session, so that
    * `SQLConf.get` inside it reads that session's conf.
    */
  def withActive[T](spark: SparkSession)(f: => T): T =
    spark.asInstanceOf[classic.SparkSession].withActive(f)

  /** Wrap a Catalyst expression as a Column — for custom expressions
    * carrying non-Expression parameters (e.g. a centroid matrix), which
    * can't go through the function registry.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** `df`, an eager checkpoint of a `repartition(numPartitions, keys)`
    * (then sorted by `keys` within partitions when `sorted`), declared
    * as exactly that layout to the planner. Dataset.checkpoint takes its
    * layout from the executed plan, and under AQE that is an
    * AdaptiveSparkPlanExec, which reports UnknownPartitioning — so
    * without this every consumer would shuffle the table again. Left
    * undeclared unless the RDD has exactly `numPartitions` partitions.
    */
  def declareHashPartitioned(df: DataFrame, keys: Seq[String],
                             numPartitions: Int, sorted: Boolean): DataFrame =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan match {
      case r: org.apache.spark.sql.execution.LogicalRDD
          if r.rdd.getNumPartitions == numPartitions =>
        import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
        val attrs = keys.map(k => r.output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(s"no column $k in ${r.output}")))
        val ordering = if (sorted) attrs.map(SortOrder(_, Ascending)) else Nil
        ofRows(df.sparkSession, r.makeCopy(Array(r.output, r.rdd,
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
            attrs, numPartitions),
          ordering, java.lang.Boolean.valueOf(r.isStreaming), r.stream)))
      case _ => df
    }
}
