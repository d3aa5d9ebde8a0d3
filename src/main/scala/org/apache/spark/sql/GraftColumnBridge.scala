package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the package-private Column<->Expression converters (Spark 4
  * moved the public `new Column(expr)` constructor behind
  * `classic.ExpressionUtils`, which is private[sql]). Standard pattern for
  * libraries contributing native Catalyst expressions.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Map partitions at the InternalRow level, skipping the Row/product
    * encoder round-trip (one boxed allocation per row — measured as the
    * dominant cost of per-partition selection passes over 10^7+ candidate
    * rows). The output must conform to the input schema. NOTE: toRdd
    * iterators reuse one mutable UnsafeRow per partition — `f` must copy
    * (or re-materialize) any row it retains past the current iteration.
    */
  def mapPartitionsInternal(df: DataFrame,
      f: Iterator[org.apache.spark.sql.catalyst.InternalRow] =>
         Iterator[org.apache.spark.sql.catalyst.InternalRow]): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd.mapPartitions(f), df.schema)
  }

  /** Rebase a DataFrame onto its own execution RDD: the result's logical
    * plan is a single LogicalRDD node, severing the upstream plan tree.
    *
    * Needed by iterative fixpoint loops (connected components): a round's
    * plan references the previous round's plan twice, so after k rounds the
    * logical TREE is 2^k-sized even though the RDD DAG (a graph with
    * sharing) stays linear — plan stringification and re-analysis hang long
    * before the data is large. `localCheckpoint` also truncates but pays a
    * materialization job per round. The RDD is lazy here; callers persist
    * it (or the returned frame) and trigger it with their own action.
    */
  def rebaseOnRdd(df: DataFrame)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    // toRdd iterators REUSE one mutable UnsafeRow per partition — rows must
    // be copied before they can be cached, or every cached partition
    // degenerates to n references to its last row
    val rdd = df.queryExecution.toRdd.map(_.copy())
    (spark.internalCreateDataFrame(rdd, df.schema), rdd)
  }

  /** A driver-built frame over internal rows (a LocalRelation): no RDD and
    * no job behind it, and size statistics the planner can broadcast on.
    * Rows must conform to `schema` in Catalyst's internal representation.
    */
  def localFrame(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
                 rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))
}
