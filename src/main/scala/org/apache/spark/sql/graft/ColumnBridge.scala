package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4 moved `Column` to the connect-agnostic sql-api module, so the
  * classic `column.expr` accessor is gone; the supported conversion lives
  * in `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`. This object sits inside the `org.apache.spark.sql`
  * package namespace to re-export the two conversions our native
  * expressions (try_cast with TRY eval mode, custom Catalyst nodes) need.
  */
object ColumnBridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
}

/** `AbstractDataType` (the `ExpectsInputTypes.inputTypes` element type)
  * is `private[sql]`; this alias re-exports it so graft expressions can
  * declare analysis-time input types. */
object TypeBridge {
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
}

/** `SparkContext.unpersistRDD` is `private[spark]`: the release the
  * `ContextCleaner` performs, without the warning `RDD.unpersist` logs
  * for a locally checkpointed RDD (that it cannot be recomputed —
  * which is the point when [[graft.ops.Pins]] frees a freeze). */
object RddBridge {
  def release(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
