package org.apache.spark.sql.execution.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.RowToColumnConverter
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types.StructType

/**
 * Spark's row → column-vector appender, the one `RowToColumnarExec`
 * uses. `RowToColumnConverter` is scoped to Spark's execution package,
 * so this object sits inside that boundary, as
 * [[org.apache.spark.sql.graft.Bridge]] does for `private[sql]` APIs.
 */
object RowToColumns {
  /** Appends one row to one vector per field of `schema`. */
  def apply(schema: StructType): (InternalRow, Array[WritableColumnVector]) => Unit =
    new RowToColumnConverter(schema).convert
}
