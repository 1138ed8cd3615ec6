package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column ⇄ Expression bridge. Spark 4 made `ExpressionUtils` private[sql];
 * this shim lives under the org.apache.spark.sql package namespace (the
 * standard extension-library technique) to expose the two conversions our
 * custom Catalyst expressions need.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/**
 * [[org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes]] for
 * kernels outside this namespace (its `AbstractDataType` and
 * `TypeCollection` are private[sql]): each input lists the concrete
 * types it accepts, and a mismatch fails analysis with Spark's
 * DATATYPE_MISMATCH error.
 */
trait TypedInputs extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  /** Per input, in child order: the types it accepts (any one). */
  def acceptedTypes: Seq[Seq[org.apache.spark.sql.types.DataType]]
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    acceptedTypes.map(ts => if (ts.size == 1) ts.head
      else org.apache.spark.sql.types.TypeCollection(ts: _*))
}

/**
 * Schema bridge for footer-derived reads ([[graft.sources.StoreRead]]):
 * Spark's own schema merge and nullability widening are private[sql],
 * and replaying them exactly is what keeps a pinned schema equal to the
 * one Spark's inference would have produced.
 */
object SchemaBridge {
  import org.apache.spark.sql.types.StructType
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)
  def asNullable(s: StructType): StructType = s.asNullable
}
