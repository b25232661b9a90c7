package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.DoubleExactNumeric

/** Spark's ANSI numeric conversions, `private[sql]` in Spark 4. */
object NumericBridge {
  /** The ANSI double → long cast: truncates, and raises Spark's
    * CAST_OVERFLOW error on NaN, ±Inf and values outside the long range.
    */
  def doubleToLongExact(d: Double): Long = DoubleExactNumeric.toLong(d)
}
