package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-insensitive digest of a DataFrame: the row count and the sum of
  * one 64-bit hash per row (summed as a decimal, so it cannot overflow).
  * Two results with the same rows in any order, split any way across
  * partitions, have the same digest. */
object Digest {
  def frame(df: DataFrame): DataFrame = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(0).cast(DecimalType(38, 0))).as("s"))
  }

  def of(row: Row): String = s"${row.getLong(0)}:${row.getDecimal(1).toPlainString}"

  def of(df: DataFrame): String = of(frame(df).collect()(0))
}
