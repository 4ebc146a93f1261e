package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's `private[sql]` DataFrame-over-InternalRow
  * constructor, so an operator that works on Catalyst's own row format
  * (no external `Row` round trip per row) can hand its RDD back as a
  * DataFrame. Lives under `org.apache.spark.sql` purely for access;
  * contains no Spark code.
  */
object RowsBridge {
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
