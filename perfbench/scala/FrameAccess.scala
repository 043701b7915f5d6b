package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Wraps already-produced catalyst rows as a DataFrame, so an executed
  * query's output can be written without planning and running the query
  * a second time. Lives in this package only for access. */
object FrameAccess {
  def ofRows(spark: SparkSession, rows: RDD[InternalRow],
             schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)
}
