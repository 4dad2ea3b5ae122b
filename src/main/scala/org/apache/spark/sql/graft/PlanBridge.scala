package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** A frame rebuilt over an RDD of its own internal rows: the analyzed
  * plan stops at a [[LogicalRDD]] leaf (carrying the frame's output
  * partitioning, ordering and statistics — the construction
  * `Dataset.checkpoint` uses), while the RDD keeps its lineage. The
  * leaf's constructor is `private[sql]`, hence this shim package. */
object PlanBridge {
  def overRdd(df: DataFrame, rdd: RDD[InternalRow]): DataFrame = {
    val sess = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(sess,
      LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
  }
}
