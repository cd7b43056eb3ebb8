package org.apache.spark.sql

/** Access to `classic.Dataset.ofRows`, which Spark keeps package-private:
  * re-plans a Dataset's logical plan in another session. This is the
  * call `ForeachBatchSink` makes to hand a micro-batch to its function,
  * with a caller-chosen session in place of the query's clone.
  */
object HomeSession {
  def ofRows(home: SparkSession, ds: Dataset[_]): DataFrame =
    classic.Dataset.ofRows(home.asInstanceOf[classic.SparkSession], ds.queryExecution.logical)
}
