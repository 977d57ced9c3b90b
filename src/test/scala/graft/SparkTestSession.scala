package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-touching specs. Four cores and
  * four shuffle partitions on every host: specs assert partition counts. */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSpark.session(4, 4, "WARN")
}
