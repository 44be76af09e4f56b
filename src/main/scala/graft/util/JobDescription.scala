package graft.util

import org.apache.spark.sql.SparkSession

/** Scoped Spark job description: tags every job `body` submits from this
  * thread (listeners and UIs attribute stages by it), then restores the
  * description the caller had — clearing it instead would wipe a tag the
  * caller set around its own call. */
object JobDescription {
  // SparkContext.SPARK_JOB_DESCRIPTION, which is private to Spark
  private val Key = "spark.job.description"

  def apply[A](spark: SparkSession, desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty(Key, prev)
  }
}
