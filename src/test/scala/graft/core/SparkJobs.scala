package graft.core

import org.apache.spark.sql.SparkSession

/** The Spark jobs a piece of driver code launches. */
object SparkJobs {

  /** `body`'s result and the number of jobs it launched, counted by the
    * engine's [[JobCensus]] under a label of this call's own. */
  def counted[T](spark: SparkSession)(body: => T): (T, Int) = {
    val census = JobCensus.of(spark.sparkContext)
    val label = s"jobs-of-${System.nanoTime()}"
    val result = JobCensus.labeled(spark, label)(body)
    JobCensus.drain(spark.sparkContext)
    (result, census.counts.labels.getOrElse(label, 0L).toInt)
  }
}
