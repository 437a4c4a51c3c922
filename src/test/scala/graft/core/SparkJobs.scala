package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** The Spark jobs a piece of driver code launches, and the plans it runs. */
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

  /** `body`'s result and every query execution it ran on `spark`:
    * actions, and the eager `localCheckpoint`s. */
  def executions[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result =
      try body
      finally {
        JobCensus.drain(spark.sparkContext) // the listener is called on the bus
        spark.listenerManager.unregister(listener)
      }
    (result, seen.asScala.toSeq)
  }

  /** `body`'s result and the optimized plan of every query execution it
    * ran, each with its cached relations inlined by [[inlineCached]]. */
  def plans[T](spark: SparkSession)(body: => T): (T, Seq[LogicalPlan]) = {
    val (result, runs) = executions(spark)(body)
    (result, runs.map(qe => inlineCached(qe.optimizedPlan)))
  }

  /** `plan` with every persisted-frame leaf (InMemoryRelation) replaced,
    * recursively, by the optimized plan it caches, so a walk over the
    * tree sees what the cache was filled from. */
  def inlineCached(plan: LogicalPlan): LogicalPlan = plan match {
    case m: InMemoryRelation => inlineCached(m.cacheBuilder.logicalPlan)
    case p => p.withNewChildren(p.children.map(inlineCached))
  }
}
