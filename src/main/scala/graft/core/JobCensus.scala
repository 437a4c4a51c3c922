package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBusBridge

import scala.collection.mutable

/** The engine's job census: one listener per SparkContext counting the
  * Spark jobs, stages, tasks and task run time it has seen, and `jobMs`,
  * the wall time during which at least one job ran (the union of the job
  * intervals, so concurrent jobs count once). Jobs are also counted per
  * layer label, the `graft.layer` local property that [[JobCensus.labeled]]
  * sets around a driver-side phase. Take [[counts]] after
  * [[JobCensus.drain]] to see every event of the jobs that have ended. */
final class JobCensus private () extends SparkListener {
  private var jobs, stages, tasks, taskMs, jobMs, busySince = 0L
  private val running = mutable.Set.empty[Int]
  private val labels = mutable.Map.empty[String, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(JobCensus.LabelKey)))
      .foreach(l => labels(l) = labels.getOrElse(l, 0L) + 1)
    if (running.isEmpty) busySince = e.time
    running += e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (running.remove(e.jobId) && running.isEmpty) jobMs += e.time - busySince
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs += Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
  }

  def counts: JobCensus.Counts =
    synchronized(JobCensus.Counts(jobs, stages, tasks, taskMs, jobMs, labels.toMap))
}

object JobCensus {
  /** The local property holding a job's layer label. */
  val LabelKey = "graft.layer"

  /** Totals since the census was registered; `a - b` is what ran between
    * two readings. `labels` maps each layer label to its job count. */
  final case class Counts(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
                          jobMs: Long, labels: Map[String, Long]) {
    def -(o: Counts): Counts =
      Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskMs - o.taskMs,
        jobMs - o.jobMs, labels.map { case (l, n) => l -> (n - o.labels.getOrElse(l, 0L)) }
          .filter(_._2 > 0))
  }

  private val censuses = new java.util.WeakHashMap[SparkContext, JobCensus]()

  /** The census of `sc`, registered on first use. */
  def of(sc: SparkContext): JobCensus = censuses.synchronized {
    Option(censuses.get(sc)).getOrElse {
      val c = new JobCensus
      sc.addSparkListener(c)
      censuses.put(sc, c)
      c
    }
  }

  /** Runs `body` with its jobs labelled `label`, then restores the outer
    * label. Threads started inside `body`, such as a stream's execution
    * thread, copy the label when they start and keep it. */
  def labeled[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(LabelKey)
    sc.setLocalProperty(LabelKey, label)
    try body finally sc.setLocalProperty(LabelKey, outer)
  }

  /** Waits until the listener bus has delivered every event posted so far:
    * after an action returns, its jobs' end events have been posted. */
  def drain(sc: SparkContext): Unit = ListenerBusBridge.waitUntilEmpty(sc)
}
