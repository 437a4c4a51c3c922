package graft.core

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class JobCensusSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val census = JobCensus.of(spark.sparkContext)

  /** The census after every event posted so far has been delivered. */
  private def settled(): JobCensus.Counts = {
    JobCensus.drain(spark.sparkContext)
    census.counts
  }

  test("a labelled count is one job, and the census counts its stages, tasks and time") {
    // adaptive execution would run the shuffle map stage as a job of its own
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val before = settled()
    try JobCensus.labeled(spark, "census.count")(spark.range(10).count())
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val c = settled() - before
    assert(c.jobs === 1 && c.labels === Map("census.count" -> 1L))
    assert(c.stages === 2 && c.tasks >= c.stages && c.taskMs >= 0 && c.jobMs >= 0)
    assert(JobCensus.of(spark.sparkContext) eq census, "one census per SparkContext")
  }

  test("nested labels restore the outer label, and the outermost restores none") {
    val sc = spark.sparkContext
    val before = settled()
    JobCensus.labeled(spark, "census.outer") {
      sc.parallelize(1 to 4, 2).count()
      JobCensus.labeled(spark, "census.inner")(sc.parallelize(1 to 4, 2).count())
      assert(sc.getLocalProperty(JobCensus.LabelKey) === "census.outer")
      sc.parallelize(1 to 4, 2).count()
    }
    assert(sc.getLocalProperty(JobCensus.LabelKey) === null)
    val c = settled() - before
    assert(c.labels === Map("census.outer" -> 2L, "census.inner" -> 1L))
    assert(c.jobs === 3 && c.tasks === 6)
  }

  test("a stream started inside a label attributes its batch jobs to that label") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val seen = new java.util.concurrent.atomic.AtomicLong()
    val q = JobCensus.labeled(spark, "census.stream") {
      source.toDS().writeStream.foreachBatch { (b: org.apache.spark.sql.Dataset[Long], _: Long) =>
        seen.addAndGet(b.count()); ()
      }.start()
    }
    try {
      // the batches run after the label scope has closed on this thread,
      // and under another label here
      val before = settled()
      JobCensus.labeled(spark, "census.other") {
        source.addData(1L, 2L, 3L)
        q.processAllAvailable()
      }
      val c = settled() - before
      assert(seen.get === 3L)
      assert(c.jobs > 0 && c.labels === Map("census.stream" -> c.jobs))
    } finally q.stop()
  }
}
