package lakebench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ManifestTable

class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = Files.createTempDirectory("lakebench_spec_").toFile
  private lazy val spark = LakeBench.session(work.getPath, 2)

  override def afterAll(): Unit = {
    LakeBench.stop(spark)
    LakeBench.deleteRecursively(work)
  }

  test("the listener attributes a two-job call to its span and nothing else") {
    val sc = spark.sparkContext
    val l = new SpanListener
    sc.addSparkListener(l)
    try {
      val t = new Tracer(sc, "toy")
      val id = t.span("toy") { _ =>
        sc.parallelize(1 to 10, 2).count()
        sc.parallelize(1 to 10, 3).map(_ * 2).collect()
      }
      sc.parallelize(1 to 4, 1).count()
      org.apache.spark.LakebenchBus.drain(sc)
      val s = t.spans.find(_.name == "toy").get
      val w = l.workOf(s.id)
      assert(w.jobs == 2 && w.tasks == 5)
      assert(w.jobIntervals.size == 2)
      assert(l.jobsTotal == 3)
      assert(Tracer.driverMs(s, w) <= s.durNs / 1e6)
      assert(sc.getLocalProperty(SpanListener.Property) == null, "the span restores the thread's property")
    } finally sc.removeSparkListener(l)
  }

  test("the generator's shingles are the engine's") {
    import spark.implicits._
    val docs = DedupGen.feed(4, 1, 12).head
    val engine = docs.map(_.text).toDF("text")
      .select(graft.functions.TextFunctions.shingles(graft.functions.TextFunctions.tokens(col("text")), 3))
      .collect().map(_.getSeq[String](0).toSet)
    assert(engine.toSeq == docs.map(d => DedupGen.shingles(d.text)))
  }

  private def small(name: String): (Workload, Run) = {
    val w = LakeBench.make(name, spark, 1, 1, new java.io.File(work, name).getPath)
    w.setup()
    val r = new Run(None)
    w.run(r)
    assert(r.failed == 0, r.problems.mkString("; "))
    val ok = new Run(None)
    w.verify(ok)
    assert(ok.failed == 0, ok.problems.mkString("; "))
    (w, r)
  }

  private def rejects(w: Workload): Unit = {
    val r = new Run(None)
    w.verify(r)
    assert(r.checksFailed > 0, "a corrupted result must fail a check")
  }

  test("ingest: verification rejects a corrupted stored document") {
    val (w, _) = small("ingest")
    val doc = Files.walk(new java.io.File(w.root, "lake/ehr").toPath)
      .filter(f => f.toString.contains("_date=") && f.getFileName.toString.matches("[^.].*\\.json")).findFirst().get()
    Files.write(doc, "{}".getBytes("UTF-8"))
    rejects(w)
  }

  test("lakehouse: verification rejects a row removed behind the model's back") {
    val (w, _) = small("lakehouse")
    spark.sql("DELETE FROM lb.db.cow WHERE row_id = 0")
    rejects(w)
  }

  test("dedup_stream: verification rejects a duplicate in the clean corpus and a stray index row") {
    val (w, _) = small("dedup_stream")
    try {
      import spark.implicits._
      val dup = spark.table("ld.db.feed").join(spark.table("ld.db.clean"), Seq("doc_id"), "left_anti").limit(1)
      ManifestTable.appendIdempotent(dup, s"${w.root}/clean", "corrupt")
      ManifestTable.appendIdempotent(Seq((1L, 0, 0L)).toDF("doc_id", "band", "bucket"), s"${w.root}/index", "corrupt")
      val v = new Run(None)
      w.verify(v)
      assert(v.checksFailed == 2, v.problems.mkString("; "))
    } finally w.close()
  }
}
