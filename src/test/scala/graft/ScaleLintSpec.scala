package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.scalatest.funsuite.AnyFunSuite

/** Scale lint: a window with an EMPTY partition spec funnels every row
  * through a single task — the classic silent scale killer. Walk every
  * batch query's optimized plan and require global windows only where the
  * semantics genuinely demand a global order (documented allowlist).
  *
  * A source check rides along: Hadoop's `listFiles(path, recursive)` and
  * `listLocatedStatus` build a `LocatedFileStatus` per entry, which on the
  * local store forks an `ls` per file for permissions nobody reads. Walks
  * go through `listStatus` ([[graft.core.LakeStorage.listRecursive]]).
  */
class ScaleLintSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  /** Queries whose global window is semantically required and documented:
    * ntile/percent_rank/cume_dist are global-rank statistics by definition,
    * and the packing queries' offsets window (qt08 tokens, qm05 media
    * batches) runs over one row PER PARTITION — the tiny phase-2 frame of
    * the distributed prefix sum. */
  private val allowedGlobal = Set(
    "q27_ntile_window", "q47_rank_distribution", "qt08_token_packing",
    "qm05_media_batching")

  /** Batch queries that build lazily (or with cheap side effects) at
    * sf0.001; lake/streaming modules execute real jobs in their builders
    * and are covered by their own plan specs. */
  private def lintable(name: String): Boolean =
    !name.startsWith("qc") && !name.startsWith("qs")

  test("no undeclared single-task (unpartitioned) windows in batch plans") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filter(lintable)
      .flatMap { name =>
        val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
        val globals = plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        if (globals.nonEmpty && !allowedGlobal.contains(name)) Some(name) else None
      }
    assert(offenders.isEmpty,
      s"queries with undeclared global windows: ${offenders.mkString(", ")}")
  }

  /** A Hadoop `listFiles` call (two arguments; one level of nested parens in
    * the first) or any `listLocatedStatus` call. `java.io.File.listFiles()`
    * takes no arguments and does not match. */
  private val forkingListing =
    """\blistFiles\s*\((?:[^()]|\([^()]*\))*,|\blistLocatedStatus\s*\(""".r

  test("src/main never lists through LocatedFileStatus (listFiles / listLocatedStatus)") {
    Seq("fs.listFiles(base, true)", "fs.listFiles(new Path(root, \"x\"),\n  true)",
      "fs.listLocatedStatus(p)").foreach(s => assert(forkingListing.findFirstIn(s).isDefined, s))
    Seq("new java.io.File(dir).listFiles()", "f.listFiles ()", "fs.listStatus(p)")
      .foreach(s => assert(forkingListing.findFirstIn(s).isEmpty, s))
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, s"source root not found: ${main.getAbsolutePath}")
    def sources(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) sources(f) else Seq(f))
    val offenders = sources(main).filter(_.getName.endsWith(".scala")).filter { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      forkingListing.findFirstIn(src).isDefined
    }
    assert(offenders.isEmpty,
      s"forking Hadoop listings (use listStatus): ${offenders.map(_.getPath).mkString(", ")}")
  }
}
