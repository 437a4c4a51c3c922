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
  * Two Hadoop-conf hazards are checked the same way: a one-argument
  * `ParquetFileReader.open` re-parses core-default.xml for its read
  * options, and a `new SerializableConfiguration` outside
  * [[graft.core.LakeStorage.taskConf]] ships per-key gzipped sources.
  * And `LakeStorage.createExclusive` is called only by the versioned-log
  * core ([[graft.core.VersionLog]]) and the identity columns' slab
  * reservation, so a hand-rolled log cannot come back. Log entry names
  * (`_commit_`, `_ckpt_`, `_klogv_`) are spelled only by the logs that own
  * them, so no other module reads or deletes entries behind their back.
  * And `src/main` spawns no processes: a fork from a multi-GB JVM costs
  * milliseconds of child CPU, the floor the fork-free local store
  * ([[graft.core.ForkFreeRawLocalFileSystem]]) removed. And every Hadoop
  * FileSystem is acquired through [[graft.core.LakeStorage.openFor]], the
  * one place that picks the conf (the session's on the driver), so no call
  * site opens a store with a conf missing `spark.hadoop.*` settings.
  * And the engine writes data files only through
  * [[graft.core.ManifestPoolWriter]]: no DataFrameWriter (with its
  * rename-based output committer and full-session-conf tasks) in core,
  * catalog, sources or operators, so a second write path cannot return.
  * The engine's jobs are counted by one listener,
  * [[graft.core.JobCensus]], and sessions are built only by the mains
  * that own one (`Bench`, `Verify`, `ScaleReplicate`, `tools/MetaScale`),
  * so ad hoc probe mains with copied builders and listeners stay gone.
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

  /** Every `.scala` file under `src/main/scala` with its text. */
  private lazy val mainSources: Seq[(java.io.File, String)] = {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, s"source root not found: ${main.getAbsolutePath}")
    def sources(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) sources(f) else Seq(f))
    sources(main).filter(_.getName.endsWith(".scala")).map(f =>
      f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  test("src/main never lists through LocatedFileStatus (listFiles / listLocatedStatus)") {
    Seq("fs.listFiles(base, true)", "fs.listFiles(new Path(root, \"x\"),\n  true)",
      "fs.listLocatedStatus(p)").foreach(s => assert(forkingListing.findFirstIn(s).isDefined, s))
    Seq("new java.io.File(dir).listFiles()", "f.listFiles ()", "fs.listStatus(p)")
      .foreach(s => assert(forkingListing.findFirstIn(s).isEmpty, s))
    val offenders = mainSources.collect {
      case (f, src) if forkingListing.findFirstIn(src).isDefined => f.getPath }
    assert(offenders.isEmpty,
      s"forking Hadoop listings (use listStatus): ${offenders.mkString(", ")}")
  }

  /** `ParquetFileReader.open(x)` with no top-level comma among its
    * arguments (up to two levels of nested parens). */
  private val oneArgFooterOpen =
    """\bParquetFileReader\.open\s*\((?:[^(),]|\((?:[^()]|\([^()]*\))*\))*\)""".r

  test("src/main opens parquet footers with the caller's conf, never a one-argument open") {
    Seq("ParquetFileReader.open(in)",
      "org.apache.parquet.hadoop.ParquetFileReader.open(\n  HadoopInputFile.fromStatus(st, conf))",
      "ParquetFileReader.open(HadoopInputFile.fromPath(new Path(dir, f), conf))")
      .foreach(s => assert(oneArgFooterOpen.findFirstIn(s).isDefined, s))
    Seq("ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),\n" +
        "  HadoopReadOptions.builder(conf, st.getPath).build())",
      "ParquetFileReader.open(conf, path)")
      .foreach(s => assert(oneArgFooterOpen.findFirstIn(s).isEmpty, s))
    val offenders = mainSources.collect {
      case (f, src) if oneArgFooterOpen.findFirstIn(src).isDefined => f.getPath }
    assert(offenders.isEmpty,
      s"one-argument ParquetFileReader.open (pass HadoopReadOptions): ${offenders.mkString(", ")}")
  }

  private val exclusiveCreate = """\bLakeStorage\.createExclusive\s*\(""".r

  test("src/main claims log entries only through VersionLog") {
    Seq("graft.core.LakeStorage.createExclusive(fs, new Path(d, \"c-1\"))",
      "LakeStorage.createExclusive (fs, p)")
      .foreach(s => assert(exclusiveCreate.findFirstIn(s).isDefined, s))
    Seq("def createExclusive(fs: FileSystem, p: Path)", "[[LakeStorage.createExclusive]]")
      .foreach(s => assert(exclusiveCreate.findFirstIn(s).isEmpty, s))
    // the identity columns' epoch-slab reservation is a different protocol
    val allowed = Set("src/main/scala/graft/core/VersionLog.scala",
      "src/main/scala/graft/catalog/IdentityColumns.scala")
    val offenders = mainSources.collect {
      case (f, src) if exclusiveCreate.findFirstIn(src).isDefined && !allowed(f.getPath) => f.getPath }
    assert(offenders.isEmpty,
      s"hand-rolled log claims (commit through graft.core.VersionLog): ${offenders.mkString(", ")}")
    assert(exclusiveCreate.findAllIn(mainSources.collectFirst {
      case (f, src) if f.getPath == "src/main/scala/graft/core/VersionLog.scala" => src
    }.get).size === 1, "VersionLog claims through one createExclusive call")
  }

  /** String and character literals, and comments: the alternation lets
    * a `//` inside a string stay part of the string. */
  private val literalOrComment =
    """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*.*?\*/|//[^\n]*""".r

  /** `src` with its comments blanked out. */
  private def code(src: String): String =
    literalOrComment.replaceAllIn(src, m =>
      scala.util.matching.Regex.quoteReplacement(if (m.matched.startsWith("/")) " " else m.matched))

  /** A log entry name in a literal: the prefix opens the literal or
    * follows a path separator. */
  private val logEntryName = """["/](?:_commit_|_ckpt_|_klogv_)""".r

  test("src/main spells log entry names only in the logs that own them") {
    Seq("\"_klogv_\"", "f\"_commit_$v%020d\"", "s\"$dir/_ckpt_1\"", "new Path(dir, \"_commit_\" + v)")
      .foreach(s => assert(logEntryName.findFirstIn(code(s)).isDefined, s))
    Seq("// drop dir/_commit_1", "/** `_klogv_<v>` */", "\"graft_ckpt_\"", "\"append_commit_sec\"",
        "\"http://x\" // \"_ckpt_\"")
      .foreach(s => assert(logEntryName.findFirstIn(code(s)).isEmpty, s))
    // tools/MetaScale sizes checkpoints on purpose (ManifestTable cites it)
    val allowed = Set("src/main/scala/graft/core/ManifestTable.scala",
      "src/main/scala/graft/sources/KeyedLogSource.scala",
      "src/main/scala/graft/tools/MetaScale.scala")
    val offenders = mainSources.collect {
      case (f, src) if !allowed(f.getPath) && logEntryName.findFirstIn(code(src)).isDefined => f.getPath }
    assert(offenders.isEmpty,
      s"log entry names spelled outside their logs: ${offenders.mkString(", ")}")
  }

  private val newSerializableConf = """\bnew\s+(?:[\w.]+\.)?SerializableConfiguration\s*\(""".r

  test("src/main wraps task-shipped confs only in LakeStorage.taskConf") {
    Seq("new SerializableConfiguration(job.getConfiguration)",
      "new org.apache.spark.util.SerializableConfiguration(\n  spark.sessionState.newHadoopConf())")
      .foreach(s => assert(newSerializableConf.findFirstIn(s).isDefined, s))
    assert(newSerializableConf.findFirstIn("conf: SerializableConfiguration,").isEmpty)
    val counts = mainSources.map { case (f, src) =>
      f.getPath -> newSerializableConf.findAllIn(src).size }.filter(_._2 > 0)
    assert(counts === Seq("src/main/scala/graft/core/LakeStorage.scala" -> 1),
      "construct SerializableConfiguration only in LakeStorage.taskConf")
  }

  /** A process spawn: `ProcessBuilder`, `Runtime.getRuntime.exec`,
    * `scala.sys.process` or Hadoop's `Shell.execCommand`. */
  private val processSpawn =
    """\bProcessBuilder\b|\bRuntime\s*\.\s*getRuntime\s*(?:\(\s*\))?\s*\.\s*exec\b|\bsys\s*\.\s*process\b|\bShell\s*\.\s*exec(?:Command)?\b""".r

  test("src/main spawns no processes") {
    Seq("new ProcessBuilder(\"chmod\", \"644\", f)", "new java.lang.ProcessBuilder(cmd)",
        "Runtime.getRuntime.exec(cmd)", "Runtime.getRuntime().exec(Array(\"ls\"))",
        "import scala.sys.process._", "org.apache.hadoop.util.Shell.execCommand(\"ls\")")
      .foreach(s => assert(processSpawn.findFirstIn(code(s)).isDefined, s))
    Seq("// forks chmod through Shell.execCommand", "Runtime.getRuntime.availableProcessors",
        "spark.sql.execution.arrow", "processBuilder.build()")
      .foreach(s => assert(processSpawn.findFirstIn(code(s)).isEmpty, s))
    val offenders = mainSources.collect {
      case (f, src) if processSpawn.findFirstIn(code(src)).isDefined => f.getPath }
    assert(offenders.isEmpty, s"process spawns in src/main: ${offenders.mkString(", ")}")
  }

  /** A Hadoop FileSystem acquisition, or a use of the session-less
    * fallback conf. */
  private val fsAcquisition =
    """\bgetFileSystem\s*\(|\bFileSystem\s*\.\s*(?:get|newInstance|getLocal)\s*\(|\bsharedHadoopConf\b""".r

  test("src/main acquires FileSystems only through LakeStorage.openFor") {
    Seq("new Path(dir).getFileSystem(conf.value)", "p.getFileSystem (conf)",
        "FileSystem.get(new URI(root), conf)", "org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)",
        "FileSystem.getLocal(conf)", "new LakeStorage(root, LakeStorage.sharedHadoopConf)")
      .foreach(s => assert(fsAcquisition.findFirstIn(code(s)).isDefined, s))
    Seq("LakeStorage.openFor(dir)", "LakeStorage.openFor(p, conf.value).delete(p, false)",
        "openFor(dir).getConf", "// new Path(dir).getFileSystem(conf)",
        "FileSystem.getFileSystemClass(\"file\", conf)", "/** [[LakeStorage.sharedHadoopConf]] */")
      .foreach(s => assert(fsAcquisition.findFirstIn(code(s)).isEmpty, s))
    val offenders = mainSources.collect {
      case (f, src) if f.getPath != "src/main/scala/graft/core/LakeStorage.scala" &&
          fsAcquisition.findFirstIn(code(src)).isDefined => f.getPath }
    assert(offenders.isEmpty,
      s"FileSystem acquisitions outside LakeStorage (use LakeStorage.openFor): ${offenders.mkString(", ")}")
  }

  /** `src` with its comments and string literals blanked out. */
  private def codeOnly(src: String): String = literalOrComment.replaceAllIn(src, " ")

  /** A DataFrameWriter in use: `SaveMode`, the writer types, a `.write.`
    * chain (not `connector.write.`, a package), `writeTo`, or a writer's
    * terminal `.save(`, `.saveAsTable(` or `.insertInto(`. A writer's
    * `.parquet(` follows a `.write.` chain, or a held writer's type. */
  private val dataFrameWrite =
    """\bSaveMode\b|\bDataFrameWriter(?:V2)?\b|(?<!connector)\.write\s*\.|\.writeTo\s*\(|\.(?:save|saveAsTable|insertInto)\s*\(""".r

  test("core, catalog, sources and operators write data files only through the pool writer") {
    Seq("df.write.mode(SaveMode.Overwrite).parquet(p)",
        "rows\n  .write\n  .format(\"graft.sources.KeyedLogSource\").save(tmp)",
        "import org.apache.spark.sql.{DataFrame, SaveMode}", "df.write.options(o).parquet(pool)",
        "val w: DataFrameWriter[Row] = df.write", "w.save(dir)", "df.writeTo(\"t\").append()")
      .foreach(s => assert(dataFrameWrite.findFirstIn(codeOnly(s)).isDefined, s))
    Seq("out.write(bytes)", "rows.foreach(writer.write)",
        "import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}",
        "org.apache.spark.sql.connector.write.RowLevelOperation.Command",
        "spark.read.parquet(paths: _*)", "conf.set(\"spark.sql.parquet.fieldId.write.enabled\", \"true\")",
        "// df.write.mode(SaveMode.Append).save(p)", "ManifestTable.writeToBranch(df, dir, b)",
        "ManifestPoolWriter.write(df, pool, options)")
      .foreach(s => assert(dataFrameWrite.findFirstIn(codeOnly(s)).isEmpty, s))
    val scoped = Seq("core", "catalog", "sources", "operators").map(p => s"src/main/scala/graft/$p/")
    val offenders = mainSources.collect {
      case (f, src) if scoped.exists(f.getPath.startsWith) &&
          dataFrameWrite.findFirstIn(codeOnly(src)).isDefined => f.getPath }
    assert(mainSources.count(f => scoped.exists(f._1.getPath.startsWith)) > 40)
    assert(offenders.isEmpty,
      s"DataFrameWriter writes (stage through ManifestPoolWriter): ${offenders.mkString(", ")}")
  }

  /** A Spark listener type or its registration. */
  private val sparkListener = """\bSparkListener|\baddSparkListener\b""".r

  test("src/main counts Spark jobs only through JobCensus") {
    Seq("sc.addSparkListener(census)", "new SparkListener {",
        "import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}",
        "override def onTaskEnd(e: SparkListenerTaskEnd): Unit")
      .foreach(s => assert(sparkListener.findFirstIn(code(s)).isDefined, s))
    Seq("// registers a SparkListener", "/** [[SparkListener]] events */",
        "JobCensus.of(spark.sparkContext)", "sc.listenerBus.waitUntilEmpty()")
      .foreach(s => assert(sparkListener.findFirstIn(code(s)).isEmpty, s))
    val offenders = mainSources.collect {
      case (f, src) if f.getPath != "src/main/scala/graft/core/JobCensus.scala" &&
          sparkListener.findFirstIn(code(src)).isDefined => f.getPath }
    assert(offenders.isEmpty,
      s"Spark listeners outside graft.core.JobCensus: ${offenders.mkString(", ")}")
  }

  private val sessionBuilder = """\bSparkSession\s*\.\s*builder\b""".r

  test("src/main builds sessions only in the mains that own one") {
    Seq("SparkSession.builder()", "org.apache.spark.sql.SparkSession.builder()\n  .master(m)",
        "SparkSession\n  .builder()")
      .foreach(s => assert(sessionBuilder.findFirstIn(code(s)).isDefined, s))
    Seq("// SparkSession.builder()", "SparkSession.active", "SparkSession.getActiveSession",
        "s0.newSession()", "/** a SparkSession. builder-free */")
      .foreach(s => assert(sessionBuilder.findFirstIn(code(s)).isEmpty, s))
    val owners = Set("Bench", "Verify", "ScaleReplicate", "tools/MetaScale")
      .map(m => s"src/main/scala/graft/$m.scala")
    val offenders = mainSources.collect {
      case (f, src) if !owners(f.getPath) && sessionBuilder.findFirstIn(code(src)).isDefined => f.getPath }
    assert(offenders.isEmpty,
      s"SparkSession.builder outside Bench, Verify, ScaleReplicate, MetaScale: ${offenders.mkString(", ")}")
  }
}
