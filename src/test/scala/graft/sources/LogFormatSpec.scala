package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DeletionVectors, FileStats, ManifestTable}

/** Pins the on-disk bytes of the three versioned logs: the manifest's
  * `_commit_`/`_ckpt_`/`_head` files, the keyedlog journal's
  * `_klogv_`/`_klogv_head` files and the streaming seen-log's entries.
  * Each log gets a fixed commit sequence with fixed file names that runs
  * past one anchor version, and every file the sequence leaves behind is
  * compared byte for byte. A reader of an existing table depends on
  * exactly these bytes, so a change here is a format change. */
class LogFormatSpec extends AnyFunSuite {

  private val conf = new SerializableConfiguration(new Configuration())

  /** Every file in `dir` (sorted by name) with its text. */
  private def contents(dir: String): Seq[(String, String)] =
    Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isRegularFile(_))
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq.sortBy(_._1)

  /** Asserts that `dir` holds exactly the files `expected` names plus
    * the named `.crc` side files (checked by name only), with exactly the
    * expected text in each. */
  private def assertFiles(dir: String, expected: Seq[(String, String)],
                          crcOf: Seq[String] = Nil): Unit = {
    val found = contents(dir)
    assert(found.map(_._1) === (expected.map(_._1) ++ crcOf.map(n => s".$n.crc")).sorted)
    val text = found.toMap
    expected.foreach { case (n, t) => assert(text(n) === t, s"bytes of $n") }
  }

  private def padded(prefix: String, v: Long): String = f"$prefix$v%020d"

  test("manifest log: markers, checkpoint and head pointer") {
    val dir = Files.createTempDirectory("graft_fmt_manifest_").toString
    val id = FileStats.ColStats(Some(FileStats.LongVal(1L)), Some(FileStats.LongVal(3L)), Some(0L))
    val st = Map("d-a/part-00000.parquet" -> FileStats.Stats(3L, Map("id" -> id), Some(120L)))
    val dv = Map("d-a/part-00000.parquet" -> DeletionVectors.DvRef("d-a/dv-1.bin", 1L))
    assert(ManifestTable.commitStagedSnapshot("file://" + dir,
      Seq("d-a/part-00000.parquet", "d-a/part-00001.parquet"), stats = Some(st), dvs = dv) === 1L)
    (2 to 11).foreach { i =>
      assert(ManifestTable.commitStagedAppend("file://" + dir,
        Seq(f"d-b$i%02d/part-00000.parquet"), stats = Some(Map.empty)) === i.toLong)
    }
    val ckpt = Seq(
      "d-a/part-00000.parquet\t" +
        "{\"rc\":3,\"sb\":120,\"c\":{\"id\":{\"mn\":1,\"mx\":3,\"nc\":0}}}\t" +
        "{\"f\":\"d-a/dv-1.bin\",\"n\":1}",
      "d-a/part-00001.parquet") ++ (2 to 10).map(i => f"d-b$i%02d/part-00000.parquet")
    assertFiles(dir, Seq(
      padded("_commit_", 1) ->
        ("{\"s\":[\"d-a/part-00000.parquet\",\"d-a/part-00001.parquet\"]," +
          "\"st\":{\"d-a/part-00000.parquet\":" +
          "{\"rc\":3,\"sb\":120,\"c\":{\"id\":{\"mn\":1,\"mx\":3,\"nc\":0}}}}," +
          "\"dv\":{\"d-a/part-00000.parquet\":{\"f\":\"d-a/dv-1.bin\",\"n\":1}}}")) ++
      (2 to 11).map(i => padded("_commit_", i) ->
        f"""{"a":["d-b$i%02d/part-00000.parquet"],"r":[]}""") ++ Seq(
      padded("_ckpt_", 10) -> ckpt.mkString("\n"),
      "_head" -> """{"v":11}"""),
      crcOf = Seq(padded("_ckpt_", 10), "_head"))
    assert(ManifestTable.manifest("file://" + dir, 11L) ===
      ckpt.map(_.takeWhile(_ != '\t')) :+ "d-b11/part-00000.parquet")
  }

  test("keyedlog journal: commits, a rewrite, a stats entry and the compact anchor") {
    val dir = Files.createTempDirectory("graft_fmt_klog_").toString
    val stats = Map("a-0.log" -> Map("metric" -> ((1L, 9L))))
    assert(KeyedLogVersionLog.commit(dir, conf, Seq("a-0.log", "a-1.log"), stats = stats) === Some(0L))
    (1 to 6).foreach { i =>
      assert(KeyedLogVersionLog.commit(dir, conf, Seq(f"b-$i%02d.log")) === Some(i.toLong))
    }
    assert(KeyedLogVersionLog.commitRewrite(dir, conf, Set("a-1.log"), Seq("c-0.log"),
      stats = Map("c-0.log" -> Map("metric" -> ((2L, 4L))))) === 7L)
    assert(KeyedLogVersionLog.commitStats(dir, conf,
      Map("b-01.log" -> Map("metric" -> ((5L, 5L))))) === Some(8L))
    (9 to 11).foreach { i =>
      assert(KeyedLogVersionLog.commit(dir, conf, Seq(f"d-$i%02d.log")) === Some(i.toLong))
    }
    val early = Seq("a-0.log", "b-01.log", "b-02.log", "b-03.log", "b-04.log",
      "b-05.log", "b-06.log", "c-0.log")
    def arr(ns: Seq[String]) = ns.map(n => s"\"$n\"").mkString("[", ",", "]")
    assertFiles(dir, Seq(
      padded("_klogv_", 0) -> """{"n":["a-0.log","a-1.log"],"st":{"a-0.log":{"metric":[1,9]}}}""") ++
      (1 to 6).map(i => padded("_klogv_", i) -> f"""["b-$i%02d.log"]""") ++ Seq(
      padded("_klogv_", 7) -> (s"""{"n":${arr(early)},"rw":1,"rm":["a-1.log"],"ad":["c-0.log"],""" +
        """"st":{"a-0.log":{"metric":[1,9]},"c-0.log":{"metric":[2,4]}}}"""),
      padded("_klogv_", 8) -> """{"n":[],"st":{"b-01.log":{"metric":[5,5]}}}""",
      padded("_klogv_", 9) -> """["d-09.log"]""",
      padded("_klogv_", 10) -> (s"""{"n":["d-10.log"],""" +
        s""""all":${arr((early :+ "a-1.log" :+ "d-09.log" :+ "d-10.log").sorted)},""" +
        s""""live":${arr(early ++ Seq("d-09.log", "d-10.log"))},""" +
        """"st":{"a-0.log":{"metric":[1,9]},"b-01.log":{"metric":[5,5]},"c-0.log":{"metric":[2,4]}}}"""),
      padded("_klogv_", 11) -> """["d-11.log"]""",
      "_klogv_head" -> """{"v":11}"""),
      crcOf = Seq("_klogv_head"))
    assert(KeyedLogVersionLog.liveSet(dir, conf) ===
      Some((early ++ Seq("d-09.log", "d-10.log", "d-11.log")).sorted))
  }

  test("seen-log: entries and the compact anchor") {
    val dir = Files.createTempDirectory("graft_fmt_seen_").toString
    val log = new KeyedLogSeenLog(dir, conf)
    (0 to 11).foreach(i => assert(log.advance(Seq(f"/lake/f$i%02d.log")) === i.toLong))
    assert(log.advance(Seq.empty) === 12L)
    val all = (0 to 10).map(i => f"\"/lake/f$i%02d.log\"").mkString("[", ",", "]")
    assertFiles(dir,
      (0 to 11).filter(_ != 10).map(i => padded("", i) -> f"""{"n":["/lake/f$i%02d.log"]}""") ++ Seq(
      padded("", 10) -> s"""{"n":["/lake/f10.log"],"all":$all}""",
      padded("", 12) -> """{"n":[]}"""))
    val reopened = new KeyedLogSeenLog(dir, conf)
    assert(reopened.latestVersion === 12L && reopened.seen("/lake/f03.log"))
    assert(reopened.newFilesIn(9L, 12L) === Seq("/lake/f10.log", "/lake/f11.log"))
  }
}
