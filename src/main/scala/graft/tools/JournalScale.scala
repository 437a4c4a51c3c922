package graft.tools

import org.apache.spark.sql.SparkSession

/** Scale probe for JOURNAL-RESOLVED keyedlog reads
  * ([[graft.sources.KeyedLogVersionLog.liveSet]]): the 100 TB claim is
  * that resolving a reader's file set from the journal costs
  * O(CompactInterval) small reads however long the commit history — a
  * year of one-minute stream epochs (~500k versions) must not turn every
  * scan plan into a 500k-marker replay. Every CompactInterval-th marker
  * embeds a `live` anchor, so the newest-first replay stops within one
  * interval; the head itself is one O(1) pointer read.
  *
  * Setup: journal V synthetic single-file commits at V = 50, 500, 5000;
  * measure (a) liveSet resolution time and (b) one more commit's time at
  * each size (commit's dedup check replays the same anchored walk). Both
  * series must stay ~flat while the live-set SIZE grows with V — the
  * cost driver is the anchor distance, never the history length.
  *
  * Usage: `sbt "runMain graft.tools.JournalScale"`. */
object JournalScale {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("journal-scale")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val conf = graft.core.LakeStorage.taskConf()

    def timeMs[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    }

    val sizes = Seq(50, 500, 5000)
    val resolve = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
    val commit = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
    val liveSizes = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    sizes.foreach { v =>
      val dir = graft.core.TempDirs.create(s"graft_jscale_${v}_")
      (0 until v).foreach { i =>
        graft.sources.KeyedLogVersionLog.commit(dir, conf, Seq(f"part-$i%06d.log"))
      }
      // warm once (FS handles), then measure the anchored resolution
      graft.sources.KeyedLogVersionLog.liveSet(dir, conf)
      val (live, rMs) = timeMs(graft.sources.KeyedLogVersionLog.liveSet(dir, conf))
      resolve(v) = math.rint(rMs * 10) / 10
      liveSizes(v) = live.map(_.length).getOrElse(0)
      val (_, cMs) = timeMs(
        graft.sources.KeyedLogVersionLog.commit(dir, conf, Seq("part-extra.log")))
      commit(v) = math.rint(cMs * 10) / 10
    }
    def obj(m: scala.collection.Map[Int, Double]) =
      sizes.map(v => s""""$v":${m(v)}""").mkString("{", ",", "}")
    println(s"""{"probe":"journal_scale","resolve_ms":${obj(resolve)},""" +
      s""""commit_ms":${obj(commit)},"live_files":{${
        sizes.map(v => s""""$v":${liveSizes(v)}""").mkString(",")}}}""")
    spark.stop()
  }
}
