package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-study data generator: replicate the TPC-H-ish tables of an input
  * SF directory `factor`x with DISJOINT key spaces per replica (every
  * foreign-key relationship preserved within a replica, never across), so
  * join/aggregate plans face factor-x cardinality with realistic key
  * distributions. Usage:
  * {{{ runMain graft.ScaleReplicate <inDir> <outDir> <factor> [shift-events] }}}
  * With `shift-events`, each events replica's timestamps are shifted by
  * replica * (span + 1s): the time axis EXTENDS and temporal density stays
  * constant — the "longer history" growth mode of a real corpus. Without
  * it replicas share the time axis, so density grows factor-x — the
  * "denser traffic" mode (and, for joins windowed purely on time, a
  * quadratically growing true result set).
  * Runs on `SPARK_GRAFT_CPUS` cores, read as [[Verify]] and [[Bench]] read
  * it (default here: all available), and writes that many part-files per
  * replicated table. Scratch tooling for the scaling study in STATE.md — not part
  * of the library surface; writes only under the given outDir.
  */
object ScaleReplicate {
  def main(args: Array[String]): Unit = {
    val (inDir, outDir, factorS, shiftEvents) = args match {
      case Array(i, o, f)                  => (i, o, f, false)
      case Array(i, o, f, "shift-events")  => (i, o, f, true)
      case other => throw new IllegalArgumentException(
        s"usage: <inDir> <outDir> <factor> [shift-events], got ${other.mkString(" ")}")
    }
    val factor = factorS.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def load(t: String): DataFrame = spark.read.parquet(s"$inDir/$t.parquet")
    def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val offsets = keyCols.map(c => c -> (df.agg(max(col(c))).head().getLong(0) + 1L)).toMap
      val reps = (0 until factor).map { i =>
        keyCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i.toLong * offsets(c))))
      }
      reps.reduce(_ unionByName _)
    }
    def write(df: DataFrame, t: String): Unit = {
      df.repartition(cpus.toInt).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[replicate] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }
    /** The source testdata ships each table as ONE parquet FILE named
      * `<t>.parquet`; the streaming queries' file source globs on exactly
      * that name, so tables the qs family reads must keep the file shape
      * (a directory of part-files would stream zero rows). */
    def writeSingleFile(df: DataFrame, t: String): Unit = {
      val tmp = s"$outDir/__single_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = graft.core.LakeStorage.openFor(outDir)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val dest = new org.apache.hadoop.fs.Path(s"$outDir/$t.parquet")
      fs.delete(dest, true)
      if (!fs.rename(part, dest))
        sys.error(s"failed to move $part to $dest")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"[replicate] $t: ${spark.read.parquet(dest.toString).count()} rows (single file)")
    }

    // copied verbatim (dimension tables joined by every replica)
    Seq("region", "nation").foreach(t => write(load(t), t))
    // text/vector tables for the qt/qd/qv families: disjoint doc/vec ids
    // per replica; text content repeats, which is exactly the adversarial
    // case for dedup (every replica is a full near-dup of every other)
    write(replicate(load("documents"), Seq("doc_id")), "documents")
    write(replicate(load("embeddings"), Seq("vec_id")), "embeddings")
    write(replicate(load("supplier"), Seq("s_suppkey")), "supplier")
    write(replicate(load("part"), Seq("p_partkey")), "part")
    write(replicate(load("customer"), Seq("c_custkey")), "customer")
    write(replicate(load("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(replicate(load("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    // events: disjoint users + event ids per replica. Default: ts untouched
    // (densities scale with user count); shift-events: each replica's time
    // axis appended after the previous one (densities constant).
    val events0 = load("events")
    val events =
      if (!shiftEvents) replicate(events0, Seq("event_id", "user_id"))
      else {
        val spanSec = events0
          .agg((unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts")))))
          .head().getLong(0) + 1L
        val keyed = replicate(events0, Seq("event_id", "user_id"))
        // recover the replica index from the event_id offset block
        val idSpan = events0.agg(max(col("event_id"))).head().getLong(0) + 1L
        keyed
          .withColumn("_rep", expr(s"event_id div ${idSpan}L"))
          .withColumn("ts", expr(s"timestampadd(SECOND, _rep * ${spanSec}L, ts)"))
          .drop("_rep")
      }
    writeSingleFile(events, "events")
    spark.stop()
  }
}
