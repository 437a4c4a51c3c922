package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named group of oracle-checked queries.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2; each entry in
  * [[oracle]] is the equivalent ANSI SQL the driver runs in DuckDB over the
  * same parquet tables. Queries absent from [[oracle]] get the driver's weaker
  * rows-only check (used only for hash-seeded approximate operators whose
  * exact output is not portable across engines).
  *
  * Contract (driver compare): column NAMES must match between the Spark result
  * and the oracle result (the driver sorts columns by name before hashing);
  * every float column is rounded identically on both sides; every query output
  * is deterministically ordered with a total-order tie-break.
  */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracle: Map[String, String]

  /** An isolated child session for gates that register their own catalog —
    * TRACKED so the Bench/Verify leaked-stream guard can see it:
    * `StreamingQueryManager` is per-session state, so a stream started on
    * a bare `newSession()` would be invisible to `rootSession.streams`
    * and a gate that failed before `q.stop()` would silently burn budget
    * under every later measurement (the r14 bench forensics scenario). */
  protected def isolatedSession(s0: SparkSession): SparkSession =
    QueryModule.isolatedSession(s0)
}

object QueryModule {
  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[java.lang.ref.WeakReference[SparkSession]]

  def isolatedSession(s0: SparkSession): SparkSession = {
    val s = s0.newSession()
    tracked.add(new java.lang.ref.WeakReference(s))
    s
  }

  /** Every live isolated session. */
  private def trackedSessions: Seq[SparkSession] = {
    val it = tracked.iterator()
    val out = scala.collection.mutable.ArrayBuffer.empty[SparkSession]
    while (it.hasNext) {
      val ref = it.next()
      val s = ref.get()
      if (s == null) it.remove() else out += s
    }
    out.toSeq
  }

  /** The harnesses' post-gate guard: stops, with a `[tag]` warning, every
    * streaming query `gate` left running on `spark` or on a tracked
    * isolated session (`StreamingQueryManager` is per-session). A leaked
    * stream would burn budget under every later measurement and tear down
    * noisily at exit (the r14 bench forensics in STATE.md). */
  def stopLeakedStreams(spark: SparkSession, tag: String, gate: String): Unit =
    (spark +: trackedSessions).foreach { sess =>
      sess.streams.active.foreach { q =>
        System.err.println(s"[$tag] WARNING: $gate leaked active stream ${q.name}; stopping it")
        try q.stop() catch { case _: Throwable => () }
      }
    }
}
