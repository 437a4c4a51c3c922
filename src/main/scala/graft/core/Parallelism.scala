package graft.core

import org.apache.spark.sql.DataFrame

/** Scale-adaptive fan-out for compute-heavy map stages (optimization
  * round 15, guide §2: derive partitioning from the input, never a
  * constant).
  *
  * A small input — one parquet file, one cached block, one micro-batch —
  * plans as ONE partition, so a downstream stage doing real per-row work
  * (shingling + 64-hash MinHash signatures, percentile buffers, n-gram
  * explosion) runs on a single core no matter how many the session has.
  * At cluster scale the same plan has thousands of input partitions and
  * needs no help; an unconditional repartition there would add a full
  * shuffle of the payload for nothing.
  *
  * [[fanOut]] is therefore a NO-OP when the input already carries at
  * least the session's default parallelism, and a round-robin
  * repartition to exactly that width when it does not. Round-robin keeps
  * rows intact (no key skew possible), stays deterministic under task
  * retry (Spark sorts before round-robin repartition — SPARK-23207), and
  * REPARTITION_BY_NUM is exempt from AQE coalescing, so the width
  * sticks. Only use above order-insensitive consumers (aggregations,
  * joins, exact counters) — it reorders rows.
  *
  * Width probe (optimization round 16): the input's width is ESTIMATED
  * from the logical plan's leaves — scan bytes over
  * `spark.sql.files.maxPartitionBytes` for file relations, the RDD's own
  * partition count for RDD-backed plans (micro-batches), materialized
  * size for cached relations — instead of `df.rdd.getNumPartitions`,
  * which forced an eager physical planning + RDD conversion of the
  * subtree per call (a redundant planning pass on a 100 TB plan, and it
  * sidesteps AQE's view). The estimate only steers a round-robin
  * repartition above order-insensitive consumers, so an estimate miss
  * costs a shuffle decision, never a row. Leaf shapes the estimator does
  * not know fall back to the physical probe. */
object Parallelism {
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val wide = estimatedInputPartitions(df) match {
      case Some(n) => n >= target
      // unknown leaf shape: the old physical probe (rare — every current
      // call site is a file scan, a micro-batch RDD, or a cached frame)
      case None => df.rdd.getNumPartitions >= target
    }
    if (wide) df else df.repartition(target)
  }

  /** Leaf-derived width estimate: None when any leaf is of an unknown
    * shape. File relations estimate ceil(bytes / maxPartitionBytes) —
    * byte-proportional like the scan planner itself (many-tiny-files
    * inputs under-estimate, which only adds a fan-out of a small input:
    * the cheap direction). Runs on the analyzed plan with cached
    * substitutes applied, so a persisted input is sized by its
    * materialized bytes, not its lineage. */
  private def estimatedInputPartitions(df: DataFrame): Option[Long] =
    try {
      val maxSplit = math.max(1L,
        df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
      val leaves = df.queryExecution.withCachedData.collectLeaves()
      var parts = 0L
      leaves.foreach {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              parts += math.max(1L,
                (fs.location.sizeInBytes + maxSplit - 1) / maxSplit)
            case _ => return None
          }
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          parts += math.max(1, r.rdd.getNumPartitions).toLong
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          parts += math.max(1L,
            (r.computeStats().sizeInBytes.toLong + maxSplit - 1) / maxSplit)
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          parts += 1L
        case r: org.apache.spark.sql.catalyst.plans.logical.Range =>
          parts += r.numSlices.map(_.toLong).getOrElse(
            df.sparkSession.sparkContext.defaultParallelism.toLong)
        case _ => return None
      }
      Some(parts)
    } catch { case scala.util.control.NonFatal(_) => None }
}
