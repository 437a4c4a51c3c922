package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** `GENERATED ALWAYS AS IDENTITY` for manifest tables — the surrogate-key
  * DDL next to column DEFAULTs (qc49).
  *
  * The analyzer's side is Spark's own: the parser carries the spec into
  * the v2 column, `TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_
  * IDENTITY_COLUMNS` admits it, and the spec rides the descriptor's
  * schema JSON as the catalyst metadata keys (`identity.start/step/
  * allowExplicitInsert`). The WRITE side is entirely the connector's
  * (Spark fills nothing): the batch insert path fills identity values
  * and enforces the explicit-insert contract.
  *
  * Allocation — DENSE, monotone, and conflict-safe across concurrent
  * writers:
  *  1. ONE cheap narrow pass counts the batch's rows per partition
  *     (input persisted around the two passes so a non-deterministic
  *     source cannot change shape between count and write);
  *  2. the write RESERVES exactly that many ordinals by create-exclusive
  *     CAS on a high-water marker under `_identity_<col>/` in the
  *     table's data root (two racing writers get disjoint ranges; a
  *     writer that reserves and crashes burns a bounded gap — the
  *     identity contract, like Delta's, guarantees uniqueness and
  *     monotonicity, never density across failures);
  *  3. each row's value is `start + step * (base + partitionOffset +
  *     rowIndexInPartition)` — a pure codegen expression (the row index
  *     is recovered from `monotonically_increasing_id`'s partition
  *     layout, the per-partition offsets ride a broadcast map literal),
  *     so the fill itself is map-only, no shuffle, no driver loop.
  *
  * GENERATED ALWAYS rejects non-NULL user values through the same lazy
  * raise_error shape the CHECK machinery uses (zero extra passes);
  * GENERATED BY DEFAULT (`allowExplicitInsert`) keeps user values via
  * coalesce — explicit values do NOT advance the high-water mark (the
  * documented Delta quirk; mixing explicit values above the mark with
  * generated ones risks collisions, exactly as there).
  *
  * DOCUMENTED DIVERGENCE — explicit NULL on BY DEFAULT columns: an
  * explicitly inserted NULL is indistinguishable from an omitted column
  * by the time the batch reaches the connector (Spark's v2 write hands
  * the connector a full-width batch with NULLs already in place), so BY
  * DEFAULT treats NULL as "generate". Engines that resolve defaults in
  * the analyzer (Delta) can keep an explicit NULL; a user who NEEDS a
  * NULL surrogate key (a contradiction for an identity column, but
  * expressible there) does not get one here. GENERATED ALWAYS is
  * unaffected: NULL means generate, non-NULL is rejected loudly.
  *
  * Scope: the batch INSERT/append path (including REPLACE WHERE and
  * truncate overwrites — the mark never resets, so replaced tables keep
  * allocating forward). Streaming writes and MERGE INSERT arms must
  * supply the column explicitly only on BY DEFAULT columns; on ALWAYS
  * columns they are rejected loudly rather than silently mis-numbered. */
object IdentityColumns {

  /** Catalyst's own metadata keys (`IdentityColumn.IDENTITY_INFO_*`). */
  val StartKey = "identity.start"
  val StepKey = "identity.step"
  val ExplicitKey = "identity.allowExplicitInsert"

  final case class Spec(col: String, start: Long, step: Long,
                        allowExplicit: Boolean)

  def specs(schema: StructType): Seq[Spec] = schema.fields.toSeq.flatMap { f =>
    if (f.metadata.contains(StartKey))
      Some(Spec(f.name, f.metadata.getLong(StartKey),
        f.metadata.getLong(StepKey),
        f.metadata.contains(ExplicitKey) && f.metadata.getBoolean(ExplicitKey)))
    else None
  }

  def hasIdentity(schema: StructType): Boolean = specs(schema).nonEmpty

  private def markerDir(dataDir: String, col: String): Path =
    new Path(dataDir, s"_identity_$col")

  /** Head of the reservation log: the highest claim number plus its
    * content — `Right((k, total))` when readable, `Left(k)` when the head
    * marker exists but its content is missing/torn (either its creator
    * is between create and close, or it CRASHED there — distinguishable
    * only by waiting). Resolving is one listing + one tiny read whatever
    * the history. */
  private def head(fs: org.apache.hadoop.fs.FileSystem,
                   d: Path): Either[Long, (Long, Long)] = {
    if (!fs.exists(d)) return Right((0L, 0L))
    val ks = fs.listStatus(d).iterator.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("c-")) scala.util.Try(n.stripPrefix("c-").toLong).toOption
      else None
    }.toSeq
    if (ks.isEmpty) return Right((0L, 0L))
    val k = ks.max
    readContent(fs, d, k).map(hw => (k, hw)).toRight(k)
  }

  /** Raw marker content: `"<total>:<owner-nonce>"`. The nonce exists so
    * a winner can tell ITS claim from a rival's after a crash-repair
    * sweep re-issued the same claim number (same total when the rival
    * reserved the same n — the total alone cannot disambiguate). */
  private def readRaw(fs: org.apache.hadoop.fs.FileSystem, d: Path,
                      k: Long): Option[String] = {
    val content =
      try graft.core.LakeStorage.readText(fs, new Path(d, s"c-$k")).trim
      catch { case _: java.io.IOException => "" }
    if (content.isEmpty) None else Some(content)
  }

  private def readContent(fs: org.apache.hadoop.fs.FileSystem, d: Path,
                          k: Long): Option[Long] =
    readRaw(fs, d, k).flatMap(c =>
      scala.util.Try(c.takeWhile(_ != ':').toLong).toOption)

  /** Current high-water TOTAL of `col`'s reservation sequence: the
    * maximum readable marker content (totals are cumulative and monotone,
    * so the max IS the mark; a torn head has issued nothing and is
    * rightly ignored). 0 when no marker dir exists — a table that never
    * reserved. Used by deep clone to carry the mark to the migrated
    * table's own marker dir. */
  private[catalog] def highWater(dataDir: String, col: String): Long = {
    val fs = graft.core.LakeStorage.openFor(dataDir)
    val d = markerDir(dataDir, col)
    if (!fs.exists(d)) return 0L
    fs.listStatus(d).iterator.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("c-"))
        scala.util.Try(n.stripPrefix("c-").toLong).toOption
          .flatMap(k => readContent(fs, d, k))
      else None
    }.foldLeft(0L)(math.max)
  }

  /** Seed a FRESH table's reservation sequence at `total` (deep clone
    * carrying the source's mark). The target is unpublished — nothing can
    * race the claim; losing it means the caller's own retry already
    * seeded, which is fine as long as the content agrees. */
  private[catalog] def seed(dataDir: String, col: String, total: Long): Unit = {
    val fs = graft.core.LakeStorage.openFor(dataDir)
    val d = markerDir(dataDir, col)
    if (!fs.exists(d)) fs.mkdirs(d)
    graft.core.LakeStorage.createExclusive(fs, new Path(d, "c-1")) match {
      case Some(out) =>
        val nonce = java.util.UUID.randomUUID().toString
        try out.write(s"$total:$nonce".getBytes("UTF-8")) finally out.close()
      case None =>
        val existing = readContent(fs, d, 1L)
        require(existing.contains(total) || highWater(dataDir, col) >= total,
          s"identity seed for $col under $dataDir lost a claim race to a " +
            s"marker below the source mark $total — target not fresh?")
    }
  }

  /** Reserve `n` ordinals for `col`: claim `c-<k+1>` by O_EXCL create
    * (the commit log's exactly-one-winner primitive — a plain
    * create(overwrite=false) is check-then-act on local fs) carrying the
    * new cumulative total; racing writers always end up with DISJOINT
    * dense [base, base+n) ranges because only one can own each claim
    * number. Superseded claims are retained for the last 64 numbers and
    * an hour (see the sweep-rule comment — immediate deletion would make
    * claim numbers recyclable under a stale listing). Returns the base
    * ordinal.
    *
    * Crash repair: a writer that dies between create and content-write
    * leaves a torn head that would otherwise block the sequence forever.
    * A torn writer has, by construction, NOT issued any ordinals
    * (reserve only returns after the content is durable), so after
    * giving a merely-slow writer ~1s to finish, the torn marker is
    * deleted and claiming proceeds. The matching race guard: every
    * winner RE-READS its own marker before returning and re-claims if a
    * repairer swept it, so a repair can never double-issue a range. */
  private[catalog] def reserve(dataDir: String, col: String, n: Long): Long = {
    require(n >= 0, s"identity reservation of $n rows")
    if (n == 0) return 0L
    val fs = graft.core.LakeStorage.openFor(dataDir)
    val d = markerDir(dataDir, col)
    if (!fs.exists(d)) fs.mkdirs(d)
    var attempt = 0
    var tornStreak = 0
    while (attempt < 200) {
      head(fs, d) match {
        case Left(tornK) =>
          tornStreak += 1
          if (tornStreak >= 20) { // ~1s of 50ms waits: crashed, not slow
            try { fs.delete(new Path(d, s"c-$tornK"), false); () }
            catch { case _: java.io.IOException => }
            tornStreak = 0
          } else Thread.sleep(50)
        case Right((k, hw)) =>
          tornStreak = 0
          graft.core.LakeStorage.createExclusive(fs, new Path(d, s"c-${k + 1}")) match {
            case Some(out) =>
              val nonce = java.util.UUID.randomUUID().toString
              try out.write(s"${hw + n}:$nonce".getBytes("UTF-8"))
              finally out.close()
              // verify OUR marker survived with OUR content (a crash
              // repairer may have swept it as torn mid-write and a rival
              // re-claimed the same number — the nonce disambiguates);
              // a withdrawn claim issued nothing, take a fresh one
              if (readRaw(fs, d, k + 1).contains(s"${hw + n}:$nonce")) {
                // SWEEP RULE — claim numbers must never be recyclable
                // while anyone could hold a stale listing: deleting a
                // claim frees its number for createExclusive, and a
                // reader holding a pre-sweep view could recreate it and
                // double-issue a consumed range (caught by the
                // concurrent spec under load when sweeping was
                // immediate). A reader's view is at most ONE loop
                // iteration old (head() re-lists every attempt), so keep
                // the last 64 claim numbers unconditionally and delete
                // only markers an hour stale — recycling would need a
                // single list-read-create iteration suspended for an
                // hour ACROSS 64 intervening winners.
                val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
                fs.listStatus(d).foreach { s =>
                  val name = s.getPath.getName
                  if (name.startsWith("c-") &&
                      scala.util.Try(name.stripPrefix("c-").toLong).toOption
                        .exists(_ <= k - 63) &&
                      s.getModificationTime < cutoff)
                    try { fs.delete(s.getPath, false); () }
                    catch { case _: java.io.IOException => }
                }
                return hw
              }
            case None => // another writer owns claim k+1: re-list
          }
      }
      attempt += 1
      if (attempt % 20 == 0) Thread.sleep(10)
    }
    throw new java.util.ConcurrentModificationException(
      s"identity reservation for $col under $dataDir failed after 200 " +
        "attempts — writer contention too high")
  }

  /** Per-(query, epoch, partition) SLAB reservation for streaming writes
    * (`writeStream.toTable` on identity tables): the task claims marker
    * `e-<queryId>-e<epoch>-p<pid>` by the same O_EXCL CAS as the batch
    * sequence; exactly ONE winner reserves `slab` ordinals from the
    * shared c-sequence and records the base in the marker, so every
    * replay — task retry or whole-epoch re-execution after a crash
    * between sink commit and offset write — READS the same base back and
    * regenerates byte-identical keys (the epoch-pool protocol's existing
    * determinism contract). Keys are dense within a partition and gapped
    * between slabs — the identity contract (uniqueness + monotonicity,
    * never density) allows it; Delta's streaming identity gaps the same
    * way. The shared sequence advances by `slab` per (epoch, partition),
    * keeping batch INSERT reservations disjoint from every stream slab.
    *
    * Marker retention mirrors the c-sequence sweep rule: epoch markers
    * more than 64 epochs behind THIS query's current epoch and over an
    * hour old are swept by later winners — Spark can only replay the
    * last uncommitted epoch after a restart, so a 64-epoch window is far
    * beyond any replayable horizon. */
  private[catalog] def reserveEpochSlab(dataDir: String, col: String,
      queryId: String, epochId: Long, partitionId: Int, slab: Long): Long = {
    require(slab > 0, s"identity epoch slab must be positive, got $slab")
    val fs = graft.core.LakeStorage.openFor(dataDir)
    val d = markerDir(dataDir, col)
    if (!fs.exists(d)) fs.mkdirs(d)
    val name = s"e-$queryId-e$epochId-p$partitionId"
    def baseOf(): Option[Long] = {
      val content =
        try graft.core.LakeStorage.readText(fs, new Path(d, name)).trim
        catch { case _: java.io.IOException => "" }
      if (content.isEmpty) None
      else scala.util.Try(content.takeWhile(_ != ':').toLong).toOption
    }
    var attempt = 0
    var tornStreak = 0
    while (attempt < 400) {
      baseOf() match {
        case Some(b) => return b // replay (or a racing task's winner)
        case None =>
          if (fs.exists(new Path(d, name))) {
            // marker exists but content unreadable: winner mid-write or
            // crashed there — same torn-head repair as the c-sequence (a
            // torn winner has issued NO keys; its burned slab is a gap)
            tornStreak += 1
            if (tornStreak >= 20) {
              try { fs.delete(new Path(d, name), false); () }
              catch { case _: java.io.IOException => }
              tornStreak = 0
            } else Thread.sleep(50)
          } else graft.core.LakeStorage.createExclusive(fs, new Path(d, name)) match {
            case Some(out) =>
              val base = reserve(dataDir, col, slab)
              val nonce = java.util.UUID.randomUUID().toString
              try out.write(s"$base:$nonce".getBytes("UTF-8")) finally out.close()
              // survive-the-repairer verification, as in reserve(): if a
              // torn-repair swept our marker mid-write a rival may own a
              // fresh one — abandon OUR slab (a bounded gap) and use the
              // rival's base so all tasks of the epoch agree
              baseOf() match {
                case Some(b) =>
                  sweepEpochMarkers(fs, d, queryId, epochId)
                  return b
                case None => // swept and not yet re-claimed: retry loop
              }
            case None => // lost the claim race: loop re-reads the winner
          }
      }
      attempt += 1
      if (attempt % 20 == 0) Thread.sleep(10)
    }
    throw new java.util.ConcurrentModificationException(
      s"identity epoch-slab reservation for $col under $dataDir " +
        s"($name) failed after 400 attempts")
  }

  /** Marker retention. THIS query's markers: swept when ≥64 epochs
    * behind AND >1h old (Spark can only replay the last uncommitted
    * epoch after a restart, so the window is far beyond any replayable
    * horizon). OTHER queries' markers (a finished query never sweeps its
    * own again — without this, a table fed by many one-shot streaming
    * jobs accumulates markers forever and every reservation's listing
    * slows with table age): swept only past a much longer retention,
    * [[EpochMarkerRetentionMs]] (7 days). DOCUMENTED RESIDUAL: a stream
    * that sat dead >7 days with its FINAL epoch committed to the sink
    * but not the offset log, restarted after a rival write swept its
    * marker, would re-reserve a fresh slab for the replayed epoch and
    * overwrite the pool with differently-keyed rows — the same class of
    * retention-vs-replay tradeoff as vacuum horizons; raise the
    * retention before reviving week-dead checkpoints. */
  private[catalog] val EpochMarkerRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  private def sweepEpochMarkers(fs: org.apache.hadoop.fs.FileSystem,
      d: Path, queryId: String, epochId: Long): Unit = {
    val prefix = s"e-$queryId-e"
    val now = System.currentTimeMillis()
    val ownCutoff = now - 60L * 60 * 1000
    val foreignCutoff = now - EpochMarkerRetentionMs
    try fs.listStatus(d).foreach { s =>
      val n = s.getPath.getName
      val sweep =
        if (n.startsWith(prefix)) {
          val ep = scala.util.Try(
            n.stripPrefix(prefix).takeWhile(_ != '-').toLong).toOption
          ep.exists(_ <= epochId - 64) && s.getModificationTime < ownCutoff
        } else n.startsWith("e-") && s.getModificationTime < foreignCutoff
      if (sweep) {
        try { fs.delete(s.getPath, false); () }
        catch { case _: java.io.IOException => }
      }
    } catch { case _: java.io.IOException => }
  }

  /** Fill/enforce every identity column of `declared` on the incoming
    * batch. No-op (and cost-free) for tables without identity columns.
    * Returns the filled frame plus a release thunk the caller runs AFTER
    * the write consumed it (unpins the persisted input). */
  def fill(df: DataFrame, declared: StructType,
           dataDir: String): (DataFrame, () => Unit) = {
    val ids = specs(declared)
    if (ids.isEmpty) return (df, () => ())
    // persist around (count pass, write pass): identity assignment must
    // see the same rows and partitioning in both
    val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = pinned.groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = counts.map(_._2).sum
    // per-partition start offsets (exclusive prefix sums) as a broadcast
    // map literal — element_at is codegen'd row work
    val prefix = counts.scanLeft(0L)(_ + _._2)
    val offsetMap: Map[Int, Long] =
      counts.map(_._1).zip(prefix).toMap
    val q = Constraints.qcol _
    val rowIdx = monotonically_increasing_id()
      .bitwiseAND(lit((1L << 33) - 1))
    // a partition id absent from the count pass means the pinned input
    // changed shape between count and write (a recomputed non-deterministic
    // source after executor loss) — assigning it offset 0 would mint keys
    // colliding with partition 0's range, so FAIL the write loudly instead
    val missingPartition = raise_error(concat(
      lit("identity fill: partition "), spark_partition_id().cast("string"),
      lit(" was absent from the count pass — the input changed partitioning "),
      lit("between count and write; retry the write"))).cast("long")
    val pidOffset =
      if (offsetMap.isEmpty) missingPartition
      else coalesce(element_at(typedLit(offsetMap), spark_partition_id()),
        missingPartition)
    val out = ids.foldLeft(pinned) { (acc, spec) =>
      val dt = declared.find(_.name.equalsIgnoreCase(spec.col)).get.dataType
      val base = reserve(dataDir, spec.col, total)
      val gen = (lit(spec.start) +
        lit(spec.step) * (lit(base) + pidOffset + rowIdx)).cast(dt)
      val c = q(spec.col)
      val filled =
        if (spec.allowExplicit) coalesce(c, gen)
        else when(c.isNotNull, raise_error(concat(
            lit(s"identity column ${spec.col} is GENERATED ALWAYS — explicit "),
            lit("values are rejected (value: "), c.cast("string"), lit(")")))
            .cast(dt))
          .otherwise(gen)
      acc.withColumn(spec.col, filled)
    }
    (out, () => { pinned.unpersist(); () })
  }
}
