package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.json4s.{JArray, JNothing, JString, JValue}
import org.json4s.jackson.JsonMethods

/** One versioned log: numbered, write-once JSON entries in one directory.
  * The manifest log ([[ManifestTable]]), the keyedlog commit journal
  * ([[graft.sources.KeyedLogVersionLog]]) and the streaming seen-log
  * ([[graft.sources.KeyedLogSeenLog]]) are all this log; each keeps only
  * its entry codec and what its anchors hold.
  *
  * Protocol:
  *  - Entry `v` is the file `<prefix><v as 20 digits>` under `dir`, one
  *    line of JSON, written once and never rewritten.
  *  - A writer makes version `v` visible with ONE atomic create-if-absent
  *    of its entry ([[claim]]), then fills it. A lost claim means another
  *    writer owns `v`. [[commit]] is the optimistic loop around the claim:
  *    read the head, ask the caller for the entry that follows it, claim
  *    head + 1, and on a lost claim re-read the head and ask again. The
  *    caller decides what a lost race means: it rebases (returns new
  *    bytes), aborts (throws), or commits nothing (returns None). A
  *    single-writer log claims its next version directly and treats a
  *    loss as fatal.
  *  - The head pointer, when the log keeps one, is a small file holding
  *    `{"v":N}` for some committed N, rewritten after every commit. It is
  *    advisory: a reader checks that entry N exists, then probes N+1,
  *    N+2, ... to the true head, so a pointer k commits stale costs k+1
  *    existence checks, and a missing, corrupt or ahead pointer falls
  *    back to one directory listing. The steady-state head costs O(1)
  *    object reads instead of a listing that grows with the log.
  *  - Every [[AnchorInterval]]-th version is an anchor: the format stores
  *    the full state as of that version, inside the entry or beside it.
  *    A backward walk from any version ([[walkBack]]) therefore reads at
  *    most one interval of entries, however long the log is.
  *  - A reader can catch an entry between claim and fill (empty or
  *    truncated JSON). [[entry]] re-reads such an entry for about a second
  *    before it reports corruption; the fill is one small write.
  *
  * Atomicity of the claim by store class ([[LakeStorage.createExclusive]]):
  *  - local `file://`: atomic across processes (java.nio O_EXCL; Hadoop's
  *    own local create is check-then-act). CommitRaceSpec proves it with
  *    two contending JVMs.
  *  - HDFS: atomic (the namenode's create is exclusive).
  *  - S3A-class object stores without conditional PUT: check-then-act, so
  *    concurrent writers are best-effort there. A store with If-None-Match
  *    closes the hole.
  * Pointers and anchors are caches: losing one costs a listing or a
  * longer walk, never correctness. */
final class VersionLog(val dir: String, val fs: FileSystem, prefix: String,
                       pointer: Option[String], label: String) {
  import VersionLog._

  private val base = new Path(dir)

  def path(v: Long): Path = new Path(base, f"$prefix$v%020d")

  /** Versions present (ascending), by one directory listing. */
  def listed: Seq[Long] = listing(fs, base, prefix).map(_._1)

  /** The entries present, by one directory listing. */
  def paths: Seq[Path] = listed.map(path)

  /** [[listed]] with each entry's stamp, which a following [[walkBack]]
    * can take instead of a `getFileStatus` per entry. */
  def listedStamps: scala.collection.immutable.SortedMap[Long, Stamp] =
    scala.collection.immutable.SortedMap.from(listing(fs, base, prefix).map {
      case (v, st) => v -> ((st.getLen, st.getModificationTime))
    })

  /** Versions present (ascending), each with its entry's modification
    * time — the commit instant — by one listing. */
  def commitTimes: Seq[(Long, Long)] =
    listing(fs, base, prefix).map { case (v, st) => v -> st.getModificationTime }

  /** The newest version whose entry was modified at or before `ms`. */
  def asOfTimestamp(ms: Long): Option[Long] =
    commitTimes.filter(_._2 <= ms).lastOption.map(_._1)

  /** The highest committed version, None for an empty log. */
  def head: Option[Long] = headProbed._1

  /** [[head]] plus the filesystem operations it took (a listing counts
    * one per entry) — instrumentation for the O(1)-with-pointer claim. */
  def headProbed: (Option[Long], Int) = pointer.flatMap(readPointer) match {
    case Some(v) if has(v) =>
      var h = v
      var probes = 2 // pointer read + pointed-entry check
      while (has(h + 1)) { h += 1; probes += 1 }
      (Some(h), probes + 1) // + the final miss
    case _ =>
      val vs = listed
      (vs.lastOption, 1 + vs.length)
  }

  /** Whether entry `v` exists: one existence check, no listing. */
  def has(v: Long): Boolean = fs.exists(path(v))

  /** Delete every entry and the head pointer, leaving an empty log. */
  def clear(): Unit = {
    paths.foreach(fs.delete(_, false))
    pointer.foreach(p => fs.delete(new Path(base, p), false))
  }

  private def readPointer(name: String): Option[Long] =
    try JsonMethods.parse(LakeStorage.readText(fs, new Path(base, name))) \ "v" match {
      case org.json4s.JInt(n) => Some(n.toLong)
      case _                  => None
    } catch { case scala.util.control.NonFatal(_) => None }

  private def writePointer(name: String, v: Long): Unit =
    try {
      val out = fs.create(new Path(base, name), true)
      try out.write(s"""{"v":$v}""".getBytes(UTF_8)) finally out.close()
    } catch { case _: java.io.IOException => () } // advisory cache only

  /** Atomically create entry `v` holding `bytes`; false when it already
    * exists (another writer owns `v`). */
  def claim(v: Long, bytes: Array[Byte]): Boolean =
    LakeStorage.createExclusive(fs, path(v)) match {
      case None => false
      case Some(out) => try { out.write(bytes); true } finally out.close()
    }

  /** The optimistic claim loop. `next(head)` gets the current head (None
    * on an empty log, whose first version is `first`) and returns the
    * bytes of the entry that follows it, or None to commit nothing; it
    * may also throw to abort. A lost claim calls it again on the new head,
    * at most `attempts` times in all. Refreshes the head pointer after a
    * successful claim. Returns the claimed version. */
  def commit(first: Long, attempts: Int)(next: Option[Long] => Option[Array[Byte]]): Option[Long] = {
    var attempt = 0
    while (attempt < attempts) {
      val h = head
      val v = h.fold(first)(_ + 1)
      next(h) match {
        case None => return None
        case Some(bytes) if claim(v, bytes) =>
          pointer.foreach(writePointer(_, v))
          return Some(v)
        case Some(_) => attempt += 1
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"commit to $dir lost the claim race $attempts times — writer contention too high")
  }

  /** Entry `v` decoded by `decode`. The decoded entry is cached, keyed by
    * the entry's path and fenced by its (length, modification time): an
    * entry is write-once, so a hit costs one `getFileStatus` instead of
    * open + read + parse. The one rebirth case (a directory deleted and
    * recreated at the same path) shows as a changed stamp; entries
    * committed by other processes are plain misses. One log, one
    * decoder: the cache returns what `decode` built. */
  def entry[E](v: Long)(decode: JValue => E): E = stamped(v)(decode)._2

  /** [[entry]] plus the (length, modification time) stamp it was read
    * under — the identity a cache of states folded from entries can fence
    * on. A missing entry raises `FileNotFoundException`. `known`: see
    * [[tryStamped]]. */
  def stamped[E](v: Long, known: Option[Stamp] = None)(decode: JValue => E): (Stamp, E) =
    tryStamped(v, SettleReads, known)(decode).getOrElse(throw new IllegalStateException(
      s"corrupt $label ${path(v)}: unparseable after $SettleReads reads"))

  /** [[stamped]], or None when entry `v` is still not JSON after `reads`
    * reads (1 = no waiting: how a torn head entry is detected). `known`:
    * the entry's stamp from a listing, used for the first read in place
    * of a `getFileStatus`. */
  def tryStamped[E](v: Long, reads: Int, known: Option[Stamp] = None)(
      decode: JValue => E): Option[(Stamp, E)] = {
    val p = path(v)
    val key = p.toString
    var attempt = 0
    while (attempt < reads) {
      val stamp = known.filter(_ => attempt == 0).getOrElse {
        val st = fs.getFileStatus(p)
        (st.getLen, st.getModificationTime)
      }
      if (attempt == 0) cache.synchronized {
        val hit = cache.get(key)
        val e = if (hit == null || hit._1 != stamp) null else hit._2.get()
        if (e != null) return Some((stamp, e.asInstanceOf[E]))
      }
      scala.util.Try(JsonMethods.parse(LakeStorage.readText(fs, p))).toOption match {
        case Some(json) =>
          val e = try decode(json) catch {
            case c: Corrupt => throw new IllegalStateException(s"corrupt $label $p: ${c.getMessage}")
          }
          entryParses.incrementAndGet()
          cache.synchronized {
            cache.put(key, (stamp, new java.lang.ref.SoftReference[AnyRef](e.asInstanceOf[AnyRef]))); ()
          }
          return Some((stamp, e))
        case None =>
          attempt += 1
          if (attempt < reads) Thread.sleep(SettleSleepMs)
      }
    }
    None
  }

  /** Entries `top`, `top - 1`, ... (newest first) down to and including
    * the first one `anchor` accepts, or down to `bottom`. `known`: stamps
    * from a listing (see [[listedStamps]]). */
  def walkBack[E](top: Long, bottom: Long, known: Long => Option[Stamp] = _ => None)(
      decode: JValue => E)(anchor: E => Boolean): List[E] = {
    val out = List.newBuilder[E]
    var v = top
    while (v >= bottom) {
      val e = stamped(v, known(v))(decode)._2
      out += e
      v = if (anchor(e)) Long.MinValue else v - 1
    }
    out.result()
  }
}

object VersionLog {
  /** Every this-many versions a log writes an anchor (see the class doc).
    * Delta Lake's checkpointInterval defaults to 10 for the same reason. */
  val AnchorInterval: Long = 10L

  def isAnchor(v: Long): Boolean = v > 0 && v % AnchorInterval == 0

  /** An entry's (length, modification time). */
  type Stamp = (Long, Long)

  /** The version a file name encodes under `prefix`; None for foreign
    * names that merely share the prefix (a stray `_commit_x` must not
    * break resolution or vacuum). */
  def version(prefix: String, name: String): Option[Long] = {
    val digits = name.substring(math.min(prefix.length, name.length))
    if (name.startsWith(prefix) && digits.nonEmpty && digits.forall(_.isDigit))
      scala.util.Try(digits.toLong).toOption
    else None
  }

  /** The `prefix` files in `dir` by version (ascending), by one listing;
    * empty when `dir` does not exist. */
  private def listing(fs: FileSystem, dir: Path, prefix: String): Seq[(Long, FileStatus)] =
    if (!fs.exists(dir)) Seq.empty
    else {
      listings.incrementAndGet()
      fs.listStatus(dir).iterator
        .flatMap(s => version(prefix, s.getPath.getName).map(_ -> s)).toSeq.sortBy(_._1)
    }

  /** Thrown by an entry decoder; the log rethrows it naming the entry. */
  final class Corrupt(why: String) extends RuntimeException(why)

  def corrupt(why: String): Nothing = throw new Corrupt(why)

  /** A JSON string array (absent = empty) — the one array shape every
    * log entry carries. */
  def strings(j: JValue): Seq[String] = j match {
    case JArray(items) => items.map {
      case JString(s) => s
      case other      => corrupt(s"non-string element $other")
    }
    case JNothing => Seq.empty
    case other    => corrupt(s"expected a JSON array, got $other")
  }

  def render(j: JValue): Array[Byte] = JsonMethods.compact(JsonMethods.render(j)).getBytes(UTF_8)

  private val SettleReads = 100
  private val SettleSleepMs = 10L

  private val CacheMax = 4096
  /** Decoded entries of every log, softly referenced: manifest snapshot
    * markers can be large, and the GC reclaims them before anything
    * runs out of memory. */
  private val cache =
    new java.util.LinkedHashMap[String, (Stamp, java.lang.ref.SoftReference[AnyRef])](256, 0.75f, true) {
      override protected def removeEldestEntry(
          e: java.util.Map.Entry[String, (Stamp, java.lang.ref.SoftReference[AnyRef])]): Boolean =
        size() > CacheMax
    }

  /** Entries decoded past the cache (test instrumentation). */
  private[graft] val entryParses = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Directory listings any log has taken (test instrumentation). */
  private[graft] val listings = new java.util.concurrent.atomic.AtomicLong(0L)
}
