package graft.core

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.{Text, WritableUtils}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Key-addressed object storage over any Hadoop FileSystem.
  *
  * Replaces the reference's OCI client (ref: OCIClient.kt): `file://` for
  * local runs; s3a/abfs/gcs connectors on a cluster via the same API. All
  * operations are point operations on exact paths on the driver; the batch
  * publishes of [[DatalakePublishService]] open one handle per batch
  * through [[LakeStorage.openFor]] and share it between the bounded pool of
  * threads that write the batch, mirroring the reference's
  * one-dedicated-client-per-batch amortization
  * (ref: DatalakePublishService.kt:63,104).
  *
  * Semantics preserved (SURVEY.md §7.4):
  *  - get: missing object -> None (404 -> null, ref: OCIClient.kt:182-187);
  *    other IO errors propagate.
  *  - put: one retry after a fixed delay on IO failure, then false
  *    (ref: OCIClient.kt:139-161 — single retry, 5 s).
  *  - exists: HEAD-equivalent (ref: OCIClient.kt:231-247).
  */
class LakeStorage(val root: String, conf: Configuration = LakeStorage.defaultConf,
    retryDelayMs: Long = 5000L) {

  private lazy val fs: FileSystem = LakeStorage.openFor(root, conf)

  private def path(fileName: String): Path = new Path(root, fileName)

  /** Write a document; true on success, single delayed retry on IO failure. */
  def put(fileName: String, data: String): Boolean = putBytes(fileName, data.getBytes(UTF_8))

  /** Byte-stream upload (the reference's InputStream variant,
    * ref: OCIClient.kt:101-137). */
  def putBytes(fileName: String, data: Array[Byte]): Boolean =
    LakeStorage.put(fs, path(fileName), data, retryDelayMs)

  /** Point read; None when missing (the reference's 404->null). Opens
    * first and stats only on a miss, so a hit costs one `open`; a path
    * that exists but cannot be read as an object (a directory) still
    * throws. */
  def get(fileName: String): Option[String] = {
    val p = path(fileName)
    try Some(LakeStorage.readText(fs, p))
    catch { case e: FileNotFoundException => if (fs.exists(p)) throw e else None }
  }

  def exists(fileName: String): Boolean = fs.exists(path(fileName))

  def status(fileName: String): Option[FileStatus] =
    try Some(fs.getFileStatus(path(fileName)))
    catch { case _: FileNotFoundException => None }

  /** Recursive listing of object names under `prefix`, relative to the
    * root; a missing prefix lists nothing. Callers pass the deepest prefix
    * they can fix ([[LakeReader]] prunes to the tenant/date directory).
    *
    * The walk is depth-first over `fs.listStatus`, never `fs.listFiles`:
    * `listFiles` wraps every entry in a `LocatedFileStatus`, whose
    * constructor reads the permission, owner and group, and the local
    * store without native Hadoop loads those by forking `ls` once per
    * file (about 5 ms wall and 3 ms child CPU each). `listStatus` returns
    * plain `FileStatus` objects that load them only on demand. The
    * checksum filesystem filters `.crc` sidecars out of both. */
  def listRecursive(prefix: String = ""): Seq[String] = listStatuses(prefix).map(_._1)

  /** [[listRecursive]]'s names, each with the `FileStatus` the walk read
    * for it, so a scan over them need not stat or list them again. */
  private[core] def listStatuses(prefix: String): Seq[(String, FileStatus)] = {
    val base = if (prefix.isEmpty) new Path(root) else path(prefix)
    val rootUri = fs.makeQualified(new Path(root)).toUri.getPath
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, FileStatus)]
    def walk(p: Path): Unit = {
      val entries = try fs.listStatus(p) catch { case _: FileNotFoundException => Array.empty[FileStatus] }
      entries.foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else buf += st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/") -> st
      }
    }
    walk(base)
    buf.toSeq
  }

  def delete(fileName: String): Boolean = fs.delete(path(fileName), true)
}

object LakeStorage {
  /** The Hadoop conf [[openFor]] falls back to where no usable session
    * exists (an executor JVM, or before any session starts). One lazily
    * built, immutable instance: `new Configuration()` re-parses the XML
    * resources on first use of every instance (optimization round 16). */
  lazy val sharedHadoopConf: Configuration = new Configuration()

  /** The Hadoop conf of the active (else the default) usable session, or
    * [[sharedHadoopConf]]. The session's own instance, which carries the
    * `spark.hadoop.*` settings, not a `newHadoopConf()` copy of ~1,100 keys
    * per acquisition. Inside a task it is always [[sharedHadoopConf]],
    * even in local mode where the driver's session is at hand: on a
    * cluster executor no session exists, so task code must pass the conf
    * its plan shipped, and a local run shows where it does not. */
  private def defaultConf: Configuration =
    if (TaskContext.get != null) sharedHadoopConf
    else SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(sharedHadoopConf)(_.sparkContext.hadoopConfiguration)

  /** A copy of `conf` that is cheap to ship to tasks.
    *
    * `Configuration.write` follows every key and value with that key's
    * "source" array, gzipped one key at a time. The session conf holds
    * about 1,100 keys, so one `SerializableConfiguration` of it costs
    * 113 KB, 6.7-7.8 ms to serialize and 11-13 ms to deserialize; this
    * copy costs 68 KB, 0.6 ms and 0.8-1.1 ms (local[4], 4-vCPU host).
    * A manifest parquet scan broadcasts one conf per statement and a
    * keyedlog job serializes one twice, so on small tables the plain
    * copies were a fifth to two fifths of a point read's wall time.
    *
    * The wire format stays Hadoop's, with a null source array written by
    * `WritableUtils.writeCompressedStringArray` (the encoding `readFields`
    * expects), so tasks read back an ordinary `Configuration` with the
    * same key -> value pairs and no per-key sources, which they never
    * read. Every conf the engine ships goes through here: the manifest
    * scan builder ([[graft.catalog.ManifestFileIndex.scanBuilder]]), the
    * bronze-lake text scan of [[LakeReader.readFhir]], every manifest
    * data-file write ([[ManifestPoolWriter.prepare]]: batch pool writes
    * such as INSERT, CTAS, compaction and [[ManifestTable.append]], DML
    * and streaming epochs) and the keyedlog plan nodes, the last two
    * through [[taskConf]]. */
  def shippable(conf: Configuration): Configuration = new ShippableConf(conf)

  private final class ShippableConf(conf: Configuration) extends Configuration(conf) {
    override def write(out: java.io.DataOutput): Unit = {
      val props = getProps
      WritableUtils.writeVInt(out, props.size)
      props.forEach { (k, v) =>
        Text.writeString(out, k.asInstanceOf[String])
        Text.writeString(out, v.asInstanceOf[String])
        WritableUtils.writeCompressedStringArray(out, null)
      }
    }
  }

  /** The one way the engine wraps a Hadoop conf for tasks: the active
    * session's conf by default (it carries `spark.hadoop.*` overrides such
    * as object-store credentials, which a bare `new Configuration()` on an
    * executor would miss), or a writer's prepared job conf, made
    * [[shippable]]. */
  def taskConf(conf: Configuration = SparkSession.active.sessionState.newHadoopConf())
      : SerializableConfiguration =
    new SerializableConfiguration(shippable(conf))

  /** Write `data` to `p`, replacing any object there; true on success.
    * Shared by single-object puts and the batch publishes' writer threads. */
  def put(fs: FileSystem, p: Path, data: Array[Byte], retryDelayMs: Long): Boolean = {
    def attempt(): Boolean = {
      val out = fs.create(p, true)
      try { out.write(data); true }
      finally out.close()
    }
    try attempt()
    catch {
      case _: IOException =>
        // Reference: exactly one retry after a fixed delay, only for
        // transient failures (OCIClient.kt:148-158). Hadoop FS surfaces
        // transient store errors as IOException.
        Thread.sleep(retryDelayMs)
        try attempt()
        catch { case _: IOException => false }
    }
  }

  /** The FileSystem for `root`, the one way the engine acquires one. Code
    * holding a conf passes it (tasks their shipped conf, writers their job
    * conf); the rest gets [[defaultConf]], so `spark.hadoop.*` settings
    * such as object-store credentials reach driver-side metadata I/O. */
  def openFor(root: String, conf: Configuration = defaultConf): FileSystem =
    openFor(new Path(root), conf)

  /** [[openFor]] for a `Path`, with the caller's conf. */
  def openFor(p: Path, conf: Configuration): FileSystem = p.getFileSystem(conf)

  /** The whole object at `p` as UTF-8 text; a missing object raises
    * `FileNotFoundException`. */
  def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Atomic create-exclusive across PROCESSES — the claim primitive of
    * [[VersionLog.claim]] (behind every versioned log) and of the identity
    * columns' epoch-slab reservation. Hadoop's LOCAL filesystem implements
    * `create(p, overwrite = false)` as check-then-act, so two JVMs could
    * both claim one path; `file://` URIs therefore go through java.nio's
    * CREATE_NEW (O_EXCL — atomic on POSIX), restoring exactly-one-winner.
    * Store-class matrix: local `file://` — atomic (this path); HDFS —
    * atomic (namenode create is exclusive by design); S3A-class object
    * stores without conditional PUT — check-then-act, best-effort (a
    * store with If-None-Match closes the hole; the documented protocol
    * caveat). Returns None when the path already exists — the caller
    * lost the race. CommitRaceSpec proves the local-FS guarantee with two
    * contending JVMs. */
  def createExclusive(fs: FileSystem, p: Path): Option[java.io.OutputStream] =
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      Option(local.getParent).foreach(java.nio.file.Files.createDirectories(_))
      try Some(java.nio.file.Files.newOutputStream(local,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE))
      catch { case _: java.nio.file.FileAlreadyExistsException => None }
    } else {
      try Some(fs.create(p, false))
      catch { case _: IOException => None }
    }
}
