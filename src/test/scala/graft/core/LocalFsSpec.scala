package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local store ([[ForkFreeLocalFileSystem]], [[ForkFreeLocalFs]]):
  * the same permissions as Hadoop's stock local store, no forked `chmod`,
  * and mounted for every conf the engine builds. */
class LocalFsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val localUri = URI.create("file:///")

  private def confWithUmask(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def octal(mode: String): Short = Integer.parseInt(mode, 8).toShort

  /** Writes `a/b/doc.json` under a fresh directory with `write`, makes
    * `x/y` with `mkdir`, and returns the permissions of the new dirs, the
    * file and its `.crc` sidecar. */
  private def layout(write: Path => Unit, mkdir: Path => Unit): Seq[String] = {
    val base = Files.createTempDirectory("graft_localfs_")
    write(new Path(base.toUri.toString, "a/b/doc.json"))
    mkdir(new Path(base.toUri.toString, "x/y"))
    Seq("a", "a/b", "a/b/doc.json", "a/b/.doc.json.crc", "x", "x/y")
      .map(r => PosixFilePermissions.toString(Files.getPosixFilePermissions(base.resolve(r))))
  }

  private def viaFileSystem(fs: FileSystem): Seq[String] =
    layout(p => { val out = fs.create(p, true); try out.write(1) finally out.close() },
      p => assert(fs.mkdirs(p)))

  private def viaFileContext(fc: FileContext): Seq[String] =
    layout(p => {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
      try out.write(1) finally out.close()
    }, p => fc.mkdir(p, FsPermission.getDirDefault, true))

  Seq("022" -> Seq("rwxr-xr-x", "rwxr-xr-x", "rw-r--r--", "rw-r--r--", "rwxr-xr-x", "rwxr-xr-x"),
      "077" -> Seq("rwx------", "rwx------", "rw-------", "rw-------", "rwx------", "rwx------"))
    .foreach { case (umask, expected) =>
      test(s"the engine and the stock local store set the same permissions under umask $umask") {
        val engine = FileSystem.newInstance(localUri, confWithUmask(umask))
        val stock = new LocalFileSystem()
        stock.initialize(localUri, confWithUmask(umask))
        try {
          assert(engine.isInstanceOf[ForkFreeLocalFileSystem])
          assert(viaFileSystem(engine) === expected)
          assert(viaFileSystem(stock) === expected)
        } finally { engine.close(); stock.close() }

        val engineFc = FileContext.getFileContext(localUri, confWithUmask(umask))
        assert(engineFc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
        val stockConf = confWithUmask(umask)
        stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
        val stockFc = FileContext.getFileContext(localUri, stockConf)
        assert(viaFileContext(engineFc) === expected)
        assert(viaFileContext(stockFc) === expected)
      }
    }

  test("setPermission keeps a sticky bit and reports a missing path as not found") {
    val dir = Files.createTempDirectory("graft_localfs_")
    val p = new Path(dir.toUri.toString)
    val fs = FileSystem.get(localUri, new Configuration())
    def mode: Int = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & octal("7777")
    fs.setPermission(p, new FsPermission(octal("1777")))
    assert(mode === octal("1777"))
    fs.setPermission(p, new FsPermission(octal("750")))
    assert(mode === octal("750"))
    intercept[FileNotFoundException](fs.setPermission(new Path(p, "absent"), new FsPermission(octal("644"))))
  }

  test("creates into new directories fork nothing, through FileSystem and FileContext") {
    assume(ChildCpu.observable, "no /proc: child CPU is not observable")
    val fs = FileSystem.get(localUri, new Configuration())
    val fc = FileContext.getLocalFSFileContext()
    // The stock store forks a chmod for each file, each .crc and each new
    // directory: over 300 forks and about a second of child CPU here.
    val cost = ChildCpu.bestOfThree {
      val base = Files.createTempDirectory("graft_localfs_").toUri.toString
      (1 to 50).foreach { i =>
        val out = fs.create(new Path(base, s"fs/d$i/doc.json"), true)
        try out.write(i) finally out.close()
      }
      (1 to 50).foreach { i =>
        val out = fc.create(new Path(base, s"fc/d$i/doc.json"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        try out.write(i) finally out.close()
      }
      assert(fs.listStatus(new Path(base, "fs")).length === 50)
      assert(fs.listStatus(new Path(base, "fc")).length === 50)
    }
    assert(cost < 20, s"child CPU of 100 creates (ms, best of 3): $cost")
  }

  test("every conf the engine builds resolves file:// to the fork-free store") {
    val confs = Seq(
      "new Configuration()" -> new Configuration(),
      "LakeStorage.sharedHadoopConf" -> LakeStorage.sharedHadoopConf,
      "the session conf" -> spark.sessionState.newHadoopConf(),
      "LakeStorage.taskConf" -> LakeStorage.taskConf().value)
    confs.foreach { case (name, conf) =>
      assert(FileSystem.getFileSystemClass("file", conf) === classOf[ForkFreeLocalFileSystem], name)
      assert(FileSystem.get(localUri, conf).isInstanceOf[ForkFreeLocalFileSystem], name)
    }
    assert(LakeStorage.openFor("file:///tmp").isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext().getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    // a task reads the conf back from the wire, without core-site.xml's sources
    val shipped = LakeStorage.taskConf()
    val inTask = spark.sparkContext.parallelize(Seq(1), 1)
      .map(_ => FileSystem.getFileSystemClass("file", shipped.value).getName).collect()
    assert(inTask.toSeq === Seq(classOf[ForkFreeLocalFileSystem].getName))
  }
}
