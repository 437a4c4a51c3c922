package lakebench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._

import graft.catalog.GraftCatalog
import graft.core.ManifestTable

/** `lakehouse`: the SQL front door on a copy-on-write manifest table (`cow`),
  * a merge-on-read manifest table (`mor`) and a bucketed keyedlog table
  * (`kl`), with reads beside writes on the same tables. */
final class Lakehouse(spark: SparkSession, seed: Long, seconds: Int, root: String)
    extends Workload(spark, seed, seconds, root) {
  import Lakehouse._
  import LakehouseGen._

  val rounds: Int = math.max(CompactEvery, math.round(seconds * RoundsPerSecond).toInt)
  private val plan = Lakehouse.plan(seed, rounds)
  private val main = new Tables("lb", s"$root/catalog")
  private var fileRatios = List.empty[Double]
  private var klFilesPerCommit = List.empty[Double]

  /** The three tables of one catalog and their model. */
  private final class Tables(val cat: String, val dir: String) {
    val model = new Model
    def t(name: String) = s"$cat.db.$name"
    def tableDir(name: String) = s"$dir/db/$name"
    def create(): Unit = {
      GraftCatalog.register(spark, cat, dir)
      spark.sql(s"CREATE NAMESPACE $cat.db")
      val cols = Columns.map { case (c, ty) => s"$c $ty" }.mkString(", ")
      spark.sql(s"CREATE TABLE ${t("cow")} ($cols) USING manifest")
      spark.sql(s"CREATE TABLE ${t("mor")} ($cols) USING manifest TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
      spark.sql(s"CREATE TABLE ${t("kl")} (key STRING, seq BIGINT, metric BIGINT) USING keyedlog " +
        s"PARTITIONED BY (bucket($KlBuckets, key))")
    }
    def preload(p: Plan): Unit = {
      p.base.grouped(math.max(1, p.base.size / p.preloads)).foreach { chunk =>
        view(chunk, "lb_src")
        spark.sql(s"INSERT INTO ${t("cow")} SELECT * FROM lb_src")
        spark.sql(s"INSERT INTO ${t("mor")} SELECT * FROM lb_src")
        model.cow.commit(model.cow.live ++ chunk.map(l => l.rowId -> l))
        model.mor.commit(model.mor.live ++ chunk.map(l => l.rowId -> l))
      }
      p.baseEvents.grouped(math.max(1, p.baseEvents.size / p.preloads)).foreach { chunk =>
        events(chunk, "lb_ev")
        spark.sql(s"INSERT INTO ${t("kl")} SELECT * FROM lb_ev")
        model.kl.commit(model.kl.live ++ chunk.map(e => e.seq -> e))
      }
      // the model's version numbers are the engine's from here on
      model.cow.rebase(ManifestTable.currentVersion(tableDir("cow")).get)
      model.mor.rebase(ManifestTable.currentVersion(tableDir("mor")).get)
    }
  }

  private def view(rows: Seq[Line], name: String): Unit =
    spark.createDataFrame(rows.map(l => Row(l.rowId, l.orderKey, l.partKey, l.lineNumber, l.quantity,
      l.priceCents, l.returnFlag, l.shipMode)).asJava, LineSchema).createOrReplaceTempView(name)

  private def events(rows: Seq[Event], name: String): Unit =
    spark.createDataFrame(rows.map(e => Row(e.key, e.seq, e.metric)).asJava, EventSchema).createOrReplaceTempView(name)

  def setup(): Unit = {
    new File(root).mkdirs()
    main.create()
    main.preload(plan)
    // warm-up: the same op mix on throwaway tables
    val warm = new Tables("lbw", s"$root-warm")
    warm.create()
    val warmPlan = Lakehouse.plan(seed + 1000003L, 1, BaseRows / 10, compactEvery = 1, preloads = 1)
    warm.preload(warmPlan)
    val r = new Run(None)
    warmPlan.rounds.foreach(round(warm, _, r))
    require(r.failed == 0, s"warm-up failed: ${r.problems.mkString("; ")}")
    spark.conf.unset("spark.sql.catalog.lbw")
    LakeBench.deleteRecursively(new File(s"$root-warm"))
    fileRatios = Nil
    klFilesPerCommit = Nil
  }

  def run(r: Run): Unit = plan.rounds.foreach(round(main, _, r))

  private def round(tb: Tables, rd: Round, r: Run): Unit = {
    r.round += 1
    val m = tb.model
    val traced = r.tracer.isDefined && (tb eq main)
    view(rd.insert, "lb_src")
    Seq("cow" -> m.cow, "mor" -> m.mor).foreach { case (name, mv) =>
      r.op("write", "catalog.insert", s"catalog.insert.$name")(spark.sql(s"INSERT INTO ${tb.t(name)} SELECT * FROM lb_src")).foreach { _ =>
        mv.commit(mv.live ++ rd.insert.map(l => l.rowId -> l))
        r.records += rd.insert.size
      }
    }
    view(rd.merge, "lb_merge")
    r.op("write", "catalog.merge")(spark.sql(
      s"MERGE INTO ${tb.t("cow")} t USING lb_merge s ON t.row_id = s.row_id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")).foreach { _ =>
      m.cow.commit(m.cow.live ++ rd.merge.map(l => l.rowId -> l))
      r.records += rd.merge.size
    }
    val (ua, ub) = rd.updateRange
    r.op("write", "catalog.update_mor")(spark.sql(
      s"UPDATE ${tb.t("mor")} SET l_quantity = l_quantity + 1, l_shipmode = 'UPDATED' " +
        s"WHERE row_id >= $ua AND row_id < $ub")).foreach { _ =>
      val hit = m.mor.live.filter { case (id, _) => id >= ua && id < ub }
      m.mor.commit(m.mor.live ++ hit.map { case (id, l) => id -> l.copy(quantity = l.quantity + 1, shipMode = "UPDATED") })
      r.records += hit.size
    }
    val (da, db) = rd.deleteRange
    r.op("write", "catalog.delete_mor")(spark.sql(
      s"DELETE FROM ${tb.t("mor")} WHERE row_id >= $da AND row_id < $db")).foreach { _ =>
      val hit = m.mor.live.keys.filter(id => id >= da && id < db)
      m.mor.commit(m.mor.live -- hit)
      r.records += hit.size
    }
    events(rd.events, "lb_ev")
    val klFiles0 = if (traced) dataFiles(tb.tableDir("kl")) else 0
    r.op("write", "sources.keyedlog.insert")(spark.sql(s"INSERT INTO ${tb.t("kl")} SELECT * FROM lb_ev")).foreach { _ =>
      m.kl.commit(m.kl.live ++ rd.events.map(e => e.seq -> e))
      r.records += rd.events.size
      if (traced) klFilesPerCommit ::= (dataFiles(tb.tableDir("kl")) - klFiles0).toDouble
    }
    r.op("write", "sources.keyedlog.update")(spark.sql(
      s"UPDATE ${tb.t("kl")} SET metric = metric + 1 WHERE key = '${rd.updateKey}'")).foreach { _ =>
      val hit = m.kl.live.filter(_._2.key == rd.updateKey)
      m.kl.commit(m.kl.live ++ hit.map { case (s, e) => s -> e.copy(metric = e.metric + 1) })
      r.records += hit.size
    }
    // read passes, each its own op kinds: a later pass may find the engine's
    // caches warm
    rd.reads.zipWithIndex.foreach { case (rs, pass) =>
      (rs.pointCow.map("cow" -> _) ++ rs.pointMor.map("mor" -> _)).foreach { case (name, id) =>
        val df = spark.sql(s"SELECT * FROM ${tb.t(name)} WHERE row_id = $id")
        r.op("point_read", "catalog.select_point", s"catalog.select_point.$name.$pass")(df.collect()).foreach { rows =>
          val want = (if (name == "cow") m.cow else m.mor).live.get(id).toSeq.map(lineHash)
          r.check(rows.map(rowHash).toSeq == want, s"$name point row_id=$id: ${rows.length} rows")
          if (traced) filesRead(df).foreach(n => fileRatios ::= n.toDouble / math.max(1, liveFiles(tb.tableDir(name))))
        }
      }
      rs.pointKeys.foreach { key =>
        r.op("point_read", "sources.keyedlog.select_key", s"sources.keyedlog.select_key.$pass")(
          spark.sql(s"SELECT key, seq, metric FROM ${tb.t("kl")} WHERE key = '$key'").collect()).foreach { rows =>
          val want = m.kl.live.values.filter(_.key == key).map(eventHash).toSeq.sorted
          r.check(rows.map(rowHash).toSeq.sorted == want, s"kl point key=$key: ${rows.length} rows")
        }
      }
      Seq("cow" -> m.cow, "mor" -> m.mor).foreach { case (name, mv) =>
        r.op("scan", "catalog.aggregate", s"catalog.aggregate.$name.$pass")(spark.sql(
          s"SELECT l_returnflag, count(*), sum(l_quantity), sum(l_extendedprice_cents) FROM ${tb.t(name)} " +
            "GROUP BY l_returnflag").collect()).foreach { rows =>
          val got = rows.map(x => (x.getString(0), (x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
          r.check(got == aggregate(mv.live.values), s"$name aggregate: $got")
        }
      }
      val v = m.cow.pick(rs.ttPick)
      r.op("scan", "catalog.time_travel", s"catalog.time_travel.$pass")(spark.sql(
        s"SELECT count(*), sum(l_quantity), sum(l_extendedprice_cents) FROM ${tb.t("cow")} VERSION AS OF $v")
        .collect()).foreach { rows =>
        val x = rows.head
        val want = totals(m.cow.at(v).values)
        r.check((x.getLong(0), x.getLong(1), x.getLong(2)) == want, s"cow VERSION AS OF $v: $x vs $want")
      }
    }
    if (rd.compact) Seq("cow" -> m.cow, "mor" -> m.mor).foreach { case (name, mv) =>
      r.op("", "catalog.compact")(spark.sql(s"CALL ${tb.cat}.system.compact('db.$name')").collect()).foreach { _ =>
        mv.catchUp(ManifestTable.currentVersion(tb.tableDir(name)).get)
      }
    }
  }

  /** Files the executed plan's scans read: the file splits of its batch scans. */
  private def filesRead(df: DataFrame): Option[Long] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(df.queryExecution.executedPlan).collect { case b: BatchScanExec => b }
    if (scans.isEmpty) None
    else Some(scans.flatMap(_.inputPartitions.collect { case fp: FilePartition => fp.files.map(_.filePath.toString) })
      .flatten.distinct.size.toLong)
  }

  private def liveFiles(dir: String): Int =
    ManifestTable.currentVersion(dir).map(v => ManifestTable.state(dir, v).files.size).getOrElse(0)

  private def dataFiles(dir: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.startsWith("part-")) 1 else 0
    walk(new File(dir))
  }

  /** Current and `VERSION AS OF` contents of every table equal the model. */
  def verify(r: Run): Unit = {
    val m = main.model
    def table(sql: String): Seq[Long] = spark.sql(sql).collect().map(rowHash).toSeq
    def same(what: String, got: Seq[Long], want: Iterable[Long]): Unit =
      r.check(Checks.sameRows(got, want), s"$what: ${got.size} rows, expected ${want.size}")
    val cols = Columns.map(_._1).mkString(", ")
    Seq("cow" -> m.cow, "mor" -> m.mor).foreach { case (name, mv) =>
      same(s"$name contents", table(s"SELECT $cols FROM ${main.t(name)}"), mv.live.values.map(lineHash))
      val v = mv.pick(0.5)
      same(s"$name VERSION AS OF $v", table(s"SELECT $cols FROM ${main.t(name)} VERSION AS OF $v"),
        mv.at(v).values.map(lineHash))
    }
    same("kl contents", table(s"SELECT key, seq, metric FROM ${main.t("kl")}"), m.kl.live.values.map(eventHash))
  }

  def payloadBytes: Long = {
    val m = main.model
    m.cow.live.values.map(_.payloadBytes).sum + m.mor.live.values.map(_.payloadBytes).sum +
      m.kl.live.values.map(_.payloadBytes).sum
  }

  def gauges(r: Run): Map[String, Double] = {
    val dirs = Seq("cow", "mor").map(main.tableDir)
    def mean(xs: List[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "catalog.select_point.files_read_ratio" -> mean(fileRatios),
      "core.manifest.versions" -> dirs.map(d => ManifestTable.currentVersion(d).getOrElse(-1L) + 1).sum.toDouble,
      "core.manifest.live_files" -> dirs.map(liveFiles).sum.toDouble,
      "core.manifest.small_file_debt" -> dirs.map(ManifestTable.smallFileDebt(_, CompactTargetBytes)).sum.toDouble,
      "sources.keyedlog.files_per_commit" -> mean(klFilesPerCommit))
  }
}

object Lakehouse {
  import LakehouseGen._

  val RoundsPerSecond = 0.9
  val CompactEvery = 2
  val ReadPasses = 2
  val BaseRows = 20000
  val BaseEvents = 1600
  val Preloads = 1
  val InsertRows = 100
  val MergeRows = 100
  val EventRows = 100
  val KeysPerBatch = 16
  val Keys = 64
  val KlBuckets = 8
  /** The compact procedure's default target (128 MiB). */
  val CompactTargetBytes: Long = 128L * 1024 * 1024

  val LineSchema: StructType = StructType(Columns.map { case (c, ty) =>
    StructField(c, if (ty == "STRING") StringType else LongType) })
  val EventSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("seq", LongType), StructField("metric", LongType)))

  /** One read pass: point SELECTs on each table, then the scans. */
  final case class Reads(pointCow: Seq[Long], pointMor: Seq[Long], pointKeys: Seq[String], ttPick: Double)
  final case class Round(index: Int, insert: Vector[Line], merge: Vector[Line], updateRange: (Long, Long),
                         deleteRange: (Long, Long), events: Vector[Event], updateKey: String,
                         reads: Seq[Reads], compact: Boolean)
  final case class Plan(base: Vector[Line], baseEvents: Vector[Event], rounds: Vector[Round], preloads: Int)

  /** The op sequence, generated against a simulation of the live row ids so
    * every UPDATE, DELETE and MERGE matches live rows. */
  def plan(seed: Long, rounds: Int, baseRows: Int = BaseRows, compactEvery: Int = CompactEvery,
           preloads: Int = Preloads): Plan = {
    val rng = new Rng(seed * 0x632BE59BD9B4E019L + 3)
    val base = (0 until baseRows).map(i => line(rng, i.toLong)).toVector
    var seq = 0L
    def evs(n: Int): Vector[Event] = {
      val keys = (0 until KeysPerBatch).map(_ => rng.nextInt(Keys)).distinct
      (0 until n).map { _ => seq += 1; Event(f"k${rng.pick(keys)}%03d", seq, rng.nextInt(1000000).toLong) }.toVector
    }
    val baseEvents = evs(BaseEvents / 2) ++ evs(BaseEvents / 2)
    var cowIds = base.map(_.rowId)
    val morIds = scala.collection.mutable.TreeSet(base.map(_.rowId): _*)
    val klKeys = scala.collection.mutable.LinkedHashSet(baseEvents.map(_.key): _*)
    var nextId = baseRows.toLong
    val out = (0 until rounds).map { i =>
      val ins = (0 until InsertRows).map { _ => nextId += 1; line(rng, nextId) }.toVector
      cowIds ++= ins.map(_.rowId)
      morIds ++= ins.map(_.rowId)
      val matched = (0 until MergeRows * 3 / 5).map(_ => cowIds(rng.nextInt(cowIds.size))).distinct
      val merge = (matched.map(line(rng, _)) ++
        (matched.size until MergeRows).map { _ => nextId += 1; line(rng, nextId) }).toVector
      cowIds ++= merge.map(_.rowId).filter(_ >= baseRows.toLong).filterNot(cowIds.toSet)
      val ua = morIds.toVector(rng.nextInt(morIds.size))
      val da = morIds.toVector(rng.nextInt(morIds.size))
      morIds --= morIds.range(da, da + 10)
      val ev = evs(EventRows)
      klKeys ++= ev.map(_.key)
      val updateKey = klKeys.toVector(rng.nextInt(klKeys.size))
      val reads = (0 until ReadPasses).map { p =>
        // in the first pass, every tenth round's second lookup asks for a row id that never existed
        Reads(Seq(cowIds(rng.nextInt(cowIds.size)), if (p == 0 && i % 10 == 9) -1L - i else cowIds(rng.nextInt(cowIds.size))),
          Seq(morIds.toVector(rng.nextInt(morIds.size)), if (p == 0 && i % 10 == 4) -1L - i else morIds.toVector(rng.nextInt(morIds.size))),
          Seq.fill(2)(klKeys.toVector(rng.nextInt(klKeys.size))), (i + p * 0.5) * 0.618034 % 1.0)
      }
      Round(i, ins, merge, (ua, ua + 20), (da, da + 10), ev, updateKey, reads, (i + 1) % compactEvery == 0)
    }.toVector
    Plan(base, baseEvents, out, preloads)
  }

  /** A table's model: its live rows by key, and the rows at every version. */
  final class Versions[K, V] {
    var live: Map[K, V] = Map.empty
    private var version = -1L
    private var history = Vector.empty[(Long, Map[K, V])]
    def commit(next: Map[K, V]): Unit = { version += 1; live = next; history :+= (version -> next) }
    /** Renumber so the latest commit is engine version `v`. */
    def rebase(v: Long): Unit = {
      val shift = v - version
      history = history.map { case (k, s) => (k + shift, s) }
      version = v
    }
    /** A table-maintenance commit: new versions up to `v`, same rows. */
    def catchUp(v: Long): Unit = while (version < v) commit(live)
    def at(v: Long): Map[K, V] = history.find(_._1 == v).map(_._2).getOrElse(sys.error(s"no version $v"))
    /** A committed version, `q` of the way through the history. */
    def pick(q: Double): Long = history(math.min(history.size - 1, (q * history.size).toInt))._1
  }

  final class Model {
    val cow = new Versions[Long, Line]
    val mor = new Versions[Long, Line]
    val kl = new Versions[Long, Event]
  }

  def lineHash(l: Line): Long = Checks.rowHash(l)
  def eventHash(e: Event): Long = Checks.rowHash(e)

  /** Hash of a result row, comparable with [[lineHash]] / [[eventHash]]. */
  def rowHash(r: Row): Long =
    if (r.length == 3) eventHash(Event(r.getString(0), r.getLong(1), r.getLong(2)))
    else lineHash(Line(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getString(6), r.getString(7)))

  def totals(rows: Iterable[Line]): (Long, Long, Long) =
    (rows.size.toLong, rows.iterator.map(_.quantity).sum, rows.iterator.map(_.priceCents).sum)

  def aggregate(rows: Iterable[Line]): Map[String, (Long, Long, Long)] =
    rows.groupBy(_.returnFlag).map { case (f, ls) => f -> totals(ls) }
}
