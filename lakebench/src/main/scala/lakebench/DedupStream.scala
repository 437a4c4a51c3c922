package lakebench

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.catalog.GraftCatalog
import graft.core.ManifestTable
import graft.operators.Dedup

/** `dedup_stream`: seeded document batches are INSERTed into a manifest feed
  * table; a long-running Structured Streaming query (one table version per
  * trigger) decides each batch against the growing clean corpus and its LSH
  * index, and lands both idempotently. The client reads the clean corpus
  * back after every batch. */
final class DedupStream(spark: SparkSession, seed: Long, seconds: Int, root: String)
    extends Workload(spark, seed, seconds, root) {
  import DedupStream._
  import DedupGen.Doc

  val batches: Int = math.max(3, math.round(seconds * BatchesPerSecond).toInt)
  private val feed = DedupGen.feed(seed, batches, PerBatch)
  private val main = new Pipeline("ld", root, streamed = true)
  @volatile private var current: Run = new Run(None)
  private val drainSpan = new AtomicInteger(-1)

  /** Feed, clean and index tables of one catalog, and the query between them.
    * An unstreamed pipeline (the warm-up's) decides each batch inline. */
  private final class Pipeline(val cat: String, dir: String, streamed: Boolean) {
    val cleanDir = s"$dir/clean"
    val indexDir = s"$dir/index"
    val feedDir = s"$dir/catalog/db/feed"
    var query: StreamingQuery = _
    def t(name: String) = s"$cat.db.$name"

    def start(): Unit = {
      GraftCatalog.register(spark, cat, s"$dir/catalog")
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE ${t("feed")} (doc_id BIGINT, lang STRING, text STRING) USING manifest")
      // clean and index take plain name-resolved parquet from
      // appendIdempotent, so they are LOCATION tables
      spark.sql(s"CREATE TABLE ${t("clean")} (doc_id BIGINT, lang STRING, text STRING) USING manifest LOCATION '$cleanDir'")
      spark.sql(s"CREATE TABLE ${t("index")} (doc_id BIGINT, band INT, bucket BIGINT) USING manifest LOCATION '$indexDir'")
      if (streamed) query = spark.readStream.option("maxVersionsPerTrigger", "1").table(t("feed"))
        .writeStream.option("checkpointLocation", s"$dir/checkpoint")
        .foreachBatch((b: DataFrame, id: Long) => decide(b, id))
        .start()
    }

    /** Returns once the latest feed batch is decided and landed. */
    def drain(batch: DataFrame, id: Long): Unit =
      if (streamed) query.processAllAvailable() else decide(batch, id)

    private def decide(batch: DataFrame, id: Long): Unit = {
      val r = current
      val parent = drainSpan.get()
      val sb = batch.sparkSession
      val b = batch.select("doc_id", "lang", "text").persist()
      try {
        val (accepted, indexRows) = r.opIn("", "operators.dedup.accept", parent) { _ =>
          Dedup.acceptBatchAgainstIndex(sb.table(t("clean")), sb.table(t("index")), b, "doc_id", "text", n = 3, threshold = 0.8)
        }.getOrElse(throw new IllegalStateException(s"batch $id: accept failed"))
        Seq(accepted -> cleanDir, indexRows -> indexDir).foreach { case (df, d) =>
          r.opIn("", "core.manifest.append_idempotent", parent)(_ => ManifestTable.appendIdempotent(df, d, s"b$id"))
            .getOrElse(throw new IllegalStateException(s"batch $id: append to $d failed"))
        }
      } finally { b.unpersist(); () }
    }

    def stop(): Unit = if (query != null) { query.stop(); query = null }
  }

  private def docs(rows: Seq[Doc]): DataFrame =
    spark.createDataFrame(rows.map(d => Row(d.docId, d.lang, d.text)).asJava, DocSchema)

  def setup(): Unit = {
    new File(root).mkdirs()
    main.start()
    // warm-up: the same op mix through a throwaway pipeline
    val warm = new Pipeline("ldw", s"$root-warm", streamed = false)
    warm.start()
    val r = new Run(None)
    current = r
    val warmFeed = DedupGen.feed(seed + 1000003L, 1, PerBatch, idBase = 1L << 40)
    val model = new Model
    warmFeed.foreach(batch(warm, _, model, r))
    require(r.failed == 0, s"warm-up failed: ${r.problems.mkString("; ")}")
    spark.conf.unset("spark.sql.catalog.ldw")
    LakeBench.deleteRecursively(new File(s"$root-warm"))
  }

  private val model = new Model

  /** Documents fed and accepted so far. */
  private final class Model {
    var fed = Vector.empty[Doc]
    var accepted = Map.empty[Long, Doc]
  }

  def run(r: Run): Unit = {
    current = r
    feed.foreach(batch(main, _, model, r))
  }

  private def batch(p: Pipeline, rows: Vector[Doc], m: Model, r: Run): Unit = {
    r.round += 1
    val df = docs(rows)
    df.createOrReplaceTempView(s"${p.cat}_batch")
    r.op("write", "catalog.insert")(spark.sql(s"INSERT INTO ${p.t("feed")} SELECT * FROM ${p.cat}_batch"))
    r.opIn("stream_lag", "catalog.stream.drain", -1) { id =>
      drainSpan.set(id)
      p.drain(df, r.round)
    }.foreach { _ =>
      r.records += rows.size
      m.fed ++= rows
      m.accepted ++= rows.filter(_.keep).map(d => d.docId -> d)
    }
    val kept = rows.filter(_.keep)
    val dropped = rows.filterNot(_.keep)
    val probes = Seq(kept.headOption, kept.lastOption, dropped.headOption).flatten
    probes.foreach { d =>
      r.op("point_read", "catalog.select_point")(
        spark.sql(s"SELECT doc_id, lang, text FROM ${p.t("clean")} WHERE doc_id = ${d.docId}").collect()).foreach { got =>
        val want = if (d.keep) Seq((d.docId, d.lang, d.text)) else Nil
        r.check(got.map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSeq == want,
          s"clean lookup of ${d.docId} (keep=${d.keep}): ${got.length} rows")
      }
    }
    // three aggregates over the clean, index and feed tables
    def perLang(docs: Iterable[Doc]) = docs.groupBy(_.lang).map { case (l, ds) => l -> ds.size.toLong }
    Seq(("clean", "lang", perLang(m.accepted.values)),
      ("index", "band", (0 until Bands).map(b => b.toString -> m.accepted.size.toLong).toMap),
      ("feed", "lang", perLang(m.fed))).foreach { case (table, key, want) =>
      r.op("scan", "catalog.aggregate", s"catalog.aggregate.$table")(
        spark.sql(s"SELECT CAST($key AS STRING), count(*) FROM ${p.t(table)} GROUP BY $key").collect()).foreach { got =>
        r.check(got.map(x => x.getString(0) -> x.getLong(1)).toMap == want, s"$table counts by $key")
      }
    }
  }

  /** Accepted ids are exactly the planted keep labels; 16 index rows each. */
  def verify(r: Run): Unit = {
    val got = spark.table(main.t("clean")).select("doc_id").collect().map(_.getLong(0)).toSeq
    val want = feed.flatten.count(_.keep)
    r.check(Checks.acceptedIds(got, feed.flatten), s"accepted ids: ${got.size} rows, expected $want")
    val index = spark.table(main.t("index")).count()
    r.check(Checks.indexRows(index, want), s"index rows $index, expected ${Bands * want}")
  }

  def payloadBytes: Long = feed.flatten.map(_.payloadBytes).sum

  def gauges(r: Run): Map[String, Double] = {
    val dirs = Seq(main.feedDir, main.cleanDir, main.indexDir)
    val decided = feed.flatten.size
    Map(
      "core.manifest.versions" -> dirs.map(d => ManifestTable.currentVersion(d).getOrElse(-1L) + 1).sum.toDouble,
      "core.manifest.live_files" -> dirs.map(d =>
        ManifestTable.currentVersion(d).map(v => ManifestTable.state(d, v).files.size).getOrElse(0)).sum.toDouble,
      "core.manifest.small_file_debt" -> dirs.map(ManifestTable.smallFileDebt(_, Lakehouse.CompactTargetBytes)).sum.toDouble,
      "operators.dedup.accept_ratio" -> spark.table(main.t("clean")).count().toDouble / decided,
      "operators.dedup.index_rows" -> spark.table(main.t("index")).count().toDouble)
  }

  override def streamDurations: Map[String, Seq[Double]] = {
    val ps = Option(main.query).map(_.recentProgress.toSeq).getOrElse(Nil).filter(_.numInputRows > 0)
    Layers.StreamKeys.values.map(k => k -> ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))).toMap
  }

  override def close(): Unit = main.stop()
}

object DedupStream {
  val BatchesPerSecond = 0.3
  val PerBatch = 25
  /** LSH bands per document: each accepted document has this many index rows. */
  val Bands = 16
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType), StructField("text", StringType)))
}
