package lakebench

import java.io.File
import java.net.URI
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.hl7.HL7

/** `ingest`: the paper's own bronze-lake surface. Each round publishes FHIR
  * documents, Binary documents and routed HL7 messages for one tenant, then
  * reads Binary documents back by key and by URL; a fixed number of
  * partition-pruned `readFhir` scans is spread over the run. */
final class Ingest(spark: SparkSession, seed: Long, seconds: Int, root: String)
    extends Workload(spark, seed, seconds, root) {
  import IngestGen._

  val rounds: Int = math.max(Scans, math.round(seconds * Ingest.RoundsPerSecond).toInt)
  private val plan = IngestGen.plan(seed, rounds)
  private val lake = new Lane(s"$root/lake")
  private var hits, lookups = 0L
  private var listedPerRow = List.empty[Double]

  /** One lake with its services; the publish clocks read `date` and `txId`. */
  private final class Lane(dir: String) {
    val cfg: LakeConfig = LakeConfig(root = new File(dir).getAbsoluteFile.toURI.toString.stripSuffix("/"))
    val date = new AtomicReference[LocalDate](BaseDate)
    val txId = new AtomicReference[String]("")
    val publish: DatalakePublishService = {
      val d = date
      val tx = txId
      new DatalakePublishService(cfg, () => d.get(), () => d.get().atTime(12, 0), () => tx.get())
    }
    val retrieve = new DatalakeRetrieveService(cfg)
  }

  def setup(): Unit = {
    new File(root).mkdirs()
    val storage = new LakeStorage(lake.cfg.root, LakeStorage.sharedHadoopConf)
    plan.flat.foreach(b => require(storage.put(s"${b.id}.json", b.body), s"preload ${b.id}"))
    // warm-up: the same op mix on a throwaway lake
    val warmDir = s"$root-warm"
    val warm = new Lane(warmDir)
    val warmPlan = IngestGen.plan(seed + 1000003L, 2, tag = "w")
    val ws = new LakeStorage(warm.cfg.root, LakeStorage.sharedHadoopConf)
    warmPlan.flat.foreach(b => ws.put(s"${b.id}.json", b.body))
    val r = new Run(None)
    warmPlan.rounds.foreach(round(warm, warmPlan, _, r))
    // the key reads take well under a millisecond: repeat them until the JIT
    // has compiled their path, or the timed phase would still be warming it
    (1 until Ingest.WarmReadPasses).foreach(_ => warmPlan.rounds.foreach(reads(warm, warmPlan, _, r)))
    require(r.failed == 0, s"warm-up failed: ${r.problems.mkString("; ")}")
    LakeBench.deleteRecursively(new File(warmDir))
    hits = 0
    lookups = 0
  }

  def run(r: Run): Unit = plan.rounds.foreach(round(lake, plan, _, r))

  private def round(l: Lane, p: Plan, rd: Round, r: Run): Unit = {
    r.round += 1
    l.date.set(rd.date)
    r.op("write", "core.publish.fhir") {
      l.publish.publishFhirR4(spark, rd.tenant, rd.fhir.map(f => FhirEnvelope(f.resourceType, f.id, f.body)))
    }.foreach(_ => r.records += rd.fhir.size)
    r.op("write", "core.publish.binary") {
      l.publish.publishBinaryData(spark, rd.tenant, rd.binaries.map(b => b.id -> b.body))
    }.foreach(_ => r.records += rd.binaries.size)
    r.op("", "hl7.msh9")(rd.hl7.map(m => HL7.msh9(m.message))).foreach { routed =>
      rd.hl7.zip(routed).foreach { case (m, got) =>
        r.check(Checks.msh9(got, m), s"msh9 of ${m.txId}: $got")
        l.txId.set(m.txId)
        val (t, e) = got.getOrElse(("unrouted", ""))
        r.op("write", "core.publish.raw")(l.publish.publishRawData(rd.tenant, m.message, s"https://hl7.example/$t/$e"))
          .foreach(_ => r.records += 1)
      }
    }
    reads(l, p, rd, r)
    rd.scan.foreach { s =>
      r.op("scan", "core.reader.scan") {
        LakeReader.readFhir(spark, l.cfg, s.resourceType, Some(s.tenant), Some(s.date.toString)).count()
      }.foreach { n =>
        r.check(Checks.scanCount(n, s.expected), s"readFhir(${s.resourceType}, ${s.tenant}, ${s.date}) = $n, expected ${s.expected}")
        if (l eq lake) listedPerRow ::= s.objectsOfType.toDouble / math.max(1L, n)
      }
    }
  }

  /** The round's key reads and URL batch. */
  private def reads(l: Lane, p: Plan, rd: Round, r: Run): Unit = {
    val binaries = p.binaries
    rd.reads.foreach { k =>
      if (k.kind == "get")
        r.op("point_read", "core.retrieve.get")(l.retrieve.retrieveBinaryData(k.tenant, k.id)).foreach { got =>
          count(got.isDefined)
          r.check(Checks.retrieved(got, binaries.get(k.id).filter(_ => k.present)), s"get ${k.id}: $got")
        }
      else
        r.op("point_read", "core.retrieve.exists")(l.retrieve.binaryExists(k.tenant, k.id)).foreach { got =>
          count(got)
          r.check(Checks.exists(got, k.present), s"exists ${k.id}: $got")
        }
    }
    val urls = rd.urlBatch.map(k => new URI(LakePath.fullUrl(l.cfg, k.id)) -> k)
    r.op("point_read", "core.retrieve.urls")(l.retrieve.retrieveBinaryData(urls.map(_._1))).foreach { got =>
      urls.foreach { case (u, _) => count(got.contains(u)) }
      val want = urls.filter(_._2.present).map { case (u, k) => u -> p.flatByName(k.id) }.toMap
      r.check(Checks.urlBatch(got, want), s"url batch: ${got.keySet} != ${want.keySet}")
    }
  }

  private def count(hit: Boolean): Unit = { lookups += 1; if (hit) hits += 1 }

  /** Every published object, read back in full, equals what was published. */
  def verify(r: Run): Unit = {
    val st = new LakeStorage(lake.cfg.root, LakeStorage.sharedHadoopConf)
    plan.rounds.foreach { rd =>
      rd.fhir.foreach { f =>
        val rel = LakePath.fhirPath(f.resourceType, rd.tenant, rd.date, f.id)
        r.check(st.get(rel).contains(f.body), s"stored body of $rel")
      }
      rd.binaries.foreach { b =>
        r.check(Checks.retrieved(lake.retrieve.retrieveBinaryData(rd.tenant, b.id), Some(b)), s"stored Binary ${b.id}")
      }
      rd.hl7.foreach { m =>
        val body = st.get(LakePath.rawPath(rd.tenant, m.txId))
        r.check(body.exists(_.contains(s"/${m.msgType}/${m.event}\"")), s"raw ${m.txId}")
      }
    }
  }

  def payloadBytes: Long =
    plan.flat.map(_.body.length.toLong).sum + plan.rounds.map { rd =>
      rd.fhir.map(_.body.getBytes("UTF-8").length.toLong).sum +
        rd.binaries.map(_.body.getBytes("UTF-8").length.toLong).sum +
        rd.hl7.map(_.message.getBytes("UTF-8").length.toLong).sum
    }.sum

  def gauges(r: Run): Map[String, Double] = Map(
    "core.retrieve.hit_ratio" -> hits.toDouble / math.max(1L, lookups),
    "core.reader.objects_listed_per_row" -> (if (listedPerRow.isEmpty) 0.0 else listedPerRow.sum / listedPerRow.size))
}

object Ingest {
  /** Rounds per requested second: the op sequence depends on the seed and
    * `--seconds` only, never on how fast the engine runs. */
  val RoundsPerSecond = 3.0
  /** Passes of the warm-up rounds' key reads (the first within the rounds). */
  val WarmReadPasses = 40
}
