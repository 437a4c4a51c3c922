package lakebench

import java.time.LocalDate

/** SplitMix64: a fixed, tiny generator, so the inputs a seed produces do not
  * depend on the JDK's or Scala's library RNGs. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def gaussian(): Double = {
    val u1 = math.max(nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * nextDouble())
  }
  def pick[A](xs: IndexedSeq[A]): A = xs(nextInt(xs.size))
  def shuffle[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
  /** Rank in [0, n) with P(k) proportional to 1/(k+1)^s. */
  def zipf(n: Int, s: Double = 1.1): Int = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    var u = nextDouble() * w.sum
    var k = 0
    while (k < n - 1 && u >= w(k)) { u -= w(k); k += 1 }
    k
  }
  def alnum(len: Int): String = {
    val cs = "abcdefghijklmnopqrstuvwxyz0123456789"
    val sb = new StringBuilder(len)
    (0 until len).foreach(_ => sb += cs.charAt(nextInt(cs.length)))
    sb.result()
  }
}

/** Seeded inputs of the `ingest` workload: the whole op sequence is fixed
  * before the engine sees any of it. */
object IngestGen {
  val Tenants: IndexedSeq[String] = (1 to 8).map(i => f"tenant$i%02d")
  val Types: IndexedSeq[String] = IndexedSeq("Patient", "Observation", "Encounter", "Condition", "Procedure")
  val Hl7Types: IndexedSeq[(String, String)] = IndexedSeq(
    "ADT" -> "A01", "ADT" -> "A08", "ORU" -> "R01", "ORM" -> "O01", "MDM" -> "T02", "SIU" -> "S12")
  val FhirPerRound = 8
  val BinaryPerRound = 4
  val Hl7PerRound = 3
  val GetsPerRound = 16
  val ExistsPerRound = 8
  val UrlsPerBatch = 4
  val FlatDocs = 64
  val RoundsPerDay = 4
  val Scans = 20
  val BaseDate: LocalDate = LocalDate.of(2024, 3, 1)

  final case class Fhir(resourceType: String, id: String, body: String)
  final case class Binary(id: String, contentType: String, data: String) {
    def body: String =
      s"""{"resourceType":"Binary","id":"$id","contentType":"$contentType","data":"$data"}"""
  }
  final case class Hl7(message: String, msgType: String, event: String, txId: String)
  /** Key-addressed read: `present` says whether the key was published before the read. */
  final case class Read(kind: String, tenant: String, id: String, present: Boolean)
  final case class Scan(resourceType: String, tenant: String, date: LocalDate, expected: Long, objectsOfType: Long)
  final case class Round(tenant: String, date: LocalDate, fhir: Vector[Fhir], binaries: Vector[Binary],
                         hl7: Vector[Hl7], reads: Vector[Read], urlBatch: Vector[Read], scan: Option[Scan])
  final case class Plan(flat: Vector[Binary], rounds: Vector[Round]) {
    lazy val binaries: Map[String, Binary] = rounds.iterator.flatMap(_.binaries).map(b => b.id -> b).toMap
    lazy val flatByName: Map[String, Binary] = flat.map(b => s"${b.id}.json" -> b).toMap
  }

  /** Log-normal body sizes, median ~2 KB, clamped to 0.3-16 KB. */
  private def bodyLen(rng: Rng): Int =
    math.min(16000, math.max(300, math.exp(math.log(2000) + 0.9 * rng.gaussian()).toInt))

  /** `n` body sizes for round `r`: the same multiset on every seed (the seed
    * only decides which document gets which), so seeds differ in content,
    * not in bytes moved. */
  private def sizes(r: Int, kind: Int, n: Int, seedRng: Rng): IndexedSeq[Int] = {
    val fixed = new Rng(0x51AE5L * (kind + 1) + r)
    seedRng.shuffle((0 until n).map(_ => bodyLen(fixed)))
  }

  private def fhirBody(rng: Rng, len: Int, t: String, id: String, tenant: String): String = {
    val head = s"""{"resourceType":"$t","id":"$id","meta":{"tenant":"$tenant"},"text":""""
    val tail = "\"}"
    head + rng.alnum(math.max(1, len - head.length - tail.length)) + tail
  }

  private def binary(rng: Rng, len: Int, id: String): Binary =
    Binary(id, rng.pick(IndexedSeq("application/pdf", "image/png", "text/plain")),
      java.util.Base64.getEncoder.encodeToString(rng.alnum(len * 3 / 4).getBytes("UTF-8")))

  private def hl7(rng: Rng, len: Int, tag: String, txId: String): Hl7 = {
    val (t, e) = rng.pick(Hl7Types)
    val msg = s"MSH|^~\\&|APP$tag|FAC|LAKE|GRAFT|20240301${"%06d".format(rng.nextInt(240000))}||$t^$e|$tag|P|2.5\r" +
      s"PID|1||${rng.alnum(10)}||${rng.alnum(8)}^${rng.alnum(6)}\r" +
      s"OBX|1|TX|${rng.alnum(6)}||${rng.alnum(len)}"
    Hl7(msg, t, e, txId)
  }

  def plan(seed: Long, rounds: Int, tag: String = "r"): Plan = {
    val rng = new Rng(seed * 0x2545F4914F6CDD1DL + 1)
    val flatSizes = sizes(-1, 0, FlatDocs, rng)
    val flat = (0 until FlatDocs).map(i => binary(rng, flatSizes(i), s"flat-$tag-$i")).toVector
    val published = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val counts = scala.collection.mutable.Map.empty[(String, String, LocalDate), Long].withDefaultValue(0L)
    val perType = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val scanAt = (0 until Scans).map(i => (i + 1) * rounds / Scans - 1).toSet
    // tenants take turns, so every seed builds the same partition layout
    val tenantTurns = rng.shuffle(Tenants)
    var reads = 0
    val out = (0 until rounds).map { r =>
      val tenant = tenantTurns(r % Tenants.size)
      val date = BaseDate.plusDays((r / RoundsPerDay).toLong)
      // every round publishes the same mix of types, sizes and message lengths
      val types = rng.shuffle((0 until FhirPerRound).map(i => Types((i + r) % Types.size)))
      val fhirSizes = sizes(r, 1, FhirPerRound, rng)
      val fhir = (0 until FhirPerRound).map { i =>
        val id = s"$tag$r-f$i-${rng.alnum(6)}"
        Fhir(types(i), id, fhirBody(rng, fhirSizes(i), types(i), id, tenant))
      }.toVector
      val binSizes = sizes(r, 2, BinaryPerRound, rng)
      val bins = (0 until BinaryPerRound).map(i => binary(rng, binSizes(i), s"$tag$r-b$i-${rng.alnum(6)}")).toVector
      val msgLens = rng.shuffle((0 until Hl7PerRound).map(i => 40 + 400 * i / Hl7PerRound))
      val msgs = (0 until Hl7PerRound).map(i => hl7(rng, msgLens(i), s"$tag$r-h$i", s"tx-$tag$r-$i-${rng.alnum(8)}")).toVector
      fhir.foreach { f =>
        counts((f.resourceType, tenant, date)) += 1
        perType(f.resourceType) += 1
      }
      published ++= bins.map(b => tenant -> b.id)
      // Zipf over published keys (newest first); every tenth read asks for
      // a key that was never published
      def absent(): Boolean = { reads += 1; reads % 10 == 0 }
      def key(kind: String): Read =
        if (absent()) Read(kind, rng.pick(Tenants), s"never-$tag-$reads", present = false)
        else {
          val (t, id) = published(published.size - 1 - rng.zipf(published.size))
          Read(kind, t, id, present = true)
        }
      val keyReads = (0 until GetsPerRound).map(_ => key("get")).toVector ++
        (0 until ExistsPerRound).map(_ => key("exists")).toVector
      val urls = (0 until UrlsPerBatch).map { _ =>
        if (absent()) Read("url", "", s"never-$tag-$reads.json", present = false)
        else Read("url", "", s"${flat(rng.zipf(flat.size)).id}.json", present = true)
      }.toVector
      // a scan reads one partition this round wrote to, of a type it
      // published twice: the same listing and row count on every seed
      val scan = if (!scanAt(r)) None else {
        val t = Types(r % Types.size)
        Some(Scan(t, tenant, date, counts((t, tenant, date)), perType(t)))
      }
      Round(tenant, date, fhir, bins, msgs, keyReads, urls, scan)
    }.toVector
    Plan(flat, out)
  }
}

/** Seeded inputs of the `lakehouse` workload: lineitem-shaped rows with a
  * materialized, unique `row_id` (the natural key is not unique). */
object LakehouseGen {
  val Flags: IndexedSeq[String] = IndexedSeq("A", "N", "R")
  val Modes: IndexedSeq[String] = IndexedSeq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Columns: Seq[(String, String)] = Seq(
    "row_id" -> "BIGINT", "l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT", "l_linenumber" -> "BIGINT",
    "l_quantity" -> "BIGINT", "l_extendedprice_cents" -> "BIGINT", "l_returnflag" -> "STRING",
    "l_shipmode" -> "STRING")

  final case class Line(rowId: Long, orderKey: Long, partKey: Long, lineNumber: Long,
                        quantity: Long, priceCents: Long, returnFlag: String, shipMode: String) {
    def payloadBytes: Long = 6 * 8L + returnFlag.getBytes("UTF-8").length + shipMode.getBytes("UTF-8").length
  }
  /** keyedlog core row: (key, seq, metric). */
  final case class Event(key: String, seq: Long, metric: Long) {
    def payloadBytes: Long = 16L + key.getBytes("UTF-8").length
  }

  def line(rng: Rng, rowId: Long): Line = {
    val order = 1 + rng.nextInt(150000).toLong
    Line(rowId, order, 1 + rng.nextInt(20000).toLong, 1 + rng.nextInt(7).toLong, 1 + rng.nextInt(50).toLong,
      90000L + rng.nextInt(10000000), rng.pick(Flags), rng.pick(Modes))
  }
  def event(rng: Rng, keys: Int, seq: Long): Event = Event(f"k${rng.nextInt(keys)}%03d", seq, rng.nextInt(1000000).toLong)
}

/** Seeded feed of the `dedup_stream` workload with planted labels: each
  * batch is ~60% fresh documents, ~20% exact and ~20% near duplicates of
  * fresh documents from the same or an earlier batch. Only fresh documents
  * are to be kept. */
object DedupGen {
  val VocabSize = 20000
  val Tokens = 80
  val Shingle = 3
  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es")

  final case class Doc(docId: Long, lang: String, text: String, keep: Boolean, source: Long) {
    def payloadBytes: Long = 8L + lang.getBytes("UTF-8").length + text.getBytes("UTF-8").length
  }

  /** The engine's word 3-gram shingle set: split on single spaces, distinct n-grams. */
  def shingles(text: String): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < Shingle) Set.empty else t.sliding(Shingle).map(_.mkString(" ")).toSet
  }
  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a & b).size.toDouble / (a | b).size

  def vocab(seed: Long): IndexedSeq[String] = {
    val rng = new Rng(seed ^ 0x5DEECE66DL)
    (0 until VocabSize).map(i => rng.alnum(3 + rng.nextInt(6)) + (i % 10))
  }

  /** `batches` batches of `perBatch` docs, with ids increasing in feed order
    * so an intra-batch duplicate always has a larger id than its source. */
  def feed(seed: Long, batches: Int, perBatch: Int, idBase: Long = 1L): Vector[Vector[Doc]] = {
    val rng = new Rng(seed * 0x9E3779B97F4A7C15L + 7)
    val words = vocab(seed)
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val index = scala.collection.mutable.Map.empty[String, List[Int]]
    var nextId = idBase
    def freshDoc(): Doc = {
      var doc: Doc = null
      while (doc == null) {
        val text = (0 until Tokens).map(_ => words(rng.nextInt(VocabSize))).mkString(" ")
        val sh = shingles(text)
        val near = sh.iterator.flatMap(s => index.getOrElse(s, Nil)).toSet
        if (near.forall(i => jaccard(sh, shingles(fresh(i).text)) < 0.3)) {
          doc = Doc(nextId, rng.pick(Langs), text, keep = true, source = nextId)
          sh.foreach(s => index(s) = fresh.size :: index.getOrElse(s, Nil))
          fresh += doc
        }
      }
      nextId += 1
      doc
    }
    def nearText(src: String): String = {
      var out: String = null
      while (out == null) {
        val t = src.split(" ")
        t(rng.nextInt(t.length)) = words(rng.nextInt(VocabSize))
        val cand = t.mkString(" ")
        if (cand != src && jaccard(shingles(cand), shingles(src)) >= 0.9) out = cand
      }
      out
    }
    (0 until batches).map { b =>
      val firstFresh = fresh.size
      // the same mix in every batch: 60% fresh, 20% exact and 20% near
      // duplicates; the batch opens with a fresh document
      val dups = perBatch / 5
      val kinds = 'f' +: rng.shuffle(IndexedSeq.fill(perBatch - 1 - 2 * dups)('f') ++
        IndexedSeq.fill(dups)('e') ++ IndexedSeq.fill(dups)('n'))
      var dupNo = 0
      kinds.map {
        case 'f' => freshDoc()
        case kind =>
          // duplicates alternate between sources in this batch and in earlier ones
          dupNo += 1
          val from = if (b == 0 || dupNo % 2 == 0) firstFresh + rng.nextInt(fresh.size - firstFresh)
            else rng.nextInt(firstFresh)
          val src = fresh(from)
          val doc = Doc(nextId, src.lang, if (kind == 'e') src.text else nearText(src.text), keep = false, source = src.docId)
          nextId += 1
          doc
      }.toVector
    }.toVector
  }
}
