package lakebench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def inputs(seed: Long): Seq[Array[Byte]] = Seq(
    IngestGen.plan(seed, 12).toString,
    Lakehouse.plan(seed, 4).toString,
    DedupGen.feed(seed, 3, DedupStream.PerBatch).toString).map(_.getBytes("UTF-8"))

  test("the same seed gives byte-identical inputs, another seed different ones") {
    inputs(5).zip(inputs(5)).foreach { case (a, b) => assert(java.util.Arrays.equals(a, b)) }
    inputs(5).zip(inputs(6)).foreach { case (a, b) => assert(!java.util.Arrays.equals(a, b)) }
  }

  test("planted labels: near duplicates >= 0.9 to their source, fresh documents < 0.3 to all others") {
    val batches = DedupGen.feed(9, 4, DedupStream.PerBatch)
    val docs = batches.flatten
    val byId = docs.map(d => d.docId -> d).toMap
    val sh = docs.map(d => d.docId -> DedupGen.shingles(d.text)).toMap
    val dups = docs.filterNot(_.keep)
    dups.foreach { d =>
      val src = byId(d.source)
      assert(src.keep && src.docId < d.docId)
      assert(DedupGen.jaccard(sh(d.docId), sh(src.docId)) >= 0.9)
    }
    for (a <- docs if a.keep; b <- docs if b.docId != a.docId && b.source != a.docId)
      assert(DedupGen.jaccard(sh(a.docId), sh(b.docId)) < 0.3, s"${a.docId} vs ${b.docId}")
    val exact = dups.count(d => d.text == byId(d.source).text)
    assert(exact > 0 && exact < dups.size, "both exact and near duplicates are planted")
    val batchOf = batches.zipWithIndex.flatMap { case (b, i) => b.map(_.docId -> i) }.toMap
    val within = dups.count(d => batchOf(d.docId) == batchOf(d.source))
    assert(within > 0 && within < dups.size, "duplicates come from the same and from earlier batches")
    val freshShare = docs.count(_.keep).toDouble / docs.size
    assert(freshShare > 0.45 && freshShare < 0.75, s"fresh share $freshShare")
  }

  test("ingest plan: scans expect the documents published so far; absent keys are never published") {
    val p = IngestGen.plan(3, 24)
    assert(p.rounds.count(_.scan.nonEmpty) == IngestGen.Scans)
    p.rounds.zipWithIndex.foreach { case (rd, i) =>
      rd.scan.foreach { s =>
        val published = p.rounds.take(i + 1).filter(r => r.tenant == s.tenant && r.date == s.date)
          .map(_.fhir.count(_.resourceType == s.resourceType)).sum
        assert(s.expected == published && published > 0)
      }
    }
    val ids = p.rounds.flatMap(_.binaries.map(_.id)).toSet
    p.rounds.flatMap(_.reads).foreach(k => assert(ids(k.id) == k.present, k))
    p.rounds.flatMap(_.hl7).foreach { m =>
      assert(graft.hl7.HL7.msh9(m.message).contains((m.msgType, m.event)))
    }
  }
}
