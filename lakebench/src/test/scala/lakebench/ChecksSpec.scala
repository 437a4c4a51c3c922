package lakebench

import java.net.URI

import org.scalatest.funsuite.AnyFunSuite

/** Each check accepts the right result and rejects a deliberately corrupted one. */
class ChecksSpec extends AnyFunSuite {
  private val p = IngestGen.plan(1, 8)
  private val b = p.rounds.head.binaries.head
  private val m = p.rounds.head.hl7.head

  test("ingest checks") {
    assert(Checks.retrieved(Some(Checks.binaryDoc(b)), Some(b)))
    assert(!Checks.retrieved(Some(Checks.binaryDoc(b).copy(data = Some("corrupt"))), Some(b)))
    assert(!Checks.retrieved(None, Some(b)))
    assert(Checks.retrieved(None, None) && !Checks.retrieved(Some(Checks.binaryDoc(b)), None))
    assert(Checks.exists(got = false, published = false) && !Checks.exists(got = true, published = false))
    val u = new URI("https://objectstorage.x/n/n/b/b/o/a.json")
    assert(Checks.urlBatch(Map(u -> Checks.binaryDoc(b)), Map(u -> b)))
    assert(!Checks.urlBatch(Map.empty, Map(u -> b)))
    assert(!Checks.urlBatch(Map(u -> Checks.binaryDoc(b), new URI("https://x/y") -> Checks.binaryDoc(b)), Map(u -> b)))
    assert(Checks.scanCount(12, 12) && !Checks.scanCount(11, 12))
    assert(Checks.msh9(Some((m.msgType, m.event)), m))
    assert(!Checks.msh9(Some((m.msgType, "Z99")), m) && !Checks.msh9(None, m))
  }

  test("lakehouse checks: row multisets by count plus order-independent hash") {
    val rows = Lakehouse.plan(1, 1).base.take(50)
    val want = rows.map(Checks.rowHash)
    assert(Checks.sameRows(want.reverse, want))
    assert(!Checks.sameRows(want.tail, want))
    val changed = rows.updated(3, rows(3).copy(quantity = rows(3).quantity + 1)).map(Checks.rowHash)
    assert(!Checks.sameRows(changed, want))
    val swapped = rows.updated(3, rows(4)).map(Checks.rowHash)
    assert(!Checks.sameRows(swapped, want))
  }

  test("dedup checks") {
    val feed = DedupGen.feed(1, 2, DedupStream.PerBatch).flatten
    val keep = feed.filter(_.keep).map(_.docId)
    assert(Checks.acceptedIds(keep.reverse, feed))
    assert(!Checks.acceptedIds(keep.tail, feed))
    assert(!Checks.acceptedIds(keep :+ feed.find(!_.keep).get.docId, feed))
    assert(Checks.indexRows(16L * keep.size, keep.size) && !Checks.indexRows(16L * keep.size - 1, keep.size))
  }
}
