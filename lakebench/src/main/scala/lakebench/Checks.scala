package lakebench

import java.net.URI

import scala.util.hashing.MurmurHash3

import graft.core.BinaryDoc

/** The correctness checks, as predicates over an engine result and what the
  * generator or the independent model says it must be. */
object Checks {
  def binaryDoc(b: IngestGen.Binary): BinaryDoc = BinaryDoc(b.id, Some(b.contentType), Some(b.data))

  /** A key read returns the published document, and nothing for a never-published key. */
  def retrieved(got: Option[BinaryDoc], published: Option[IngestGen.Binary]): Boolean =
    got == published.map(binaryDoc)

  def exists(got: Boolean, published: Boolean): Boolean = got == published

  /** A URL batch returns exactly the published documents among its URLs. */
  def urlBatch(got: Map[URI, BinaryDoc], published: Map[URI, IngestGen.Binary]): Boolean =
    got == published.map { case (u, b) => u -> binaryDoc(b) }

  def scanCount(got: Long, published: Long): Boolean = got == published

  def msh9(got: Option[(String, String)], planted: IngestGen.Hl7): Boolean =
    got.contains((planted.msgType, planted.event))

  /** Order-independent 64-bit row hash of a case-class row. */
  def rowHash(p: Product): Long =
    (MurmurHash3.productHash(p, 0x3c074a61).toLong << 32) ^ (MurmurHash3.productHash(p, 0x6b43a9b5).toLong & 0xffffffffL)

  /** Two row multisets are equal by row count plus the sum of their row hashes. */
  def sameRows(got: Iterable[Long], want: Iterable[Long]): Boolean =
    got.size == want.size && got.sum == want.sum

  /** The clean corpus holds exactly the documents planted as keep. */
  def acceptedIds(got: Seq[Long], feed: Seq[DedupGen.Doc]): Boolean =
    got.sorted == feed.filter(_.keep).map(_.docId).sorted

  def indexRows(got: Long, accepted: Int): Boolean = got == DedupStream.Bands.toLong * accepted
}
