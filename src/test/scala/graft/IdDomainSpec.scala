package graft

import org.scalatest.funsuite.AnyFunSuite

/** The id-domain headroom guard. The incremental-recurrence family
  * (x32-x42, ST8/ST9/ST10) packs `id << SizeBits | setSize` into one
  * long, so every id — corpus, replica, or arrival-offset — must stay
  * under [[operators.Dedup.PackedIdBound]] (2⁴⁴ since round 14; the
  * round-13 ledger documented the old 2⁴³ space exhausted at three
  * arrival domains, and the width moved from the size field — every
  * fixture sits far under 2¹⁹ shingles per doc — to the id side).
  * This spec fails the build the moment a new domain (or a bigger
  * supported replica) would overflow or let two domains collide,
  * instead of letting the pair generator wrap packed ids silently at
  * some replica scale nobody re-tested. */
class IdDomainSpec extends AnyFunSuite {

  // the largest corpus id any SUPPORTED replica can produce: copies
  // stride by MakeScale.Stride and within-copy ids stay under one
  // stride, so MaxSupportedCopies · Stride bounds them all
  private val maxReplicaCorpusId =
    MakeScale.MaxSupportedCopies * MakeScale.Stride

  test("every declared arrival offset + the largest supported replica " +
      "id stays under the pair generator's packed-id bound") {
    assert(ExtensionQueries.ArrivalOffsets.nonEmpty)
    ExtensionQueries.ArrivalOffsets.foreach { case (kind, off) =>
      assert(off + maxReplicaCorpusId < operators.Dedup.PackedIdBound,
        s"arrival domain '$kind' at $off overflows the 2^44 packing " +
          s"bound at a ${MakeScale.MaxSupportedCopies}-copy replica — " +
          "widen the packing (fewer SizeBits) or claim a smaller offset")
    }
  }

  test("arrival domains cannot collide at full replica scale (each " +
      "offset's id range ends before the next begins)") {
    val sorted = ExtensionQueries.ArrivalOffsets.toSeq.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Seq((ka, a), (kb, b)) =>
        assert(a + maxReplicaCorpusId <= b,
          s"domains '$ka' ($a) and '$kb' ($b) overlap at a " +
            s"${MakeScale.MaxSupportedCopies}-copy replica")
      case _ => ()
    }
    // corpus ids themselves must end before the first arrival domain
    assert(maxReplicaCorpusId <= sorted.head._2,
      "replica corpus ids reach into the first arrival domain")
  }

  test("headroom ledger: the 2^44 bound leaves room for MORE 10^12 " +
      "arrival slots — the next kind can claim 10e12 without widening") {
    // The next slot after the highest claimed offset fits with room
    // to spare, and so do several after it. If this
    // starts failing, the space is exhausted AGAIN — the next widening
    // step is documented in Dedup.SizeBits' comment (the size field
    // still has ~2 bits of slack above any fixture's shingle count,
    // but re-verify set sizes at the target corpus before taking
    // them).
    val nextSlot = ExtensionQueries.ArrivalOffsets.values.max +
      1000000000000L
    assert(nextSlot + maxReplicaCorpusId < operators.Dedup.PackedIdBound,
      "the packed-id bound no longer fits another 10^12 domain — " +
        "update this ledger and widen deliberately before adding one")
    // document the actual headroom: at least FIVE more 10^12 slots
    val lastFitting = ExtensionQueries.ArrivalOffsets.values.max +
      5L * 1000000000000L
    assert(lastFitting + maxReplicaCorpusId <
      operators.Dedup.PackedIdBound,
      "headroom shrank below five spare 10^12 slots — update the " +
        "ledger note in SURVEY.md")
  }
}
