package graft

import graft.operators.Dedup

/** [[Dedup.hammingNearDups]], the banded-Hamming near-dup join that a
  * perceptual image hash (dHash) or any other packed-bit signature
  * feeds: exactness below `bands` distance by pigeonhole, and the
  * recall-bounded regime beyond it, on hand-built signatures.
  */
class ImageDHashSpec extends SparkSpec {

  test("hammingNearDups: pigeonhole exactness and parameter validation") {
    import spark.implicits._
    // hand-built 16-bit signatures, 4 bands × 4 bits: dist(1,2)=2 ⇒
    // must be found (2 < 4 bands); dist(1,3)=8 spread over all bands
    // with no band agreeing ⇒ correctly outside the guarantee AND
    // above maxHamming; dist(1,4)=3 but in ONE band ⇒ 3 bands agree.
    val sigs = Seq(
      (1L, 0x0000L), (2L, 0x0011L), (3L, 0x3333L), (4L, 0x0007L)
    ).toDF("id", "sig")
    val got = Dedup.hammingNearDups(sigs, "sig", "id", nBits = 16, bands = 4, maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 2), (1L, 4L, 3), (2L, 4L, 3)), got.toString)
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDups(sigs, "sig", "id", nBits = 16, bands = 5)
    }
    // recall-heuristic regime (maxHamming >= bands): verified pairs are
    // still correct, but candidacy requires a band agreement — (1,3)
    // at distance 8 with every band touched stays (correctly) missing
    val loose = Dedup.hammingNearDups(sigs, "sig", "id", nBits = 16, bands = 4, maxHamming = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(!loose.contains((1L, 3L, 8)) && loose.contains((1L, 2L, 2)), loose.toString)
  }
}
