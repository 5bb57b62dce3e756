package perfbench

import org.scalatest.funsuite.AnyFunSuite

class VectorSearchSpec extends AnyFunSuite {

  // Best first; 2 and 3 tie at the second place.
  private val scored = Seq(1L -> 0.9, 2L -> 0.8, 3L -> 0.8, 4L -> 0.7, 5L -> 0.6)

  private def check(got: Long*) = VectorSearch.exactMismatch(got, scored, 3)

  test("the exact top-k passes, and so does a swap of tied neighbours") {
    assert(check(1, 2, 3).isEmpty)
    assert(check(1, 3, 2).isEmpty)
  }

  test("a truncated, repeated or reordered top-k fails") {
    assert(check(1, 2).isDefined)
    assert(check(1, 2, 3, 4).isDefined)
    assert(check(1, 2, 2).isDefined)
    assert(check(3, 2, 1).isDefined)
    assert(check(2, 1, 3).isDefined)
  }

  test("a top-k holding a worse or unknown neighbour fails") {
    assert(check(1, 2, 4).isDefined)
    assert(check(1, 2, 99).isDefined)
  }
}
