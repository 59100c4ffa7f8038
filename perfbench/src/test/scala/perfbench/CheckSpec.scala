package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every correctness check the benchmark runs rejects a wrong answer. */
class CheckSpec extends AnyFunSuite {
  test("a layer's output must equal its batch operator's, row for row") {
    val want = Seq("1|2024-01-01", "2|2024-01-01")
    assert(Check.sameBag("uv", want.reverse, want).ok)
    assert(!Check.sameBag("uv", want.take(1), want).ok)
    assert(!Check.sameBag("uv", want :+ want.head, want).ok, "a duplicate row must fail")
    assert(!Check.sameBag("uv", Seq("1|2024-01-01", "3|2024-01-01"), want).ok)
  }

  test("a count must equal its expected value (windowed count short by the late events, pv_ct sum)") {
    assert(Check.equal("late", 35878L, 35878L).ok)
    assert(!Check.equal("late", 35900L, 35878L).ok)
    assert(!Check.equal("pv", Seq(3L, 3L).sum, 7L).ok)
  }

  test("output hashes must repeat across iterations") {
    val a = Map("op" -> "10:ab:cd")
    assert(Check.stableHashes("h", Seq(a, a, a)).ok)
    assert(!Check.stableHashes("h", Seq(a, Map("op" -> "10:ab:ce"))).ok)
    assert(!Check.stableHashes("h", Seq(a, Map.empty[String, String])).ok)
    assert(!Check.stableHashes("h", Nil).ok)
  }

  test("the is_new rows must include repaired flags (0) and new devices (1)") {
    assert(Check.covers("is_new", Map(0 -> 120L, 1 -> 880L), Seq(0, 1)).ok)
    assert(!Check.covers("is_new", Map(1 -> 1000L), Seq(0, 1)).ok, "no repaired flag must fail")
    assert(!Check.covers("is_new", Map(0 -> 0L, 1 -> 1000L), Seq(0, 1)).ok)
  }

  test("every planted exact duplicate must be flagged by dup_rank and group_ct") {
    val planted = Map(5L -> 1L, 6L -> 2L)
    // doc_id -> (dup_rank, group_ct)
    val right = Map(1L -> (1, 2L), 5L -> (2, 2L), 2L -> (1, 2L), 6L -> (2, 2L))
    assert(Check.plantedFound("p", planted, right).ok)
    assert(!Check.plantedFound("p", planted, right + (6L -> (1, 2L))).ok, "rank 1 on the copy must fail")
    assert(!Check.plantedFound("p", planted, right + (6L -> (2, 1L))).ok, "a group of one must fail")
    assert(!Check.plantedFound("p", planted, right + (2L -> (1, 1L))).ok, "an ungrouped base must fail")
    assert(!Check.plantedFound("p", planted, right - 5L).ok)
  }
}
