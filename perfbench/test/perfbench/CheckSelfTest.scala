package perfbench

import graft.Hit

/** Tests of the answer checker: an exact answer passes, and every kind of
  * perturbed answer is rejected. Run with `python3 perfbench/run.py
  * --selftest`; exits non-zero on the first failed case. */
object CheckSelfTest {
  def main(args: Array[String]): Unit = {
    val expected: Check.Answers = Map(
      1 -> Seq(Hit(1, 1, 40L, 900L), Hit(1, 2, 7L, 800L), Hit(1, 3, 9L, 800L)),
      2 -> Seq(Hit(2, 1, 3L, 500L)),
      3 -> Nil)
    val exact = expected.values.flatten.toSeq
    val asked = Seq(1, 2, 3)
    val perturbed: Seq[(String, Seq[Hit], Seq[Int])] = Seq(
      ("two ranks swapped", exact.map {
        case h if h.query_id == 1 && h.rank == 2 => h.copy(doc_id = 9L)
        case h if h.query_id == 1 && h.rank == 3 => h.copy(doc_id = 7L)
        case h => h
      }, Seq(1)),
      ("score off by one micro", exact.map(h => if (h.query_id == 2) h.copy(score_micro = 501L) else h), Seq(2)),
      ("row missing", exact.filterNot(h => h.query_id == 1 && h.rank == 3), Seq(1)),
      ("extra row", exact :+ Hit(2, 2, 11L, 100L), Seq(2)),
      ("hit for an empty answer", exact :+ Hit(3, 1, 5L, 10L), Seq(3)),
      ("answer for a query not asked", exact :+ Hit(4, 1, 5L, 10L), Seq(4)),
      ("rank renumbered", exact.map(h => if (h.query_id == 2) h.copy(rank = 2) else h), Seq(2)),
      ("doc replaced", exact.map(h => if (h.query_id == 1 && h.rank == 1) h.copy(doc_id = 41L) else h), Seq(1)))

    var failures = 0
    def expect(name: String, got: Seq[Int], want: Seq[Int]): Unit =
      if (got == want) println(s"ok   $name")
      else { failures += 1; println(s"FAIL $name: mismatches $got, expected $want") }

    expect("exact answer accepted", Check.mismatches(expected, exact, asked), Nil)
    expect("row order does not matter", Check.mismatches(expected, exact.reverse, asked), Nil)
    perturbed.foreach { case (name, got, want) =>
      expect(s"rejects: $name", Check.mismatches(expected, got, asked), want)
    }
    val r = new Report
    r.checked("batch", Check.mismatches(expected, perturbed.head._2, asked))
    expect("a wrong batch counts as failed", if (r.failed == 1 && !r.correct) Nil else Seq(-1), Nil)
    if (failures > 0) { println(s"$failures checker test(s) failed"); sys.exit(1) }
    println("all checker tests passed")
  }
}
