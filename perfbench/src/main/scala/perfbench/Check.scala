package perfbench

/** Correctness checks. Each compares plain Scala values, so the tests in
  * `CheckSpec` can show, without Spark, that a check rejects a wrong
  * answer. */
object Check {
  final case class Result(name: String, ok: Boolean, detail: String)

  def pass(name: String, detail: String = "ok"): Result = Result(name, ok = true, detail)

  /** Two collections hold the same elements, with multiplicity. */
  def sameBag[A](name: String, got: Iterable[A], want: Iterable[A]): Result = {
    val g = got.groupMapReduce(identity)(_ => 1)(_ + _)
    val w = want.groupMapReduce(identity)(_ => 1)(_ + _)
    if (g == w) pass(name, s"ok (${want.size} rows)")
    else {
      val extra = g.keySet.diff(w.keySet).take(3)
      val missing = w.keySet.diff(g.keySet).take(3)
      Result(name, ok = false, s"mismatch: ${got.size} rows vs ${want.size} expected; " +
        s"unexpected ${extra.mkString("[", ", ", "]")}, missing ${missing.mkString("[", ", ", "]")}")
    }
  }

  def equal[A](name: String, got: A, want: A): Result =
    if (got == want) pass(name, s"ok ($want)")
    else Result(name, ok = false, s"got $got, expected $want")

  /** Every iteration produced the same output hash per operation. */
  def stableHashes(name: String, perIter: Seq[Map[String, String]]): Result = {
    val bad = perIter.flatMap(_.keySet).distinct.sorted.filter(k => perIter.map(_.get(k)).distinct.size > 1)
    if (perIter.isEmpty) Result(name, ok = false, "no iterations")
    else if (bad.isEmpty) pass(name, s"ok (${perIter.size} iterations)")
    else Result(name, ok = false, s"output hash changed across iterations for ${bad.mkString(", ")}")
  }

  /** Rows take each value in `want` at least once, so a comparison over
    * them sees every case (`counts`: rows per value). */
  def covers[A](name: String, counts: Map[A, Long], want: Seq[A]): Result = {
    val absent = want.filterNot(v => counts.getOrElse(v, 0L) > 0)
    val detail = want.map(v => s"$v: ${counts.getOrElse(v, 0L)}").mkString(", ")
    if (absent.isEmpty) pass(name, s"ok ($detail)")
    else Result(name, ok = false, s"no rows with ${absent.mkString(", ")} ($detail)")
  }

  /** Every planted exact duplicate is flagged by the exact-dedup report:
    * both it and its base are in a group of at least two, and the later
    * of the two (larger doc_id) ranks after the first. `report` maps
    * doc_id to (dup_rank, group_ct). */
  def plantedFound(name: String, planted: Map[Long, Long], report: Map[Long, (Int, Long)]): Result = {
    def flagged(d: Long, b: Long): Boolean = {
      val (rank, ct) = report.getOrElse(d.max(b), (1, 1L))
      ct >= 2 && report.get(d.min(b)).exists(_._2 >= 2) && rank > 1
    }
    val missed = planted.filterNot { case (d, b) => flagged(d, b) }
    if (missed.isEmpty) pass(name, s"ok (${planted.size} planted)")
    else Result(name, ok = false, s"${missed.size} of ${planted.size} planted duplicates missed, " +
      s"e.g. ${missed.take(3).mkString(", ")}")
  }
}
