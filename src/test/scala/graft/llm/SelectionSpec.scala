package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class SelectionSpec extends SparkSpec {
  import spark.implicits._

  test("budgetSelect: greedy best-first, start-offset boundary rule") {
    val out = CorpusLayout.budgetSelectOf(Tables.documents(spark, Sf)).collect()
    val byRank = out.sortBy(r => (-r.getLong(1), r.getLong(0)))
    // cum_before is the exact prefix sum in (quality desc, doc_id) order
    var cum = 0L
    byRank.foreach { r =>
      assert(r.getLong(3) === cum,
        s"doc ${r.getLong(0)}: cum_before ${r.getLong(3)} != $cum")
      assert(r.getLong(4) === (if (cum < CorpusLayout.TokenBudget) 1L else 0L))
      cum += r.getLong(2)
    }
    val kept = out.filter(_.getLong(4) == 1L)
    assert(kept.nonEmpty && kept.length < out.length,
      "budget selects a strict, non-empty subset at sf0.001")
    // selected set = best-quality prefix: min selected quality >= max
    // unselected quality (modulo the boundary score, where doc_id ties
    // split) — check via ranks instead: selected ranks are a prefix
    val selRanks = byRank.zipWithIndex.filter(_._1.getLong(4) == 1L).map(_._2)
    assert(selRanks.toSeq === (0 until selRanks.length))
  }

  test("budgetSelect plan: prefix sum is score-keyed, not single") {
    val plan = CorpusLayout.budgetSelectOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(quality_ppm"),
      s"intra-score window must be score-keyed:\n$plan")
  }

  test("leakageSplit: near-dup cluster members share one split") {
    val out = CorpusOps.leakageSplit(spark, Sf).collect()
    assert(out.length === 500)
    val byKeeper = out.groupBy(_.getLong(2))
    byKeeper.foreach { case (k, rows) =>
      assert(rows.map(_.getString(4)).distinct.length === 1,
        s"cluster $k spans splits")
    }
    assert(byKeeper.exists(_._2.length > 1),
      "sf data has at least one multi-doc cluster (else test is vacuous)")
    // singletons agree with the plain hash split
    val plain = CorpusOps.hashSplit(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    out.filter(r => r.getLong(0) == r.getLong(2)).foreach { r =>
      assert(r.getString(4) === plain(r.getLong(0)),
        s"keeper-doc ${r.getLong(0)} diverges from hashSplit")
    }
  }
  test("weightedSample: deterministic, k rows, heavier docs favored") {
    val out = Sampling.weightedSampleOf(Tables.documents(spark, Sf)).collect()
    assert(out.length === Sampling.SampleK)
    val out2 = Sampling.weightedSampleOf(Tables.documents(spark, Sf)).collect()
    assert(out.map(_.toString).toSeq === out2.map(_.toString).toSeq,
      "same corpus, same sample")
    // length bias: sampled docs are longer on average than the corpus
    val sampledAvg = out.map(_.getAs[Long]("n_chars")).sum.toDouble / out.length
    val corpusAvg = graft.Tables.documents(spark, Sf)
      .agg(org.apache.spark.sql.functions.avg("n_chars"))
      .head().getDouble(0)
    assert(sampledAvg > corpusAvg,
      s"length-weighted draw must skew long: $sampledAvg <= $corpusAvg")
  }

  test("weightedSample plan: top-k, not a global sort exchange") {
    val plan = Sampling.weightedSampleOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"k-row draw must be per-partition top-k + merge:\n$plan")
  }
}
