package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class CorpusLayoutSpec extends SparkSpec {
  import spark.implicits._

  // ---- corpus shuffle ----------------------------------------------

  test("corpusShuffle: positions are a permutation, dense per shard") {
    val out = CorpusLayout.corpusShuffleOf(Tables.documents(spark, Sf))
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect()
    assert(out.length === 500)
    assert(out.map(_._1).distinct.length === 500, "one row per doc")
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(shard >= 0 && shard < CorpusLayout.ShuffleShards)
      val ps = rows.map(_._3).sorted
      assert(ps === (1L to rows.length.toLong).toArray.toSeq,
        s"shard $shard positions must be dense 1..n")
    }
  }

  test("corpusShuffle: order is reproducible and not the input order") {
    val a = CorpusLayout.corpusShuffleOf(Tables.documents(spark, Sf))
      .orderBy("shard", "pos").as[(Long, String, Long, Long)].collect()
    val b = CorpusLayout.corpusShuffleOf(Tables.documents(spark, Sf))
      .orderBy("shard", "pos").as[(Long, String, Long, Long)].collect()
    assert(a.toSeq === b.toSeq, "deterministic across runs")
    // within some shard, doc_ids must NOT be ascending (that would
    // mean the 'shuffle' preserved input order)
    val scrambled = a.groupBy(_._3).values.exists { rows =>
      val ids = rows.sortBy(_._4).map(_._1).toSeq
      ids !== ids.sorted
    }
    assert(scrambled, "md5 ordering must scramble input order")
  }

  // ---- length histogram --------------------------------------------

  test("lengthHist: buckets by digit count, counts a driver recompute") {
    val docs = Seq(
      (1L, "en", "a b c"),                       // 3 tokens → mag 1
      (2L, "en", Seq.fill(12)("w").mkString(" ")), // 12 → mag 2
      (3L, "en", Seq.fill(99)("w").mkString(" ")), // 99 → mag 2
      (4L, "de", null.asInstanceOf[String]))     // null → 0 → mag 1
      .toDF("doc_id", "lang", "text")
    val out = CorpusLayout.lengthHistOf(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    assert(out(("en", 1L)) === ((1L, 3L, 3L, 3L)))
    assert(out(("en", 2L)) === ((2L, 111L, 12L, 99L)))
    assert(out(("de", 1L)) === ((1L, 0L, 0L, 0L)), "null text is a 0-token doc")
  }

  test("lengthHist at Sf: totals equal the corpus") {
    val out = CorpusLayout.lengthHistOf(Tables.documents(spark, Sf))
      .agg(sum("doc_ct"), sum("token_sum")).as[(Long, Long)].head()
    val docs = graft.Tables.documents(spark, Sf)
    val expDocs = docs.count()
    val expToks = docs
      .select(coalesce(size(graft.func.Tokenizer.tokens(col("text")))
        .cast("long"), lit(0L)).as("n")).agg(sum("n")).as[Long].head()
    assert(out === ((expDocs, expToks)))
  }

  // ---- pack utilization --------------------------------------------

  test("packUtil: agrees with a driver recompute over the packing") {
    val packed = CorpusOps.packingShardedOf(Tables.documents(spark, Sf))
      .select("lang", "shard", "n_tokens", "pack_id", "pack_offset")
      .as[(String, Long, Long, Long, Long)].collect()
    val exp = packed.groupBy(r => (r._1, r._2)).map { case (k, rows) =>
      val used = rows.map(_._3).sum
      val packs = rows.map(_._4).max + 1
      k -> ((rows.length.toLong, used, packs,
        rows.count(r => r._5 + r._3 > CorpusOps.PackCapacity).toLong,
        packs * CorpusOps.PackCapacity,
        1000000L * used / (packs * CorpusOps.PackCapacity)))
    }
    val got = CorpusLayout.packUtil(spark, Sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7, r._8))).toMap
    assert(got === exp)
    // >100% utilization is legal ONLY via boundary-straddling docs
    got.values.foreach { case (_, _, _, straddle, _, ppm) =>
      assert(ppm > 0L)
      if (ppm > 1000000L) assert(straddle > 0L,
        "over-unity utilization requires straddling docs")
    }
  }

  test("packUtil reuses the packing exchange (one shuffle total)") {
    val plan = CorpusLayout.packUtil(spark, Sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges === 1,
      s"groupBy(lang, shard) must reuse the window's exchange:\n$plan")
  }
}

class SourceOverlapSpec extends SparkSpec {
  import spark.implicits._

  test("sourceOverlap: counts rare shared shingles, skips common ones") {
    val phrase = "unique mirrored phrase here"   // rare: df = 2
    val common = "the cat sat on the mat"        // df = 6 > OverlapMaxDf
    val docs = Seq(
      (1L, "srcA", s"$phrase $common"),
      (2L, "srcB", s"$phrase $common filler words"),
      (3L, "srcA", common), (4L, "srcB", common),
      (5L, "srcC", common), (6L, "srcC", common + " tail"))
      .toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlapOf(docs)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // srcA-srcB share the 2 rare shingles of the 4-token phrase plus
    // the phrase→common boundary trigrams that stay under the df cap
    assert(out.keySet.forall { case (a, b) => a < b }, "canonical pair order")
    assert(out.contains(("srcA", "srcB")), "mirrored phrase detected")
    // srcC shares ONLY common shingles with everyone: no pair rows
    assert(!out.keySet.exists { case (a, b) => a == "srcC" || b == "srcC" },
      s"common-content source must not appear: $out")
    // exact count: driver recompute over the same rule
    val sh = docs.as[(Long, String, String)].collect().map { case (_, s, t) =>
      (s, Dedup.tokensOf(t).sliding(3).map(_.mkString(" ")).toSet)
    }
    val df = sh.flatMap(_._2.map(identity)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val rare = df.filter(_._2 <= Dedup.OverlapMaxDf).keySet
    val bySrc = sh.groupBy(_._1).view
      .mapValues(_.flatMap(_._2).toSet.intersect(rare)).toMap
    val expAB = bySrc("srcA").intersect(bySrc("srcB")).size.toLong
    assert(out(("srcA", "srcB")) === expAB)
  }

  test("sourceOverlap at Sf: bounded output, symmetric-free, nonzero") {
    val out = Dedup.sourceOverlapOf(Tables.documents(spark, Sf))
      .as[(String, String, Long)].collect()
    assert(out.nonEmpty, "synthetic corpus must share rare shingles")
    assert(out.forall { case (a, b, c) => a < b && c > 0 })
    val n = graft.Tables.documents(spark, Sf)
      .select("source").distinct().count()
    assert(out.length <= n * (n - 1) / 2, "at most one row per pair")
  }

  test("sourceOverlap at Sf: ONE corpus-scale shuffle, no self-join") {
    val plan = Dedup.sourceOverlapOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("HashJoin"),
      s"source pairs must expand array-side, not via posting self-join:\n" +
        plan.take(2000))
  }
}

class SplitAllocSpec extends SparkSpec {
  import spark.implicits._

  test("splitAlloc: equals a driver Hamilton recompute on a crafted mix") {
    // masses engineered to leave fractional remainders: 7/3/2/1 of 13
    val docs = Seq(
      (1L, "en", Seq.fill(7)("w").mkString(" ")),
      (2L, "de", Seq.fill(3)("w").mkString(" ")),
      (3L, "fr", Seq.fill(2)("w").mkString(" ")),
      (4L, "zh", "w")).toDF("doc_id", "lang", "text")
    val n = CorpusLayout.AllocBudget
    val masses = Map("en" -> 7L, "de" -> 3L, "fr" -> 2L, "zh" -> 1L)
    val m = masses.values.sum
    val floors = masses.view.mapValues(t => n * t / m).toMap
    val rems = masses.map { case (l, t) => l -> (n * t) % m }
    val left = (n - floors.values.sum).toInt
    val bump = rems.toSeq.sortBy { case (l, r) => (-r, l) }
      .take(left).map(_._1).toSet
    val exp = masses.keys.map { l =>
      (l, masses(l), floors(l) + (if (bump(l)) 1L else 0L))
    }.toSet
    val got = CorpusLayout.splitAllocOf(docs)
      .as[(String, Long, Long)].collect().toSet
    assert(got === exp)
  }

  test("splitAlloc at Sf: quotas sum to the budget exactly") {
    val out = CorpusLayout.splitAllocOf(Tables.documents(spark, Sf))
      .as[(String, Long, Long)].collect()
    assert(out.map(_._3).sum === CorpusLayout.AllocBudget)
    // proportionality within one token of the exact share
    val m = out.map(_._2).sum
    out.foreach { case (lang, tokens, quota) =>
      val exact = BigInt(CorpusLayout.AllocBudget) * tokens / m
      assert((quota - exact.toLong).abs <= 1L,
        s"$lang quota $quota vs floor share $exact")
    }
  }
}

class CollocSpec extends SparkSpec {
  import spark.implicits._

  test("pmi: ranks a planted collocation above independent fillers") {
    // 'alpha beta' always adjacent (perfect association); filler
    // words paired randomly-ish across docs
    val docs = (1 to 10).map { i =>
      (i.toLong, s"alpha beta x$i common word common word x$i stuff")
    }.toDF("doc_id", "text")
    val out = Colloc.pmiOf(docs)
      .as[(Long, String, String, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.map(_._1).toSeq === (1L to out.length.toLong),
      "ranks are dense from 1")
    val top = out.head
    assert((top._2, top._3) === (("alpha", "beta")),
      s"planted pair must rank first, got $top")
    out.foreach { case (_, _, _, cab, ca, cb) =>
      assert(cab >= Colloc.MinPairCount && cab <= math.min(ca, cb))
    }
  }

  test("pmi: lift ordering equals an exact driver recompute") {
    val docs = Seq((1L, ("the cat sat on the mat and " * 8) +
      "the cat ran off the mat fast")).toDF("doc_id", "text")
    val toks = docs.select(graft.func.Tokenizer.tokens(col("text")).as("t"))
      .as[Seq[String]].head()
    val pairs = toks.sliding(2).map(s => (s(0), s(1))).toSeq
    val uni = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bi = pairs.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= Colloc.MinPairCount).toMap
    val n = pairs.length.toLong
    val exp = bi.toSeq.map { case ((a, b), cab) =>
      val lift = (BigInt(1000000) * cab * n) / (BigInt(uni(a)) * uni(b))
      (lift, a, b)
    }.sortBy { case (l, a, b) => (-l, a, b) }
      .take(Colloc.TopC).zipWithIndex
      .map { case ((_, a, b), i) => (i + 1L, a, b) }
    val got = Colloc.pmiOf(docs)
      .select("rank", "w1", "w2").as[(Long, String, String)].collect().toSeq
    assert(got === exp)
  }

  test("pmi at Sf: broadcast unigrams, take-ordered top-k (plan shape)") {
    val qe = Colloc.pmiOf(Tables.documents(spark, Sf)).queryExecution.executedPlan.toString
    assert(qe.contains("TakeOrderedAndProject"),
      s"global top-k must not be a full sort exchange:\n$qe")
    assert("BroadcastHashJoin".r.findAllIn(qe).length >= 2,
      s"both unigram joins must broadcast:\n$qe")
  }

  // ---- per-language bigram heavy hitters ---------------------------

  test("topNgrams: planted frequent pair ranks first in its language") {
    val docs = Seq(
      (1L, "en", "hot dog " * 9 + "cold cat"),
      (2L, "en", "hot dog misc words here"),
      (3L, "de", "eins zwei " * 5 + "drei vier"))
      .toDF("doc_id", "lang", "text")
    val out = Colloc.topNgramsOf(docs)
      .as[(String, String, String, Long, Long)].collect()
    val byLang = out.groupBy(_._1)
    // doc 1 repeats 'hot dog' 9× (and the 'dog hot' wrap 8×); doc 2
    // adds one more 'hot dog' → 10 beats every other en pair
    assert(byLang("en").minBy(_._5) === (("en", "hot", "dog", 10L, 1L)))
    assert(byLang("de").minBy(_._5) === (("de", "eins", "zwei", 5L, 1L)))
    assert(byLang.values.forall(_.length <= Colloc.TopNgramsPerLang))
    assert(byLang.values.forall(rows =>
      rows.map(_._5).sorted.toSeq == (1L to rows.length.toLong)))
  }

  test("topNgrams at Sf: per-lang top-k, WindowGroupLimit plan") {
    val out = Colloc.topNgramsOf(Tables.documents(spark, Sf)).cache()
    val langs = graft.Tables.documents(spark, Sf)
      .select("lang").distinct().count()
    assert(out.count() === langs * Colloc.TopNgramsPerLang,
      "every language has ≥ k bigram types at this sf")
    // rank-1 count per lang equals a direct recompute of the max count
    val plan = Colloc.topNgramsOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }
}
