package graft

import org.apache.spark.sql.functions._

/** SURVEY §5 property tests: algebraic laws the operators must hold at
  * any scale — permutation invariance (shuffles reorder rows),
  * union-of-partials = aggregate-of-whole (map-side combine), and
  * dedup idempotence. Seeded generators (not ScalaCheck) so every run
  * exercises the identical 20 cases deterministically. */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def cases: Seq[List[(Long, Long)]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(20)(List.fill(1 + rnd.nextInt(30))(
      (1L + rnd.nextInt(5), rnd.nextInt(100).toLong)))
  }

  test("windowed sum is invariant under input permutation") {
    val rnd = new scala.util.Random(7)
    cases.foreach { xs =>
      val a = xs.toDF("k", "v").groupBy("k").agg(sum("v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = rnd.shuffle(xs).toDF("k", "v")
        .repartition(3).groupBy("k").agg(sum("v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a == b)
    }
  }

  test("union-of-partials equals aggregate-of-whole") {
    cases.filter(_.size >= 2).foreach { xs =>
      val (l, r) = xs.splitAt(xs.size / 2)
      val whole = xs.toDF("k", "v").groupBy("k").agg(sum("v").as("s"))
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val partial = l.toDF("k", "v").unionByName(r.toDF("k", "v"))
        .groupBy("k").agg(sum("v").as("s"))
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(whole == partial)
    }
  }

  test("closure keepers equal union-find components on random graphs") {
    val rnd = new scala.util.Random(13)
    // 6 random graphs: up to 12 nodes, random edge sets incl. chains
    // (each graph costs diameter-many distributed rounds — six keeps
    // the suite's wall time bounded while still covering chains,
    // forests and dense blobs under the fixed seed)
    (1 to 6).foreach { _ =>
      val n = 4 + rnd.nextInt(9)
      val edges = List.fill(1 + rnd.nextInt(10))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        // reference: plain driver-side union-find
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val expect = nodes.map(x => x -> nodes.filter(find(_) == find(x)).min).toMap
        val got = llm.Dedup.closureKeepers(edges.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expect, s"edges=$edges")
      }
    }
  }

  test("batch interval join equals the filter-based reference form") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(29)
    val base = Timestamp.valueOf("2021-03-21 10:00:00").getTime
    (1 to 5).foreach { _ =>
      val orders = List.tabulate(6)(i =>
        (i.toLong, new Timestamp(base + rnd.nextInt(7200) * 1000L), i * 10L))
      val details = List.fill(15)(
        (rnd.nextInt(8).toLong, new Timestamp(base + rnd.nextInt(7200) * 1000L), rnd.nextInt(100).toLong))
      val got = streaming.StreamJobs.intervalJoinBounds(
          orders.toDF("oid", "ots", "total"), details.toDF("did", "dts", "amt"),
          "oid", "did", "ots", "dts", "30 minutes", "30 minutes")
        .select("oid", "dts", "amt")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
      val expect = (for {
        (oid, ots, _) <- orders
        (did, dts, amt) <- details
        if did == oid && math.abs(dts.getTime - ots.getTime) <= 30 * 60 * 1000L
      } yield (oid, dts, amt)).toSet
      assert(got == expect)
    }
  }

  test("dedupLatest is idempotent and keeps the max ts per key") {
    cases.foreach { xs =>
      val df = xs.toDF("k", "ts")
      val once = sinks.Sinks.dedupLatest(df, Seq("k"), "ts")
      val twice = sinks.Sinks.dedupLatest(once, Seq("k"), "ts")
      assert(once.collect().toSet == twice.collect().toSet)
      val expect = xs.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).max }
      assert(once.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        expect)
    }
  }

  test("asOf equals the per-left-row max-preceding reference on random data") {
    val rnd = new scala.util.Random(1234)
    (1 to 10).foreach { _ =>
      val lefts = (1 to (5 + rnd.nextInt(25))).map(i =>
        (i.toLong, 1L + rnd.nextInt(4), rnd.nextInt(50).toLong))
      val rights = (1 to (3 + rnd.nextInt(20))).map(i =>
        (1L + rnd.nextInt(4), rnd.nextInt(50).toLong, 1000L + i))
        // asOf contract: unique (key, time) on the right
        .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
      val got = operators.AsOf.asOf(
          lefts.toDF("id", "k", "t"), rights.toDF("rk", "rt", "p"),
          "k", "rk", "t", "rt", Seq("p"))
        .select("id", "p").as[(Long, Option[Long])].collect().toMap
      val want = lefts.map { case (id, k, t) =>
        val prec = rights.filter(r => r._1 == k && r._2 <= t)
        id -> (if (prec.isEmpty) None else Some(prec.maxBy(_._2)._3))
      }.toMap
      assert(got === want)
    }
  }

  test("dict segmenter equals the regex contract on random ASCII text") {
    // the property that lets q_dws_keyword_stats_dict share the regex
    // form's oracle: on text with no CJK, the two tokenizers are one
    val rnd = new scala.util.Random(13)
    val alphabet = "abcxyz019 .,-!\t_#" // alnum + separators the regex drops
    val samples = Seq.fill(200)(
      (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString) :+ "" :+ "   " :+ "a" :+ "7"
    samples.foreach { s =>
      val viaRegex = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      assert(func.DictTokenizer.segment(s) === viaRegex, s"on '$s'")
    }
  }

  test("hopping window pv equals the sum of its slide-width tumbles") {
    // a size-S window starting at s covers exactly the S/slide tumbling
    // slide-width slots [s, s+slide), [s+slide, ...) — so hop counts
    // must reconstruct from an independent tumble aggregate
    val slide = dws.VisitorStats.HopSlideSec
    val tumbles = Tables.events(spark, Sf)
      .groupBy(func.Exprs.tumbleStart(col("ts"), slide).as("slot"),
        col("event_type"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val hops = dws.VisitorStats.hopping(spark, Sf).collect()
    assert(hops.nonEmpty)
    hops.foreach { r =>
      val (stt, et) = (r.getLong(0), r.getString(1))
      val expected = tumbles.getOrElse((stt, et), 0L) +
        tumbles.getOrElse((stt + slide, et), 0L)
      assert(r.getLong(2) === expected, s"hop ($stt, $et)")
    }
  }

  test("attribution conserves purchase mass and value") {
    val out = ads.EventFlows.attribution(spark, Sf).collect()
    val ev = Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)), func.Exprs.sumCents(col("value"))).head()
    assert(out.map(_.getLong(1)).sum === ev.getLong(0),
      "every purchase is attributed exactly once")
    assert(out.map(_.getLong(2)).sum === ev.getLong(1),
      "attributed value sums to total purchase value")
  }

  test("budget selection keeps an upward-closed set in quality") {
    // no dropped doc may out-rank a kept doc: every dropped score is
    // ≤ every kept score, with equality only at the boundary score
    // (where doc_id ties split)
    val sel = llm.CorpusLayout.budgetSelect(spark, Sf).collect()
    val kept = sel.filter(_.getLong(4) == 1L)
    val dropped = sel.filter(_.getLong(4) == 0L)
    assert(kept.nonEmpty && dropped.nonEmpty)
    val minKept = kept.map(_.getLong(1)).min
    val maxDropped = dropped.map(_.getLong(1)).max
    assert(minKept >= maxDropped,
      s"a dropped doc out-ranks a kept doc ($maxDropped > $minKept)")
    if (minKept == maxDropped) {
      // tie boundary: within the boundary score, kept ids precede
      val b = sel.filter(_.getLong(1) == minKept).sortBy(_.getLong(0))
      val verdicts = b.map(_.getLong(4))
      assert(verdicts.sliding(2).forall {
        case Array(a, c) => a >= c
        case _ => true
      }, "within the tied score, lower doc_ids are kept first")
    }
  }

  test("HLL register max-merge is the union sketch on random splits") {
    // the merge law that makes the sketch a distributed aggregate:
    // sketch(A ∪ B) = cellwise max(sketch(A), sketch(B)) — including
    // empty sides, disjoint and heavily-overlapping splits
    val rnd = new scala.util.Random(29)
    (1 to 5).foreach { _ =>
      val texts = List.fill(1 + rnd.nextInt(40))(
        s"doc-${rnd.nextInt(25)}")    // duplicates on purpose
      val cut = rnd.nextInt(texts.size + 1)
      val (a, b) = texts.splitAt(cut) // cut=0 → empty left side
      def sk(xs: List[String]): Map[Long, Long] =
        if (xs.isEmpty) Map.empty
        else llm.Sketches.hllSketchOf(xs.zipWithIndex
            .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
          .as[(Long, Long)].collect().toMap
      val whole = sk(texts)
      val (sa, sb) = (sk(a), sk(b))
      val merged = (sa.keySet ++ sb.keySet).map(k =>
        k -> math.max(sa.getOrElse(k, 0L), sb.getOrElse(k, 0L))).toMap
      assert(merged === whole)
    }
  }

  test("CMS cellwise sum is the union sketch on random splits") {
    // the Count-Min merge law: sketch(A ⊎ B) = cellwise add
    val rnd = new scala.util.Random(31)
    (1 to 5).foreach { _ =>
      val texts = List.fill(1 + rnd.nextInt(30))(
        List.fill(1 + rnd.nextInt(8))(s"w${rnd.nextInt(12)}").mkString(" "))
      val cut = rnd.nextInt(texts.size + 1)
      val (a, b) = texts.splitAt(cut)
      def sk(xs: List[String]): Map[(Long, Long), Long] =
        if (xs.isEmpty) Map.empty
        else llm.Sketches.cmsSketchOf(xs.zipWithIndex
            .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
          .as[(Long, Long, Long)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
      val whole = sk(texts)
      val (sa, sb) = (sk(a), sk(b))
      val merged = (sa.keySet ++ sb.keySet).map(k =>
        k -> (sa.getOrElse(k, 0L) + sb.getOrElse(k, 0L))).toMap
      assert(merged === whole)
    }
  }
}
