package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("shingles: distinct word 3-grams in order-insensitive set form") {
    val out = docs((1L, "a b c d"))
      .select(Dedup.shingles(col("text")).as("s"))
      .as[Seq[String]].head()
    assert(out.toSet == Set("a b c", "b c d"))
  }

  test("shingles: shorter than n yields empty, not descending sequence") {
    val out = docs((1L, "a b"))
      .select(Dedup.shingles(col("text")).as("s"))
      .as[Seq[String]].head()
    assert(out.isEmpty)
  }

  test("exact dedup groups identical texts and ranks deterministically") {
    val d = docs((1L, "same text here"), (2L, "same text here"),
      (3L, "different text"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("content_key")).orderBy(col("doc_id"))
    val out = d.select(col("doc_id"), md5(col("text")).as("content_key"))
      .withColumn("dup_rank", row_number().over(w))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out(1L) == 1 && out(2L) == 2 && out(3L) == 1)
  }

  test("minhash LSH catches a true near-dup and skips unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 37) "CHANGED" else s"tok$i")
      .mkString(" ")
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val d = docs((1L, base), (2L, nearDup), (3L, other))
    d.createOrReplaceTempView("minhash_docs")
    // run the operator body against the tiny frame via its public parts:
    // signatures → bands → candidates → verified jaccard
    val shl = d.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val j12 = shl.as("a").join(shl.as("b"),
        col("a.doc_id") === 1 && col("b.doc_id") === 2)
      .select(
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
        size(array_union(col("a.sh"), col("b.sh"))))
      .as[Double].head()
    assert(j12 > 0.8, s"fixture near-dup should have jaccard > 0.8, got $j12")
  }

  test("exact-collapse LSH preserves components and min-id keepers") {
    // two exact groups whose texts are near-dups of EACH OTHER, one
    // exact group of unrelated text, one singleton: the collapsed
    // rep-level pairs + exact-group edges must rebuild the same
    // components (and the same min-id keepers) as the plain all-pairs
    // pipeline over every document
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 37) "CHANGED" else s"tok$i")
      .mkString(" ")
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val boiler = (0 until 60).map(t => s"boiler$t").mkString(" ")
    val skewed = spark.range(500L).as[Long].map { i =>
      val j = i - i / 5 - 1 // rank among the non-boilerplate docs
      if (i % 5 == 0) (1000L + i, boiler)
      else if (j < 100)
        (1000L + i, (0 until 60).map(t => s"s${j / 4}b$t").mkString(" ") +
          s" s${j / 4}u${j % 4}")
      else {
        val rnd = new java.util.Random(i * 6364136223846793005L + 31L)
        (1000L + i,
          (0 until 60).map(_ => s"w${rnd.nextInt(30000)}").mkString(" "))
      }
    }.toDF("doc_id", "text")
    val d = docs(
      (1L, base), (5L, base), (9L, base),          // exact group A
      (2L, near), (7L, near),                      // exact group B (~A)
      (3L, other), (8L, other),                    // exact group C
      (4L, (200 to 240).map(i => s"q$i").mkString(" "))) // singleton
      .unionByName(skewed)
    val plain = Dedup.closureKeepers(
      Dedup.lshDuplicatesOf(d, Dedup.Bands, Dedup.R)
        .select(col("doc_a"), col("doc_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reps = d.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), col("text"))
    val repPairs = Dedup.lshDuplicatesOf(reps, Dedup.Bands, Dedup.R)
      .select(col("doc_a"), col("doc_b"))
    val exactEdges = d.as("m")
      .join(reps.select(col("doc_id").as("rep"), col("text")), Seq("text"))
      .filter(col("m.doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("m.doc_id").as("doc_b"))
    val collapsed = Dedup.closureKeepers(repPairs.unionByName(exactEdges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == collapsed,
      s"component labels diverged: plain=$plain collapsed=$collapsed")
    // groups A+B merge under 1; C under 3 (both members); keeper maps
    // only label docs that appear in the pair graph — the singleton is
    // absent from both, identically
    assert(plain(5L) == 1L && plain(2L) == 1L && plain(7L) == 1L &&
      plain(8L) == 3L && !plain.contains(4L))

    // the 20%-mass boilerplate rides the same corpus (ids from 1000):
    // ONE text on every 5th of its 500 docs puts C(100, 2) candidate
    // pairs into a single band bucket, beside 25 near-dup clusters of
    // 4 and unrelated docs; the collapsed labeling equals the plain one
    // (asserted above) and the boilerplate group collapses to its min id
    assert((1000L until 1500L by 5).forall(plain(_) == 1000L),
      "the boilerplate group must share its min-id keeper")
    assert(plain.size === 7 + 200,
      "groups A+B and C, the boilerplate group and the 25 clusters")
  }

  test("exact-collapse simhash preserves components; null/empty excluded") {
    // identical texts have the identical simhash, so within an exact
    // group every pair verifies at hamming 0 — the collapse device
    // (rep-level pairs + exact-group edges) must rebuild the plain
    // pipeline's components exactly
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val d = Seq(
      (Some(1L), Some(base)), (Some(5L), Some(base)), (Some(9L), Some(base)),
      (Some(3L), Some(other)), (Some(8L), Some(other)),
      (Some(4L), Some((200 to 240).map(i => s"q$i").mkString(" "))),
      (Some(20L), None: Option[String]),   // null text: never pairs
      (Some(21L), None: Option[String]),
      (Some(30L), Some("")), (Some(31L), Some(""))  // empty: never pairs
    ).toDF("doc_id", "text")
    val plain = Dedup.closureKeepers(
      Dedup.simhashDuplicatesOf(d).select(col("doc_a"), col("doc_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reps = Dedup.collapsedDocs(d)
    val repPairs = Dedup.simhashDuplicatesOf(reps)
      .select(col("doc_a"), col("doc_b"))
    val exactEdges = d.as("m")
      .join(reps.select(col("doc_id").as("rep"), col("text")), Seq("text"))
      .filter(col("m.doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("m.doc_id").as("doc_b"))
    val collapsed = Dedup.closureKeepers(repPairs.unionByName(exactEdges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == collapsed,
      s"component labels diverged: plain=$plain collapsed=$collapsed")
    assert(plain(5L) == 1L && plain(9L) == 1L && plain(8L) == 3L)
    // the null/empty docs appear in NEITHER pair graph — and the
    // collapse never pools them into a fake exact group
    Seq(20L, 21L, 30L, 31L).foreach(id =>
      assert(!plain.contains(id) && !collapsed.contains(id), s"doc $id"))
    assert(reps.filter(col("text").isNull || col("text") === "").count() === 0)
  }

  test("collapsed ngramJaccard/containment: dedup-then-mine repairs df") {
    // 70 copies of one boilerplate text push every one of its shingles
    // past MaxDf (64), so the PLAIN inverted-index pipeline prunes
    // them all and misses the genuine near-dup between the boilerplate
    // and its edited variant; the collapse restores df = distinct
    // texts and the pair comes back — while the 70-copy quadratic
    // bucket never forms
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 37) "CHANGED" else s"tok$i")
      .mkString(" ")
    val copies = (100L until 170L).map(i => (i, base))
    val d = docs(copies :+ ((1L, base)) :+ ((2L, near)): _*)
    val plainPairs = Dedup.ngramJaccardOf(d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!plainPairs.contains((1L, 2L)),
      "fixture: mass duplication must defeat the plain df pruning")
    val collapsedPairs = Dedup.ngramJaccardOf(Dedup.collapsedDocs(d))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(collapsedPairs === Set((1L, 2L)),
      s"collapse must restore the true pair, got $collapsedPairs")
    val contained = Dedup.containmentOf(Dedup.collapsedDocs(d))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(contained === Set((1L, 2L)))
  }

  test("collapsedDocs plan: map-side partial collapse before the exchange") {
    // the collapse's scale story is that duplicate texts die BEFORE
    // the shuffle: groupBy(text) must plan as partial_min map-side +
    // final agg after the exchange, so a 20%-boilerplate corpus ships
    // ~distinct-texts-per-partition, not the corpus
    val plan = Dedup.collapsedDocs(graft.Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"),
      s"text collapse must partial-aggregate map-side:\n$plan")
  }

  test("closure keepers: chains collapse to one component minimum") {
    // a→b, b→c chain plus a disjoint pair: pairwise-greedy would keep
    // 3 (dropping only join partners); the closure keeps min per component
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val keepers = Dedup.closureKeepers(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("closure keepers: 1000-node path converges in O(log n) rounds") {
    // Diameter 999 — one-hop propagation would need ~999 rounds (50×
    // past the cap of 20); pointer doubling squares the jump distance
    // per round, so the fixpoint lands within ~log2(999)+1 ≈ 11
    // rounds. This is the incremental-edit-lineage shape at corpus
    // scale (doc k a near-dup of doc k+1 only), and the empirical
    // proof of the O(log diameter) claim in the scaladoc.
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.closureKeepersCounted(chain)
    val keepers = labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers == (1L to 1000L).map(_ -> 1L).toMap)
    assert(rounds <= 12, s"expected ~log2(999)+1 rounds, took $rounds")
  }

  test("closure keepers: driver union-find and distributed loop agree") {
    // random-ish multi-component graph with redundant and reversed
    // edges: the sized dispatch takes the driver path (3k edges <<
    // DriverClosureMaxEdges); closureKeepersCounted forces the
    // distributed loop on the identical input — same labels required
    val rng = new scala.util.Random(42)
    val pairs = (1 to 3000).map { _ =>
      val a = rng.nextInt(800).toLong
      val b = a + 1 + rng.nextInt(5)
      if (rng.nextBoolean()) (a, b) else (b, a)
    }.toDF("doc_a", "doc_b")
    val viaDriver = Dedup.closureKeepers(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (viaLoop, _) = Dedup.closureKeepersCounted(pairs)
    assert(viaDriver === viaLoop.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("ngram jaccard: inverted index finds the near-dup, prunes the rest") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 37) "CHANGED" else s"tok$i")
      .mkString(" ")
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_ngram").toString
    docs((1L, base), (2L, nearDup), (3L, other))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.ngramJaccardOf(Tables.documents(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"expected exactly the planted pair, got ${out.toSeq}")
    assert(out.head._3 >= Dedup.JaccardPpmThreshold)
  }

  test("prefix-filter jaccard is lossless: catches the small-doc pair " +
      "MinShared drops and equals the brute-force answer") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 37) "CHANGED" else s"tok$i")
      .mkString(" ")
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    // 4 tokens -> 2 shingles: J = 1.0 but shared_ct = 2 < MinShared,
    // so the pruned inverted-index path misses it by contract
    val tinyA = "w x y z"
    val tinyB = "w x y z"
    val dir = java.nio.file.Files.createTempDirectory("graft_pfx").toString
    val d = docs((1L, base), (2L, nearDup), (3L, other),
      (4L, tinyA), (5L, tinyB))
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.ngramJaccardPrefix(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force: all pairs over exact shingle sets
    val sets = d.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      u = sets(a) union sets(b) if u.nonEmpty
      ppm = 1000000L * (sets(a) intersect sets(b)).size / u.size
      if ppm >= Dedup.JaccardPpmThreshold
    } yield (a, b) -> ppm).toMap
    assert(got === brute, s"prefix path must be exact; got $got vs $brute")
    assert(got.contains((4L, 5L)), "the tiny pair is the lossless evidence")
    val pruned = Dedup.ngramJaccardOf(Tables.documents(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pruned.contains((4L, 5L)),
      "fixture no longer demonstrates the MinShared miss")
  }

  test("prefix-filter jaccard at Sf: superset of the pruned path, " +
      "identical ppm on shared pairs, collapsed composes") {
    val pfx = Dedup.ngramJaccardPrefix(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val pruned = Dedup.ngramJaccardOf(Tables.documents(spark, Sf))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pruned.keySet.subsetOf(pfx.keySet),
      s"pruned found pairs prefix missed: ${pruned.keySet -- pfx.keySet}")
    pruned.keys.foreach(k => assert(pruned(k) == pfx(k), s"pair $k ppm"))
    assert(pfx.nonEmpty, "vacuous fixture")
    // collapsed variant: every rep pair appears in the plain output
    // with the identical score (reps carry their group's text)
    val coll = Dedup.ngramJaccardPrefixOf(Dedup.collapsedDocs(Tables.documents(spark, Sf)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    coll.foreach { case (k, v) =>
      assert(pfx.get(k).contains(v), s"collapsed pair $k not in plain") }
  }

  test("ngram jaccard and minhash-LSH agree on shared pairs") {
    // both verify with exact shingle Jaccard, so any pair emitted by
    // both candidate generators must carry the IDENTICAL ppm value
    val ng = Dedup.ngramJaccardOf(Tables.documents(spark, Sf))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lsh = Dedup.lshDuplicatesOf(Tables.documents(spark, Sf))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val shared = ng.keySet intersect lsh.keySet
    assert(shared.nonEmpty, "fixture should produce overlapping pairs")
    shared.foreach(k => assert(ng(k) == lsh(k), s"pair $k disagrees"))
  }

  test("simhash: identical token multisets share a hash; disjoint differ") {
    val d = docs((1L, "alpha beta gamma"), (2L, "gamma beta alpha"),
      (3L, "x1 y2 z3 w4 v5"))
    val out = Dedup.simhashOf(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L), "order-invariant")
    assert(out(1L) != out(3L), "distinct content should differ (w.h.p.)")
  }

  test("spanCoverage: cross-doc repeated spans cover, within-doc don't") {
    // docs 1 & 2 share the 3-gram "a b c" → positions 1-3 covered in
    // doc 1 (of 5 tokens) and 3-5 in doc 2 (of 5); doc 3's repeated
    // WITHIN-doc span must NOT count (distinct-doc test); doc 4 shares
    // nothing; doc 5 is too short for any span
    val d = docs(
      (1L, "a b c p q"), (2L, "x y a b c"),
      (3L, "m n o m n o m n o"), (4L, "t u v w"), (5L, "zz"))
    val out = Dedup.spanCoverageOf(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) === ((5L, 3L, 1000000L * 3 / 5)))
    assert(out(2L) === ((5L, 3L, 1000000L * 3 / 5)))
    assert(out(3L) === ((9L, 0L, 0L)), "within-doc repeats are not cross-doc")
    assert(out(4L) === ((4L, 0L, 0L)))
    assert(out(5L) === ((1L, 0L, 0L)), "short docs appear with zero coverage")
    // overlap counts once: docs 6/7 share two overlapping spans
    // "a b c" + "b c d" → doc 6 covers positions 1-4 of 4
    val d2 = docs((6L, "a b c d"), (7L, "a b c d z"))
    val out2 = Dedup.spanCoverageOf(d2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out2(6L) === 4L)
    // corpus smoke: signal exists at this sf (random soup repeats
    // SHORT spans across docs) and ppm is well-formed
    val corpus = Dedup.spanCoverageOf(Tables.documents(spark, Sf)).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "covered ≤ tokens")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000L)
    }
    assert(corpus.exists(_.getLong(2) > 0), "some cross-doc span fires")
  }

  test("incrementalDedup: verdicts on a crafted batch") {
    // ids chosen by their mod classes: 3, 24 → snapshot (24 also
    // re-crawled: 24%20=4); 7, 17, 37 → fresh batch (7 and 37 also
    // copied within the batch: both ≡ 7 mod 30); 17 carries the same
    // text as base 3
    val out = Dedup.incrementalDedupOf(docs(
      (3L, "base text one"), (24L, "base text two"),
      (7L, "fresh unique"), (17L, "base text one"), (37L, "fresh mirrored")))
      .as[(Long, String)].collect().toMap
    assert(out === Map(
      7L -> "kept",
      17L -> "dup_of_base",                               // text = base 3
      37L -> "kept",                                      // first copy wins
      (24L + Dedup.RecrawlIdOffset) -> "dup_of_base",
      (7L + Dedup.BatchDupIdOffset) -> "dup_in_batch",
      (37L + Dedup.BatchDupIdOffset) -> "dup_in_batch"))
  }

  test("incrementalDedup at Sf: batch accounting reconciles") {
    val d = graft.Tables.documents(spark, Sf)
    val fresh = d.filter(col("doc_id") % 10 === 7).count()
    val recrawl = d.filter(col("doc_id") % 10 =!= 7 &&
      col("doc_id") % 20 === 4).count()
    val mirrored = d.filter(col("doc_id") % 30 === 7).count()
    val out = Dedup.incrementalDedupOf(Tables.documents(spark, Sf)).cache()
    assert(out.count() === fresh + recrawl + mirrored)
    val byVerdict = out.groupBy("verdict").agg(count(lit(1)).as("ct"))
      .as[(String, Long)].collect().toMap
    // the corpus has no exact text dups, so every re-crawl is the only
    // base collision and every mirrored copy the only batch collision
    assert(byVerdict.getOrElse("dup_of_base", 0L) === recrawl)
    assert(byVerdict.getOrElse("dup_in_batch", 0L) === mirrored)
    assert(byVerdict.getOrElse("kept", 0L) === fresh)
  }
  test("clusterHist: histogram partitions the corpus exactly") {
    import spark.implicits._
    // synthetic labels: clusters {1}, {2,3}, {4,5,6}, {7}
    val labeled = Seq((1L,1L),(2L,2L),(3L,2L),(4L,4L),(5L,4L),(6L,4L),(7L,7L))
      .toDF("doc_id", "keeper")
    val hist = Dedup.clusterHistFrom(labeled)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(hist === Map(1L -> ((2L, 2L)), 2L -> ((1L, 2L)), 3L -> ((1L, 3L))))

    // at Sf: sizes partition the corpus (every doc in exactly one cluster)
    val docs = graft.Tables.documents(spark, Sf).count()
    val total = Dedup.clusterHist(spark, Sf)
      .agg(org.apache.spark.sql.functions.sum("n_docs")).as[Long].head()
    assert(total === docs)
  }
  test("containment dominates Jaccard on every shared pair") {
    import org.apache.spark.sql.functions._
    val cont = Dedup.containmentOf(Tables.documents(spark, Sf))
      .select(col("doc_a"), col("doc_b"), col("cont_ppm"), col("contained_doc"))
      .collect()
    assert(cont.nonEmpty)
    cont.foreach { r =>
      assert(r.getLong(2) >= Dedup.ContainmentPpmThreshold &&
        r.getLong(2) <= 1000000L)
      assert(r.getLong(3) === r.getLong(0) || r.getLong(3) === r.getLong(1))
    }
    // containment uses min-size in the denominator, Jaccard the union:
    // for any pair both report, cont_ppm >= jac_ppm
    val jac = Dedup.ngramJaccardOf(Tables.documents(spark, Sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val both = cont.flatMap(r =>
      jac.get((r.getLong(0), r.getLong(1))).map(j => (r.getLong(2), j)))
    assert(both.nonEmpty, "thresholds overlap on this corpus")
    both.foreach { case (c, j) => assert(c >= j) }
  }
  test("sortedNeighbor: adjacent-prefix dups found, agreement with LSH") {
    import spark.implicits._
    // two docs sharing the 32-char prefix sort adjacent and verify;
    // doc 9 carries NEAR-DUP CONTENT (one-word shift: J = 28/34 >
    // 0.8, so the Jaccard verify would PASS it) behind a
    // sort-last prefix, with enough spacer docs between that its
    // rank distance exceeds SnWindow — isolating the method's
    // documented blind spot: exclusion by BLOCKING, not by verify
    // (the LSH family covers this class)
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi " +
      "omega alef bet gimel dalet he vav"  // 30 tokens: J = 28/32 > 0.8
    val spacers = ('b' to 'g').zipWithIndex.map { case (c, i) =>
      (10L + i, (1 to 25).map(j => s"$c$c$j").mkString(" "))
    }
    val docs = (Seq(
      (1L, body + " one extra"),
      (2L, body + " two extra"),
      (9L, "zzshift " + body)) ++ spacers)  // near-dup behind 'z' prefix
      .toDF("doc_id", "text")
    val out = Dedup.sortedNeighborDupsOf(docs)
      .as[(Long, Long, Long)].collect()
    assert(out.exists(r => r._1 == 1L && r._2 == 2L),
      s"prefix-adjacent near-dup must be found: ${out.toSeq}")
    assert(!out.exists(r => r._2 == 9L || r._1 == 9L),
      "verify-passing dup beyond the window must be EXCLUDED BY " +
        "BLOCKING (rank distance > SnWindow) — the LSH family's job")

    // cross-family agreement at Sf: any pair BOTH blockers emit
    // carries the identical exact-Jaccard verdict
    val sn = Dedup.sortedNeighborDupsOf(Tables.documents(spark, Sf))
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val lsh = Dedup.lshDuplicatesOf(Tables.documents(spark, Sf))
      .select("doc_a", "doc_b", "jac_ppm")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val shared = sn.keySet intersect lsh.keySet
    assert(shared.nonEmpty, "the blockers overlap on this corpus")
    shared.foreach(k => assert(sn(k) === lsh(k),
      s"same pair, same exact Jaccard: $k"))
  }

  test("sortedNeighbor plan: rank-bucket EQUIJOIN window, no cartesian") {
    // the documented shape (Dedup.sortedNeighborDupsOf): the window
    // join is an equijoin on the rank bucket jb (2× probe fanout) —
    // never a non-equi nested loop — and the Jaccard verify attaches
    // shingle sets via doc-keyed equijoins. Forced-shuffle mode makes
    // the keys visible at smoke scale.
    withForcedShuffleJoins {
      val plan = Dedup.sortedNeighborDupsOf(Tables.documents(spark, Sf))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"window join must stay an equijoin:\n$plan")
      assert("hashpartitioning\\(jb".r.findFirstIn(plan).nonEmpty,
        s"window join must shuffle on the rank bucket jb:\n$plan")
      assert("hashpartitioning\\(doc_a".r.findFirstIn(plan).nonEmpty,
        s"verify joins key on the candidate doc ids:\n$plan")
    }
  }
}
