package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  test("repetition: hand-computed gram fractions (full Gopher set)") {
    // doc 1 "a b a b": bigrams [a b, b a, a b] -> total 3, distinct 2, top 2
    //                  trigrams [a b a, b a b] -> total 2, distinct 2, top 1
    //                  4-grams [a b a b] -> total 1, top 1
    // doc 4: the 5-gram "x1..x5" occurs twice (positions 0-4 and 6-10);
    //        covered = 10 of 11 tokens (z uncovered), chars 20 of 21
    val docs = Seq(
      (1L, "a b a b"), (2L, "x"), (3L, "p q r"),
      (4L, "x1 x2 x3 x4 x5 z x1 x2 x3 x4 x5")
    ).toDF("doc_id", "text")
    val out = CorpusOps.repetitionOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_bigrams") === 3L)
    assert(r1.getAs[Long]("top_bigram_ct") === 2L)
    assert(r1.getAs[Long]("top_bigram_ppm") === 1000000L * 2 / 3)
    assert(r1.getAs[Long]("top3_ppm") === 1000000L * 1 / 2)
    assert(r1.getAs[Long]("top4_ppm") === 1000000L)
    assert(r1.getAs[Long]("dup2_ppm") === 1000000L * 1 / 3) // 3 - 2 distinct
    assert(r1.getAs[Long]("dup3_ppm") === 0L)               // 2 - 2
    assert((5 to 10).forall(n =>                            // < 5 tokens
      r1.getAs[Long](s"dup${n}_char_ppm") === 0L))
    val r2 = out(2L)                          // single token: no grams
    assert((1 until r2.length).forall(i => r2.getLong(i) === 0L))
    val r3 = out(3L)                          // all grams unique
    assert(r3.getAs[Long]("n_bigrams") === 2L)
    assert(r3.getAs[Long]("dup2_ppm") === 0L)
    val r4 = out(4L)
    assert(r4.getAs[Long]("dup5_char_ppm") === 1000000L * 20 / 21)
    // 6-grams and wider all occur once -> 0
    assert((6 to 10).forall(n => r4.getAs[Long](s"dup${n}_char_ppm") === 0L))
    // top bigram "x1 x2" (and others) occur twice of 10 bigrams
    assert(r4.getAs[Long]("top_bigram_ppm") === 1000000L * 2 / 10)
    // NOTE coverage: the shipped fixtures contain no duplicated 5-grams
    // (dup5..dup10 are all-zero corpus-wide), so the nonzero cover-array
    // path lives on these synthetic docs — doc 5 exercises the widest
    // window: "w1..w10 z w1..w10" repeats its 10-gram (and every sub-gram),
    // so EVERY dup-n column 5..10 covers 20 of 21 tokens = 42 of 43 chars
    // (w1..w9 are 2 chars, w10 is 3, z is 1)
    val docs5 = Seq((5L,
      ((1 to 10).map(i => s"w$i") ++ Seq("z") ++ (1 to 10).map(i => s"w$i"))
        .mkString(" "))).toDF("doc_id", "text")
    val r5 = CorpusOps.repetitionOf(docs5).collect().head
    (5 to 10).foreach { n =>
      assert(r5.getAs[Long](s"dup${n}_char_ppm") === 1000000L * 42 / 43,
        s"dup$n on the repeated 10-gram doc")
    }
  }

  test("typed passes tolerate null text like the Column forms did") {
    val docs = Seq((1L, "a b a b c"), (2L, null: String))
      .toDF("doc_id", "text")
    // repetition: null text -> all-zero signal row
    val rep = CorpusOps.repetitionOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert((1 until rep(2L).length).forall(i => rep(2L).getLong(i) === 0L))
    // simhash: null text has no tokens -> doc absent (explode-form parity)
    assert(Dedup.simhashOf(docs).collect().map(_.getLong(0)).toSeq === Seq(1L))
    // fingerprint: null text -> all-null row (oracle md5(NULL) parity)
    val fp = TextAnalysis.fingerprintOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(fp(2L).isNullAt(1) && fp(2L).isNullAt(2) && fp(2L).isNullAt(3))
  }

  test("hash split: deterministic, in-range, boundaries respected") {
    val out = CorpusOps.hashSplit(spark, Sf)
    val rows = out.select("bucket", "split").as[(Long, String)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (b, _) => b >= 0 && b < 100 })
    assert(rows.forall {
      case (b, s) => s === (if (b < CorpusOps.TrainUpper) "train"
        else if (b < CorpusOps.ValidUpper) "valid" else "test")
    })
    // rerun is bit-identical (pure projection of doc_id)
    val again = CorpusOps.hashSplit(spark, Sf).select("bucket", "split")
      .as[(Long, String)].collect()
    assert(rows.sorted.sameElements(again.sorted))
  }

  test("packing: next-fit by running token offset, per-lang restart") {
    val out = CorpusOps.packingOf(Tables.documents(spark, Sf))
      .select("lang", "doc_id", "n_tokens", "cum_tokens", "pack_id", "pack_offset")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(out.nonEmpty)
    out.foreach { case (_, rows) =>
      var cum = 0L
      rows.foreach { case (_, _, n, c, pid, off) =>
        assert(c === cum + n)            // running sum restarts per lang
        assert(pid === cum / CorpusOps.PackCapacity)
        assert(off === cum % CorpusOps.PackCapacity)
        cum = c
      }
    }
    // pack ids are dense from 0 within each lang
    out.foreach { case (_, rows) =>
      val pids = rows.map(_._5)
      assert(pids.head === 0L)
      assert(pids.zip(pids.tail).forall { case (a, b) => b == a || b == a + 1 || b > a })
    }
  }

  test("packingSharded: per-shard streams equal the sequential form") {
    val docs = graft.Tables.documents(spark, Sf)
    val sharded = CorpusOps.packingShardedOf(docs)
      .select("shard", "lang", "doc_id", "n_tokens", "cum_tokens",
        "pack_id", "pack_offset")
      .as[(Long, String, Long, Long, Long, Long, Long)].collect()
    assert(sharded.nonEmpty)
    assert(sharded.forall(r => r._1 >= 0 && r._1 < CorpusOps.PackShards))
    assert(sharded.map(_._1).distinct.length > 1, "shards actually split")
    // every shard's pack stream is exactly the sequential operator run
    // on that shard's documents alone (shard-local totals property)
    sharded.groupBy(_._1).foreach { case (_, rows) =>
      val ids = rows.map(_._3).toSet
      val seq = CorpusOps.packingOf(docs.filter(col("doc_id").isInCollection(ids)))
        .select("lang", "doc_id", "n_tokens", "cum_tokens", "pack_id",
          "pack_offset")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      assert(rows.map(r => (r._2, r._3, r._4, r._5, r._6, r._7)).toSet === seq)
    }
  }

  test("packPayload: ordered concat + fill + offsets per (lang, shard, pack)") {
    val docs = graft.Tables.documents(spark, Sf)
    val assign = CorpusOps.packingShardedOf(docs)
      .select("lang", "shard", "pack_id", "doc_id", "n_tokens", "pack_offset")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val normText = docs.select(col("doc_id"),
        array_join(graft.func.Tokenizer.tokens(col("text")), " "))
      .as[(Long, String)].collect().toMap
    val frame = CorpusOps.packPayloadOf(docs)
    val out = frame
      .select("lang", "shard", "pack_id", "doc_ct", "fill_tokens",
        "payload", "doc_offsets")
      .as[(String, Long, Long, Long, Long, String, String)].collect()
      .map(r => (r._1, r._2, r._3) -> r).toMap
    // every assigned pack materializes exactly once, with the pack's
    // docs concatenated in doc_id order, fill = sum of token counts,
    // and doc boundaries = the assignment's pack offsets in the same order
    val expected = assign.groupBy(r => (r._1, r._2, r._3))
    assert(out.keySet === expected.keySet)
    expected.foreach { case (k, rows) =>
      val r = out(k)
      val inOrder = rows.sortBy(_._4)
      assert(r._4 === rows.length, s"$k doc_ct")
      assert(r._5 === rows.map(_._5).sum, s"$k fill_tokens")
      assert(r._6 === inOrder.map(x => normText(x._4)).mkString(" "),
        s"$k payload")
      assert(r._7 === inOrder.map(_._6).mkString(","), s"$k doc_offsets")
    }
    // non-straddle packs fill to at most capacity + one straddling doc
    assert(out.values.exists(_._5 >= CorpusOps.PackCapacity),
      "at least one full pack at this sf")
    // the pack aggregate must REUSE the window's (lang, shard)
    // partitioning — (lang, shard) ⊆ (lang, shard, pack_id), so a
    // second exchange would be pure waste at corpus scale
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(frame.queryExecution.executedPlan.toString).length
    assert(exchanges === 1, "window shuffle only — groupBy co-partitioned")
  }

  test("approx quality quantiles: same shape, rank-accurate vs exact") {
    val docs = graft.Tables.documents(spark, Sf)
    val approx = CorpusOps.qualityQuantilesApproxOf(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = CorpusOps.qualityQuantilesOf(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(approx.keySet === exact.keySet)
    assert(approx.values.head.schema.fieldNames.toSeq ===
      Seq("lang", "n_docs", "q25", "q50", "q75", "q90"))
    val scoreable =
      docs.filter(size(graft.func.Tokenizer.tokens(col("text"))) > 0)
    val scores = TextAnalysis.qualityOf(scoreable)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select("lang", "quality_ppm").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    approx.foreach { case (lang, row) =>
      assert(row.getLong(1) === exact(lang).getLong(1), "n_docs identical")
      val s = scores(lang)
      val n = s.length
      CorpusOps.QuantilePoints.zipWithIndex.foreach { case (p, i) =>
        val v = row.getLong(2 + i)
        assert(s.contains(v), s"$lang q$p=$v is not an observed score")
        // rank error bound: n/accuracy, plus 1 for the rank convention
        val target = (n * p + 99) / 100
        val lo = s.indexOf(v) + 1
        val hi = s.lastIndexOf(v) + 1
        val tol = 1L + n / CorpusOps.ApproxAccuracy
        assert(target >= lo - tol && target <= hi + tol,
          s"$lang q$p=$v occupies ranks [$lo,$hi], target $target of $n")
      }
    }
  }

  test("topQuality: k best per lang, plan uses WindowGroupLimit") {
    val out = CorpusOps.topQuality(spark, Sf)
    val rows = out.select("lang", "doc_id", "quality_ppm", "rk")
      .as[(String, Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, perLang) =>
      assert(perLang.length <= CorpusOps.TopKPerLang)
      // ranks dense from 1; scores non-increasing along ranks
      val byRank = perLang.sortBy(_._4)
      assert(byRank.map(_._4).toSeq === (1 to perLang.length))
      assert(byRank.map(_._3).toSeq === byRank.map(_._3).sorted(Ordering[Long].reverse))
    }
    // the rank-limit form must compile to per-partition top-k
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "expected WindowGroupLimit in the physical plan")
  }

  test("contamination: only test docs reported, counts consistent") {
    val out = CorpusOps.contamination(spark, Sf)
    val rows = out.select("doc_id", "shared_ct", "contaminated")
      .as[(Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    val testIds = CorpusOps.hashSplit(spark, Sf)
      .filter(col("split") === "test").select("doc_id").as[Long].collect().toSet
    assert(rows.map(_._1).toSet === testIds)
    rows.foreach { case (_, ct, flag) =>
      assert(ct >= 0)
      assert(flag === (if (ct >= CorpusOps.ContaminationMinShared) 1 else 0))
    }
  }

  test("mixture sampling: deterministic, bucket-consistent, rate-true") {
    val rows = CorpusOps.mixtureSampleOf(Tables.documents(spark, Sf))
      .select("lang", "mix_bucket", "rate_ppm", "sampled")
      .as[(String, Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    val rates = CorpusOps.MixRates.toMap
    rows.foreach { case (lang, b, r, s) =>
      assert(b >= 0 && b < 1000000L)
      assert(r === rates.getOrElse(lang, CorpusOps.MixDefaultPpm))
      assert(s === (if (b < r) 1 else 0))
    }
    // realized rate tracks the configured ppm (binomial tolerance on
    // the small per-lang doc counts at this sf)
    rows.groupBy(_._1).foreach { case (lang, perLang) =>
      val realized = perLang.count(_._4 == 1).toDouble / perLang.length
      val configured = rates(lang) / 1e6
      assert(math.abs(realized - configured) < 0.2,
        s"$lang realized $realized vs configured $configured")
    }
    // rerun is bit-identical (pure projection of doc_id)
    val again = CorpusOps.mixtureSampleOf(Tables.documents(spark, Sf))
      .select("lang", "mix_bucket", "rate_ppm", "sampled")
      .as[(String, Long, Long, Int)].collect()
    assert(rows.sorted.sameElements(again.sorted))
  }

  test("stratified mixture: cascade rates, same dice as lang-only form") {
    val rows = CorpusOps.mixtureSampleStratifiedOf(Tables.documents(spark, Sf))
      .select("doc_id", "lang", "source", "mix_bucket", "rate_ppm", "sampled")
      .as[(Long, String, String, Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    val stratum = CorpusOps.MixStratumRates.toMap
    val langs = CorpusOps.MixRates.toMap
    rows.foreach { case (_, l, s, b, r, smp) =>
      val expected = stratum.getOrElse((l, s),
        langs.getOrElse(l, CorpusOps.MixDefaultPpm))
      assert(r === expected, s"cascade rate for ($l, $s)")
      assert(smp === (if (b < r) 1 else 0))
    }
    // at least one overridden stratum exists in the corpus
    assert(rows.exists(r => stratum.contains((r._2, r._3))))
    // identical salted bucket as the lang-only form: re-tuning weights
    // never re-rolls the dice, so non-overridden strata agree exactly
    val langOnly = CorpusOps.mixtureSampleOf(Tables.documents(spark, Sf))
      .select("doc_id", "mix_bucket", "sampled")
      .as[(Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    rows.foreach { case (id, l, s, b, _, smp) =>
      assert(langOnly(id)._1 === b, s"bucket drift for doc $id")
      if (!stratum.contains((l, s)))
        assert(langOnly(id)._2 === smp, s"verdict drift for doc $id")
    }
  }

  test("corpus report: volumes and mean quality per stratum") {
    val docs = graft.Tables.documents(spark, Sf)
    val out = CorpusOps.corpusReport(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val base = docs.select("doc_id", "lang", "source", "n_chars")
      .as[(Long, String, String, Long)].collect()
    val quality = TextAnalysis.qualityOf(
        docs.filter(size(graft.func.Tokenizer.tokens(col("text"))) > 0))
      .select("doc_id", "n_tokens", "quality_ppm")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val grouped = base.groupBy(r => (r._2, r._3))
    assert(out.keySet == grouped.keySet)
    grouped.foreach { case (k, rows) =>
      val r = out(k)
      val qs = rows.flatMap(x => quality.get(x._1))
      assert(r.getLong(2) === rows.length)          // doc_ct
      assert(r.getLong(3) === qs.length)            // scoreable_ct
      assert(r.getLong(4) === qs.map(_._1).sum)     // token_sum
      assert(r.getLong(5) === rows.map(_._4).sum)   // char_sum
      if (qs.nonEmpty) assert(r.getLong(6) === qs.map(_._2).sum / qs.length)
      else assert(r.isNullAt(6), "no scoreable docs -> NULL mean")
    }
  }

  test("vocab report: df-ranked top terms per lang, WindowGroupLimit plan") {
    val out = CorpusOps.vocabReport(spark, Sf)
    val rows = out.select("lang", "token", "df", "rk")
      .as[(String, String, Long, Int)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, perLang) =>
      assert(perLang.length <= CorpusOps.VocabTopK)
      val byRank = perLang.sortBy(_._4)
      assert(byRank.map(_._4).toSeq === (1 to perLang.length))
      assert(byRank.map(_._3).toSeq ===
        byRank.map(_._3).sorted(Ordering[Long].reverse), s"$lang df desc")
    }
    // df is DOCUMENT frequency: per-doc distinct first, so df ≤ doc count
    val docCt = graft.Tables.documents(spark, Sf)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    rows.foreach { case (lang, _, df, _) => assert(df <= docCt(lang)) }
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("chunking: sliding windows cover every token with stride overlap") {
    val size = CorpusOps.ChunkSize
    val stride = CorpusOps.ChunkStride
    val toks33 = (1 to 33).map(i => s"w$i")
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // single short chunk
      (2L, toks33.mkString(" ")),                     // straddles one stride
      (3L, "")                                        // zero tokens: no rows
    ).toDF("doc_id", "text")
    val out = CorpusOps.chunkOf(docs)
      .select("doc_id", "chunk_id", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(!out.contains(3L))
    assert(out(1L).map(r => (r._2, r._3)) === Seq((0L, 10L)))
    assert(out(1L).head._4 === (1 to 10).map(i => s"t$i").mkString(" "))
    assert(out(2L).map(r => (r._2, r._3)) === Seq((0L, size.toLong), (1L, 33L - stride)))
    assert(out(2L)(0)._4 === toks33.take(size).mkString(" "))
    assert(out(2L)(1)._4 === toks33.drop(stride).mkString(" "))
    // real corpus: every token position covered, overlaps consistent
    CorpusOps.chunkOf(Tables.documents(spark, Sf)).select("doc_id", "chunk_id", "n_chunk_tokens")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).foreach { case (_, chunks) =>
        val sorted = chunks.sortBy(_._2)
        assert(sorted.map(_._2) === (0L until sorted.length).toSeq)
        sorted.init.foreach(c => assert(c._3 === size.toLong))
        assert(sorted.last._3 > 0 && sorted.last._3 <= size)
      }
  }

  test("shardExport: read-back manifest equals the in-memory payloads") {
    val manifest = CorpusOps.shardExport(spark, Sf)
      .select("lang", "shard", "pack_ct", "token_sum", "payload_chars")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val payloads = CorpusOps.packPayloadOf(graft.Tables.documents(spark, Sf))
      .select("lang", "shard", "fill_tokens", "payload")
      .as[(String, Long, Long, String)].collect()
    val expected = payloads.groupBy(p => (p._1, p._2)).view.mapValues(ps =>
      (ps.length.toLong, ps.map(_._3).sum, ps.map(_._4.length.toLong).sum))
      .toMap
    assert(manifest === expected)
    // overwrite-idempotent: re-export re-writes the SAME directory
    val again = CorpusOps.shardExport(spark, Sf)
      .select("lang", "shard", "pack_ct", "token_sum", "payload_chars")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(again === manifest)
  }

  test("shardExport layout prunes partitions on a (lang, shard) read") {
    CorpusOps.shardExport(spark, Sf).collect() // ensure exported
    // the SAME key derivation as the operator (the sixth hand copy of
    // it is what the r15 hoist removed — and what broke this test
    // when the shared copy changed separators)
    val path = graft.func.TempDirs.cachedFor("graft_llm_shard_export", Sf)
    val q = spark.read.parquet(path)
      .filter(col("lang") === "en" && col("shard") === 3L)
    // the WHOLE POINT of the partitionBy layout: a dimension-filtered
    // consumer must read one directory, not scan-and-discard — the
    // predicate lands in PartitionFilters, not the post-scan Filter
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"),
      s"lang/shard filter must prune partitions:\n$scan")
    assert(!scan.contains("PushedFilters: [IsNotNull(lang"),
      "partition columns must not degrade to data filters")
    assert(q.count() > 0, "pruned read still sees the en/3 slice")
  }

  test("curationPipeline: report equals the stage-by-stage recompute") {
    val out = CorpusOps.curationPipeline(spark, Sf)
      .select("split", "lang", "doc_ct", "token_sum")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out.nonEmpty)
    // recompute the chain from the individual operators' outputs
    val keptIds = Dedup.keepList(spark, Sf)
      .filter(col("kept") === 1).select("doc_id").as[Long].collect().toSet
    val sampledIds = CorpusOps.mixtureSampleOf(Tables.documents(spark, Sf))
      .filter(col("sampled") === 1).select("doc_id").as[Long].collect().toSet
    val split = CorpusOps.hashSplit(spark, Sf)
      .select("doc_id", "lang", "split")
      .as[(Long, String, String)].collect()
    val toks = graft.Tables.documents(spark, Sf)
      .select(col("doc_id"),
        size(graft.func.Tokenizer.tokens(col("text"))).cast("long"))
      .as[(Long, Long)].collect().toMap
    val expected = split
      .filter(r => keptIds(r._1) && sampledIds(r._1))
      .groupBy(r => (r._3, r._2)).view
      .mapValues(rs => (rs.length.toLong, rs.map(r => toks(r._1)).sum)).toMap
    assert(out === expected)
    // the pipeline actually filters: survivors < corpus
    assert(out.values.map(_._1).sum < split.length)
  }

  test("chunkThenPack: composition equals packing run on the chunk set") {
    val docs = graft.Tables.documents(spark, Sf)
    val out = CorpusOps.chunkThenPack(spark, Sf)
      .select("doc_id", "lang", "shard", "n_tokens", "cum_tokens",
        "pack_id", "pack_offset")
      .as[(Long, String, Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // pseudo-keys decompose back to valid (doc, chunk) pairs
    val chunks = CorpusOps.chunkOf(docs)
      .select("doc_id", "chunk_id", "n_chunk_tokens")
      .as[(Long, Long, Long)].collect()
      .map(c => (c._1 * CorpusOps.ChunkKeySpan + c._2) -> c._3).toMap
    assert(chunks.keySet === out.map(_._1).toSet,
      "one packed row per chunk, keyed doc_id*span + chunk_id")
    out.foreach { case (id, _, _, n, _, _, _) =>
      assert(n === chunks(id), s"pseudo-doc $id token count")
    }
    // span guard: the key encoding never collides at this corpus shape
    assert(CorpusOps.chunkOf(docs).agg(max("chunk_id")).as[Long].head()
      < CorpusOps.ChunkKeySpan)
    // every pack is filled by construction: pack_offset < capacity and
    // shard-local running sums restart per (lang, shard)
    out.groupBy(r => (r._2, r._3)).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (_, _, _, n, c, pid, off) =>
        assert(c === cum + n)
        assert(pid === cum / CorpusOps.PackCapacity)
        assert(off === cum % CorpusOps.PackCapacity)
        cum = c
      }
    }
  }

  test("mixture/chunk scans are pruned to exactly the consumed columns") {
    // column pruning must reach the parquet scan: a curation pass that
    // drags `text` (or the full row) through a projection-only operator
    // reads the whole corpus body for nothing at 100 TB
    val mixPlan = CorpusOps.mixtureSampleOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(mixPlan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"mixtureSample should scan only (doc_id, lang):\n$mixPlan")
    val chunkPlan = CorpusOps.chunkOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(chunkPlan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"chunk should scan only (doc_id, text):\n$chunkPlan")
    // funnel's typed pass: exactly (doc_id, lang, text), never the
    // full row (source/n_chars would ride the deserializer for nothing)
    val funnelPlan = CorpusOps.filterFunnelOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(funnelPlan.contains(
      "ReadSchema: struct<doc_id:bigint,text:string,lang:string>") ||
      funnelPlan.contains(
        "ReadSchema: struct<doc_id:bigint,lang:string,text:string>"),
      s"filterFunnel should scan only (doc_id, lang, text):\n$funnelPlan")
    // temperature mixture: the doc-side scan must NOT read text (only
    // the rate side tokenizes); both scans stay pruned
    val tempPlan = CorpusOps.mixtureTemperatureOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(tempPlan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"mixtureTemperature doc side should scan only (doc_id, lang):\n$tempPlan")
    assert(tempPlan.contains("ReadSchema: struct<text:string,lang:string>") ||
      tempPlan.contains("ReadSchema: struct<lang:string,text:string>"),
      s"mixtureTemperature rate side should scan only (lang, text):\n$tempPlan")
  }

  test("contamination bloom forms are bit-identical to the exact form") {
    // no false negatives (bloom) + exact verify join (false positives
    // removed) ⇒ the semijoin reduction must not change a single row,
    // whether the filter is one bloom or one per shingle-hash bucket
    val exact = CorpusOps.contamination(spark, Sf)
      .as[(Long, Long, Int)].collect().toSet
    val bloom = CorpusOps.contaminationBloom(spark, Sf)
      .as[(Long, Long, Int)].collect().toSet
    assert(bloom == exact)
    val sharded = CorpusOps.contaminationBloomSharded(spark, Sf)
      .as[(Long, Long, Int)].collect().toSet
    assert(sharded == exact)
  }

  test("quality quantiles: operator output equals hand-ranked values") {
    // single lang, 4 scoreable docs + 1 zero-token doc (excluded).
    // ceil(p*4/100): q25 -> rank 1, q50 -> 2, q75 -> 3, q90 -> 4.
    val docs = Seq(
      (1L, "the of and to in is on for the a", "en"),   // all stopwords
      (2L, "zz yy xx ww vv uu tt ss rr qq", "en"),      // none
      (3L, "the the the zz yy xx ww vv uu tt", "en"),
      (4L, "aaaa bbbb cccc dddd the of and to in is", "en"),
      (5L, "!!! ...", "en")                             // zero tokens
    ).toDF("doc_id", "text", "lang")
    val scored = TextAnalysis.qualityOf(docs.filter(col("doc_id") <= 4))
      .select("quality_ppm").as[Long].collect().sorted
    val out = CorpusOps.qualityQuantilesOf(docs).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "en")
    assert(r.getLong(1) === 4L) // zero-token doc excluded from n_docs
    assert((2 to 5).map(r.getLong) === scored.toSeq) // q25..q90 = ranks 1..4
    // the real corpus: shape + per-lang monotonicity
    val corpus = CorpusOps.qualityQuantilesOf(Tables.documents(spark, Sf))
    assert(corpus.columns.toSeq === Seq("lang", "n_docs", "q25", "q50", "q75", "q90"))
    corpus.collect().foreach { row =>
      val qs = (2 to 5).map(row.getLong)
      assert(qs === qs.sorted, s"non-monotone quantiles in ${row}")
    }
  }

  test("mixtureTemperature: sqrt rates, same dice, realized mass flattens") {
    val out = CorpusOps.mixtureTemperatureOf(Tables.documents(spark, Sf))
    val rates = out.select("lang", "lang_tokens", "rate_ppm")
      .distinct().as[(String, Long, Long)].collect()
      .map { case (l, t, r) => l -> ((t, r)) }.toMap
    assert(rates.nonEmpty)
    val minTok = rates.values.map(_._1).min
    rates.foreach { case (l, (t, r)) =>
      // the α = 1/2 rate formula, recomputed independently
      assert(r === math.floor(
        1000000d * math.sqrt(minTok.toDouble / t.toDouble)).toLong,
        s"rate for $l")
    }
    // the scarcest language keeps everything; bigger langs keep less
    assert(rates.values.map(_._2).max === 1000000L)
    assert(rates.toSeq.sortBy(_._2._1).map(_._2._2).reverse ===
      rates.toSeq.sortBy(_._2._1).map(_._2._2).sorted)
    // SAME dice as the static mixture: identical buckets per doc
    val dice = CorpusOps.mixtureSampleOf(Tables.documents(spark, Sf))
      .select("doc_id", "mix_bucket").as[(Long, Long)].collect().toMap
    out.select("doc_id", "mix_bucket").as[(Long, Long)].collect()
      .foreach { case (d, b) => assert(dice(d) === b, s"doc $d bucket") }
    // temperature flattens the distribution: the dominant language's
    // sampled token share shrinks vs its raw share
    val docs = graft.Tables.documents(spark, Sf)
    val toks = docs.select(col("doc_id"),
      size(graft.func.Tokenizer.tokens(col("text"))).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val kept = out.filter(col("sampled") === 1)
      .select("doc_id", "lang").as[(Long, String)].collect()
    val keptByLang = kept.groupBy(_._2).view
      .mapValues(_.map(r => toks(r._1)).sum).toMap
    val rawTop = rates.maxBy(_._2._1)
    val rawShare = rawTop._2._1.toDouble / rates.values.map(_._1).sum
    val keptShare =
      keptByLang(rawTop._1).toDouble / keptByLang.values.sum
    assert(keptShare < rawShare,
      s"dominant ${rawTop._1}: kept share $keptShare vs raw $rawShare")
  }

  test("filterFunnel: null text counts as zero tokens (oracle coalesces to match)") {
    // a real corpus WILL carry null payloads; the typed path maps them
    // to zero tokens (tokensOf contract) and the oracle pre-coalesces
    // text so len(toks) is 0, not NULL-skipped in the sums
    val docs = Seq((1L, "en", null.asInstanceOf[String]),
      (2L, "en", "the cat and the dog of it is fine " * 4))
      .toDF("doc_id", "lang", "text")
    val Array(row) = CorpusOps.filterFunnelOf(docs)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(row._2 === 2L, "null-text doc is counted")
    assert(row._3 >= 1L, "null-text doc fails the length floor")
  }

  test("filterFunnel: per-rule counts equal a driver-side recompute") {
    val out = CorpusOps.filterFunnelOf(Tables.documents(spark, Sf))
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // independent recompute from the raw docs, same tokenizer contract
    val docs = graft.Tables.documents(spark, Sf)
      .select("doc_id", "lang", "text").as[(Long, String, String)].collect()
    val stop = TextAnalysis.Stopwords.toSet
    val markers = TextAnalysis.Markers.map { case (l, w) => (l, w.toSet) }
    val expected = docs.groupBy(_._2).map { case (lang, rows) =>
      var fl = 0L; var fs = 0L; var ft = 0L; var fd = 0L; var fg = 0L
      var pass = 0L; var keptT = 0L
      rows.foreach { case (_, l, text) =>
        val t = Dedup.tokensOf(text)
        val n = t.length.toLong
        val ns = t.count(stop).toLong
        val hits = markers.map { case (m, ws) => (m, t.count(ws).toLong) }
        val mx = hits.map(_._2).max
        val pred = if (mx == 0) "und" else hits.find(_._2 == mx).get._1
        val bigrams = t.sliding(2).filter(_.length == 2)
          .map(_.mkString(" ")).toSeq
        val counts = bigrams.groupBy(identity).view.mapValues(_.size).toMap
        val total2 = bigrams.size.toLong
        def ppm(a: Long, b: Long) = if (b > 0) 1000000L * a / b else 0L
        val topPpm =
          ppm(if (counts.isEmpty) 0L else counts.values.max.toLong, total2)
        val dupPpm = ppm(total2 - counts.size.toLong, total2)
        val fails = Seq(
          n < CorpusOps.FunnelMinTokens || n > CorpusOps.FunnelMaxTokens,
          ns < CorpusOps.FunnelMinStopHits,
          topPpm > CorpusOps.FunnelTopBigramPpm,
          dupPpm > CorpusOps.FunnelDupBigramPpm,
          pred != l)
        fl += (if (fails(0)) 1 else 0); fs += (if (fails(1)) 1 else 0)
        ft += (if (fails(2)) 1 else 0); fd += (if (fails(3)) 1 else 0)
        fg += (if (fails(4)) 1 else 0)
        if (!fails.exists(identity)) { pass += 1; keptT += n }
      }
      lang -> ((lang, rows.length.toLong, fl, fs, ft, fd, fg, pass, keptT))
    }
    assert(out === expected)
    // the funnel bites at this corpus shape: some rejects, some pass
    assert(out.values.map(_._8).sum > 0, "nothing passes — thresholds wrong")
    assert(out.values.exists(r => r._3 + r._4 + r._5 + r._6 + r._7 > 0),
      "nothing rejected — funnel is vacuous")
  }

  test("chunkPseudoKey: in-range encodes, out-of-range fails the job") {
    val key = CorpusOps.chunkPseudoKey(col("d"), col("c"))
    val maxDoc = (Long.MaxValue - (CorpusOps.ChunkKeySpan - 1)) /
      CorpusOps.ChunkKeySpan
    val ok = Seq((0L, 0L), (7L, 42L), (maxDoc, CorpusOps.ChunkKeySpan - 1))
      .toDF("d", "c").select(key).as[Long].collect()
    assert(ok === Array(0L, 7L * CorpusOps.ChunkKeySpan + 42L,
      maxDoc * CorpusOps.ChunkKeySpan + CorpusOps.ChunkKeySpan - 1))
    // each violation class raises instead of silently wrapping/colliding
    Seq((1L, CorpusOps.ChunkKeySpan), (maxDoc + 1, 0L), (-1L, 0L))
      .foreach { case (d, c) =>
        val e = intercept[Exception] {
          Seq((d, c)).toDF("d", "c").select(key).collect()
        }
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x =>
            Option(x.getMessage).toSeq ++ msgs(x.getCause))
        assert(msgs(e).exists(_.contains("pseudo-key out of range")),
          s"($d, $c) must raise the guard error")
      }
  }
}
