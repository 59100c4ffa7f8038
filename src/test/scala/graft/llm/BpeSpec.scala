package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Reference BATCHED BPE on driver: word → symbol list; per round,
    * rank pairs by (freq desc, pair asc), keep the locally-dominant
    * ones within the top-[[Bpe.CandCap]] (no higher-ranked pair shares
    * a symbol or has a merged-token/element collision), cap at
    * [[Bpe.BatchCap]], and apply each with a greedy left-to-right
    * scan (batch pairs are non-interacting, so per-pattern scans in
    * any order equal the engine's leftmost-of-any splices). */
  private def referenceBpe(wordCounts: Map[String, Long])
      : (Seq[(String, Long)], Map[String, Long]) = {
    var seg: Map[String, (Vector[String], Long)] = wordCounts.map {
      case (w, n) => w -> ((w.map(_.toString).toVector :+ Bpe.Eow, n))
    }
    def mergeRun(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    case class C(pair: String, freq: Long, a: String, b: String) {
      val m = a + b
    }
    def before(q: C, c: C) =
      q.freq > c.freq || (q.freq == c.freq && q.pair < c.pair)
    def inter(q: C, c: C) =
      q.a == c.a || q.a == c.b || q.b == c.a || q.b == c.b ||
        q.m == c.a || q.m == c.b || c.m == q.a || c.m == q.b
    val all = Seq.newBuilder[(String, Long)]
    (1 to Bpe.MergeRounds).foreach { _ =>
      val counts = collection.mutable.Map.empty[(String, String), Long]
      seg.values.foreach { case (syms, n) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + n
          case _ =>
        }
      }
      val cands = counts.toSeq
        .map { case ((a, b), f) => C(s"$a $b", f, a, b) }
        .sortBy(c => (-c.freq, c.pair)).take(Bpe.CandCap)
      val batch = cands
        .filter(c => !cands.exists(q =>
          q.pair != c.pair && before(q, c) && inter(q, c)))
        .take(Bpe.BatchCap)
      batch.foreach { c =>
        seg = seg.map { case (w, (syms, n)) => w -> ((mergeRun(syms, c.a, c.b), n)) }
      }
      all ++= batch.map(c => (c.pair, c.freq))
    }
    val vocab = collection.mutable.Map.empty[String, Long]
    seg.values.foreach { case (syms, n) =>
      syms.foreach(s => vocab(s) = vocab.getOrElse(s, 0L) + n)
    }
    (all.result(), vocab.toMap)
  }

  test("bpe: classic low/lower/newest fixture matches the reference loop") {
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower"),
      (3L, "newest newest newest newest newest newest"),
      (4L, "widest widest widest")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("bpe_docs")
    val wordCounts = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val (expMerges, expVocab) = referenceBpe(wordCounts)

    // run the same derivation that merges()/vocab() use, on this frame
    val (gotMerges, segDf) = Bpe.learn(docs)
    assert(gotMerges === expMerges)
    val gotVocab = segDf.withColumn("a", split(trim(col("syms")), " "))
      .select(col("n"), explode(col("a")).as("symbol"))
      .groupBy("symbol").agg(sum(col("n")).as("freq"))
      .as[(String, Long)].collect().toMap
    assert(gotVocab === expVocab)
  }

  test("bpe at Sf: merges and vocab agree with the driver reference") {
    val wordCounts = graft.Tables.documents(spark, Sf)
      .select(explode(graft.func.Tokenizer.tokens(col("text"))).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val (expMerges, expVocab) = referenceBpe(wordCounts)
    val gotMerges = Bpe.merges(spark, Sf)
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(gotMerges.map(m => (m._2, m._3)) === expMerges)
    assert(gotMerges.map(_._1) === (1 to gotMerges.length).toSeq)
    val gotVocab = Bpe.vocab(spark, Sf).as[(String, Long)].collect().toMap
    assert(gotVocab === expVocab)
    // merges actually happened and the vocab is closed over them:
    // every multi-char symbol in the final vocab must be the merged
    // form of some learned merge (a round-1 symbol may legitimately
    // be ABSENT — later rounds can consume it entirely, e.g. "er" →
    // "er</w>" at the 1024-merge config)
    assert(expMerges.nonEmpty, "at least one merge learned")
    val mergedForms = expMerges.map(_._1.replace(" ", "")).toSet
    // atomic = the seg0 alphabet: single chars and the bare eow marker
    // (even "g</w>" needs a learned ("g </w>") merge to exist)
    val atomic = gotVocab.keySet.filter(s => s.length == 1 || s == Bpe.Eow)
    val unexplained = (gotVocab.keySet -- atomic) -- mergedForms
    assert(unexplained.isEmpty,
      s"vocab symbols not produced by any learned merge: $unexplained")
    assert((gotVocab.keySet -- atomic).nonEmpty, "merged symbols present")
  }

  test("bpe tokenize: per-doc symbol counts follow the learned segmentation") {
    val rows = Bpe.tokenize(spark, Sf).as[(Long, Long, Option[Long])].collect()
    assert(rows.nonEmpty)
    // BPE with merges can only SHORTEN char+eow segmentation: for every
    // doc, n_words <= n_bpe_tokens <= chars + one eow per word
    val docs = graft.Tables.documents(spark, Sf)
      .select(col("doc_id"), graft.func.Tokenizer.tokens(col("text")).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    rows.foreach { case (id, nWords, nBpe) =>
      val t = docs(id)
      assert(nWords === t.size.toLong, s"doc $id word count")
      if (t.isEmpty) assert(nBpe.isEmpty)
      else {
        val maxSyms = t.map(_.length + 1).sum.toLong // chars + </w> each
        assert(nBpe.get >= nWords && nBpe.get <= maxSyms, s"doc $id: $nBpe")
      }
    }
    // merges fire somewhere: the corpus-wide segmentation is shorter
    // than the unmerged char+eow form
    val totalBpe = rows.flatMap(_._3).sum
    val totalMax = rows.map { case (id, _, _) =>
      docs(id).map(_.length + 1).sum.toLong }.sum
    assert(totalBpe < totalMax, "no merge ever applied — vacuous")
  }

  test("bpe: words beyond the replace-pass fixpoint bound fail loudly") {
    val docs = Seq((1L, "a" * (2 * Bpe.ReplacePasses))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](Bpe.learn(docs))
    assert(e.getMessage.contains("ReplacePasses"))
  }

  test("bpe: repeated-pair runs resolve to the greedy left-to-right fixpoint") {
    // 'aaaa' → run of 'a a a a </w>': merge (a,a) must produce
    // 'aa aa </w>', not 'aa a a </w>' — the leftmost-splice contract
    val docs = Seq((1L, "aaaa aaaa aaaa")).toDF("doc_id", "text")
    val (gotMerges, segDf) = Bpe.learn(docs)
    assert(gotMerges.head._1 === "a a")
    val (expMerges, expVocab) = referenceBpe(Map("aaaa" -> 3L))
    assert(gotMerges === expMerges)
    val gotVocab = segDf.withColumn("a", split(trim(col("syms")), " "))
      .select(col("n"), explode(col("a")).as("symbol"))
      .groupBy("symbol").agg(sum(col("n")).as("freq"))
      .as[(String, Long)].collect().toMap
    assert(gotVocab === expVocab)
  }

  test("bpe: odd 5+ same-symbol runs pack left like real greedy BPE") {
    // THE divergence a whole-string replace pass hides: ' a a a a a '
    // under merge (a,a) must become [aa, aa, a] (greedy packs left),
    // not [aa, a, aa] (non-overlapping scan strands the middle).
    // Checked via segmentation ORDER, not just the symbol multiset.
    val docs = Seq((1L, "aaaaa aaaaa")).toDF("doc_id", "text")
    val (gotMerges, segDf) = Bpe.learn(docs)
    val after1 = gotMerges.head._1
    assert(after1 === "a a")
    val syms = segDf.select(trim(col("syms"))).as[String].head()
    val (expMerges, _) = referenceBpe(Map("aaaaa" -> 2L))
    assert(gotMerges === expMerges)
    // round 2 merges (aa,aa) [freq 2] then round 3; whatever the later
    // rounds do, the round-1 packing must have been left-greedy: the
    // reference segmentation replayed through the same merges
    val ref = {
      var s = Vector("a", "a", "a", "a", "a", Bpe.Eow)
      gotMerges.foreach { case (pair, _) =>
        val Array(x, y) = pair.split(" ", 2)
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == x && s(i + 1) == y) { out += (x + y); i += 2 }
          else { out += s(i); i += 1 }
        }
        s = out.result()
      }
      s.mkString(" ")
    }
    assert(syms === ref, "segmentation order must match single-scan greedy")
  }

  test("fertility: per-lang totals reconcile with per-doc tokenize") {
    val fert = Bpe.fertility(spark, Sf)
      .as[(String, Long, Long, Long)].collect()
    assert(fert.nonEmpty)
    fert.foreach { case (lang, words, bpe, ppm) =>
      assert(words > 0L && bpe >= words, s"$lang: >= 1 symbol per word")
      assert(ppm === 1000000L * bpe / words)
      assert(ppm >= 1000000L, s"$lang fertility below 1 token/word")
    }
    // the lang split is a partition of the same corpus the per-doc
    // report covers: totals must reconcile exactly
    val (fw, fb) = (fert.map(_._2).sum, fert.map(_._3).sum)
    val tot = Bpe.tokenize(spark, Sf)
      .agg(sum("n_words"), sum(coalesce(col("n_bpe_tokens"), lit(0L))))
      .as[(Long, Long)].head()
    assert((fw, fb) === tot)
  }
}
