package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import graft.{SparkSpec, Tables}

/** PLANS.md rule #2 enforcement for the vocabulary-frame class: a
  * corpus-derived frame (token df table, unigram/bigram counts, the
  * BPE segmented-word table) is NOT bounded by construction, so its
  * join must carry no mandatory broadcast hint — AQE picks broadcast
  * whenever the runtime size clears the threshold and degrades to a
  * shuffle join instead of a driver OOM when it does not (the
  * Boilerplate precedent, `Boilerplate.scala:72`).
  *
  * The only hints allowed to survive in these six plans are the
  * bounded-BY-CONSTRUCTION scalar frames: bm25's one-row (n_docs,
  * a_tokens) stats and pmi's one-row n_pairs total. The spec walks
  * the analyzed plan (where `broadcast(df)` is still visible as a
  * ResolvedHint node before the optimizer folds it into JoinHint)
  * and checks every hint child's output against an allow-list.
  */
class VocabHintSpec extends SparkSpec {

  /** Output-column-name sets of every ResolvedHint child in the plan. */
  private def hintOutputs(df: DataFrame): Seq[Set[String]] =
    df.queryExecution.analyzed.collect {
      case h: ResolvedHint => h.child.output.map(_.name).toSet
    }

  /** Column names that mark a vocabulary-sized (corpus-derived) frame. */
  private val VocabKeys = Set("token", "word", "w", "w1", "w2")

  private def assertNoVocabHint(df: DataFrame,
                                allowed: Set[Set[String]]): Unit = {
    val hints = hintOutputs(df)
    hints.foreach { out =>
      assert(out.intersect(VocabKeys).isEmpty,
        s"mandatory broadcast on a vocabulary-keyed frame: $out")
      assert(allowed.exists(_.subsetOf(out)),
        s"unexpected broadcast hint (not in the bounded allow-list): $out")
    }
    // the allowed frame is not merely tolerated — it IS the bounded
    // device and must still be hinted; without this the test passes
    // vacuously if someone deletes the hint outright (review r11)
    allowed.foreach { want =>
      assert(hints.exists(want.subsetOf(_)),
        s"the bounded frame $want lost its broadcast hint")
    }
    assert(df.count() >= 0L) // the join must still resolve + execute
  }

  test("idfRarity: no hints at all — AQE owns the df-table join") {
    val df = Index.idfRarityOf(Tables.documents(spark, Sf))
    assert(hintOutputs(df).isEmpty, "idfRarity must carry zero hints")
    assert(df.count() > 0L)
  }

  test("bm25: only the one-row (n_docs, a_tokens) stats frame is hinted") {
    assertNoVocabHint(Index.bm25Of(Tables.documents(spark, Sf)),
      allowed = Set(Set("n_docs", "a_tokens")))
  }

  test("pmi: only the one-row n_pairs total is hinted") {
    assertNoVocabHint(Colloc.pmiOf(Tables.documents(spark, Sf)),
      allowed = Set(Set("n_pairs")))
  }

  test("bigramScore: no hints at all — both count tables are corpus-derived") {
    val df = LangModel.bigramScoreOf(Tables.documents(spark, Sf))
    assert(hintOutputs(df).isEmpty, "bigramScore must carry zero hints")
    assert(df.count() > 0L)
  }

  test("bpe tokenize: no hint on the segmented-word join") {
    val df = Bpe.tokenize(spark, Sf)
    assert(hintOutputs(df).isEmpty, "tokenize must carry zero hints")
    assert(df.count() > 0L)
  }

  test("bpe fertility: no hint on the segmented-word join") {
    val df = Bpe.fertility(spark, Sf)
    assert(hintOutputs(df).isEmpty, "fertility must carry zero hints")
    assert(df.count() > 0L)
  }

  // ---- the offsets-frame device class (VERDICT r10 task 3) ---------
  // The distributed-rank device broadcasts a cumulative-offsets frame
  // keyed on the SCORE GRID, not the corpus: one row per distinct
  // (lang, fluency_ppm) / n_chars / quality_ppm value, bounded by the
  // ppm domain (≤ |langs|×1e6 rows) regardless of corpus size — the
  // one hint class that IS bounded by construction. These specs pin
  // that the offsets frame is the ONLY hinted frame in each plan
  // (rehearsal-measured at the 10M-token / 50k-doc corpus: 5,486
  // rows ≈ 0.23 MB for pplFilter; 167 rows for curriculum —
  // PLANS.md §r11).

  test("pplFilter: only the (lang, score)-grid offsets frame is hinted") {
    assertNoVocabHint(LangModel.pplFilterOf(Tables.documents(spark, Sf)),
      allowed = Set(Set("lang", "fluency_ppm", "off", "n_lang")))
  }

  test("curriculum: only the n_chars-grid offsets frame is hinted") {
    assertNoVocabHint(CorpusLayout.curriculumOf(Tables.documents(spark, Sf)),
      allowed = Set(Set("n_chars", "off", "total")))
  }

  test("budgetSelect: only the quality-grid offsets frame is hinted") {
    assertNoVocabHint(CorpusLayout.budgetSelectOf(Tables.documents(spark, Sf)),
      allowed = Set(Set("quality_ppm", "off")))
  }
}
