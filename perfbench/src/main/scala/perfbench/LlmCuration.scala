package perfbench

import org.apache.spark.sql.SparkSession

import graft.llm.{Dedup, TextAnalysis}

/** The curation stage of `warehouse_build`: the seeded documents table,
  * with planted exact and near duplicates and a language mix, curated
  * once per iteration: exact and prefix n-gram Jaccard dedup, quality
  * and language scoring, then the keep-list (which runs the LSH
  * near-duplicate pipeline).
  * Only this stage reaches the `llm` module. */
object LlmCuration {
  val ops: Seq[Op] = Seq(
    Op("llm", "Dedup.exact", Dedup.exact),
    Op("llm", "Dedup.ngramJaccardPrefix", Dedup.ngramJaccardPrefix),
    Op("llm", "TextAnalysis.qualityScore", TextAnalysis.qualityScore),
    Op("llm", "TextAnalysis.langId", TextAnalysis.langId),
    Op("llm", "Dedup.keepList", Dedup.keepList))

  /** The planted-duplicate check against the generator's truth, and a
    * note on what was planted. */
  def check(spark: SparkSession, dir: String): (Check.Result, (String, String)) = {
    val truthDir = dir.replace("/data-", "/truth-")
    val truth = spark.read.parquet(s"$truthDir/documents_truth.parquet")
      .select("doc_id", "kind", "base_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val planted = truth.collect { case (d, 1, b) => d -> b }.toMap
    val report = Dedup.exact(spark, dir).select("doc_id", "dup_rank", "group_ct").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val nNear = truth.count(_._2 == 2)
    (Check.plantedFound("every_planted_exact_duplicate_found", planted, report),
      "planted" -> s"${truth.length} documents: ${planted.size} exact copies, $nNear near copies")
  }
}
