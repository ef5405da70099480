package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** First-class pipeline compositions — the multi-stage chains a crawl
  * curation job actually runs, packaged so the cross-stage performance
  * contract lives in ONE place instead of every caller's script. (North-
  * star extension; no reference counterpart — SURVEY.md §7 `graft.scale`.)
  */
object Pipelines {

  /** The crawl curation chain END-TO-END: page HTML → main-content
    * extraction ([[TextAnalysis.extractMainContent]]) → mojibake repair
    * ([[TextAnalysis.fixEncoding]] — a per-row no-op on clean text, and
    * without it double-encoded pages get quality-scored and deduped on
    * Ã©-class garbage) → quality gate
    * ([[TextAnalysis.qualityScore]] `>= minQuality`) → exact-verified
    * near-dedup ([[Dedup.dedupNearMinHashVerified]]). Returns the
    * surviving documents with the extraction/quality columns attached
    * (`text` = extracted main content after repair, `n_blocks`,
    * `kept_blocks`, `n_tokens`, `quality`, …).
    *
    * The gated slice is cached before dedup: the dedup stage consumes its
    * input TWICE — once to build the shingle-set/signature tables and once
    * as the left side of the final anti-join — and without the cache the
    * whole ~16-regex-per-block extract chain re-evaluates on that second
    * pass (measured ~2x the extract cost at sf1; see PERFORMANCE.md). The
    * cache is populated by the dedup stage's own eager loser
    * materialization, so no extra action is spent on it. The cached slice
    * is extracted-text-sized (the gated survivors, not the raw pages); it
    * stays referenced by the returned plan — callers running many
    * pipelines in one session can release it with
    * `spark.catalog.clearCache()` once the result is written. */
  def crawlCurate(
      pages: DataFrame,
      idCol: String,
      htmlCol: String,
      minQuality: Double = 0.5,
      dedupThreshold: Double = 0.8,
      shingleK: Int = 1,
      numHashes: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    require(minQuality >= 0.0 && minQuality <= 1.0, "minQuality in [0, 1]")
    val repaired = TextAnalysis
      .extractMainContent(pages, htmlCol, outCol = "text")
      .withColumn("text", TextAnalysis.fixEncodingColumn(col("text")))
    val gated = TextAnalysis
      .qualityScore(repaired, "text")
      .filter(col("quality") >= minQuality)
      .persist(StorageLevel.MEMORY_AND_DISK)
    Dedup.dedupNearMinHashVerified(
      gated, idCol, "text",
      threshold = dedupThreshold,
      shingleK = shingleK,
      numHashes = numHashes,
      bands = bands
    )
  }
}
