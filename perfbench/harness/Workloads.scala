package perfbench

import graft.SparkEntry
import graft.operators.{Decontam, Dedup, Similarity, Splits, Stress, TextAnalysis, TopN}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One timed operation. `build` runs the query closure (or the operator
  * chain) and returns the result the harness plans and collects; it
  * reports operator calls through `span`. Query operations are checked
  * against their DuckDB oracle, pipelines against stored fingerprints. */
final case class Op(
    name: String,
    build: (SparkSession, Spans) => DataFrame,
    oracle: Boolean
)

/** Wall time of calls into the operators layer, keyed `Object.method`. */
final class Spans {
  val sums = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def apply[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally sums(key) = sums.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** A workload: its operations, how many untimed passes warm the JVM up
  * before the timed ones, and, for `curate-10x`, the rows of its amplified
  * input (built and held by the workload itself). */
final case class Workload(
    ops: Seq[Op],
    warmupPasses: Int,
    inputRows: Option[Long] = None
)

object Workloads {
  /** Candidate hot documents for `curate-10x`; the seed picks one. */
  val HotDocs: Seq[Long] = Seq(0L, 1L, 2L, 3L)

  /** Pass times keep falling for several passes after JVM start (JIT
    * compilation), so each workload warms up until its passes settle:
    * cohort-tail's short queries take about eight passes, the pipelines
    * three. `queries` names the `SparkEntry` queries of `cohort-tail`. */
  def apply(name: String, spark: SparkSession, dir: String, queries: Seq[String],
      seed: Long): Workload =
    name match {
      case "cohort-tail" =>
        val ops = queries.map(q => Op(q, (s, _) => SparkEntry.queries(q)(s, dir), oracle = true))
        Workload(ops, warmupPasses = 8)
      case "curate-10x" => curate(spark, dir, HotDocs(Math.floorMod(seed, HotDocs.size.toLong).toInt))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Both throughput pipelines of `graft.Bench` over 10x self-unions: the
    * documents with a 90-copy hot key, and the embeddings. The amplified
    * inputs are checkpointed here and held for the whole run. */
  private def curate(spark: SparkSession, dir: String, hotId: Long): Workload = {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val docs10 = Stress
      .selfUnionSkewed(docs, "doc_id", copies = 10, idStride = 1000000L,
        hotId = hotId, hotCopies = 90)
      .localCheckpoint()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val emb10 = Stress
      .selfUnionSkewed(emb, "vec_id", copies = 10, idStride = 1000000L)
      .localCheckpoint()
    val rows = docs10.count() + emb10.count()
    val holdout = docs.filter(col("doc_id") % 10 === 0)

    val text = Op("curate_text", (_, span) => {
      val deduped = span("Dedup.dedupNearMinHash")(Dedup.dedupNearMinHash(
        docs10.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        threshold = 0.9, shingleK = 1, numHashes = 16, bands = 4))
      val clean = span("Decontam.decontaminate")(
        Decontam.decontaminate(deduped, holdout, "doc_id", "text", n = 4))
      val scored = span("TextAnalysis.qualityScore")(
        TextAnalysis.qualityScore(clean, "text")).filter(col("quality") >= 0.5)
      val split = span("Splits.hashSplit")(Splits.hashSplit(
        scored, "doc_id", Seq("train" -> 0.8, "val" -> 0.1), defaultLabel = "test"))
      span("Splits.packSequences")(
        Splits.packSequences(split, "doc_id", "text", "split", blockTokens = 512))
    }, oracle = false)

    val k = 64
    val semantic = Op("curate_semantic", (_, span) => {
      val deduped = span("Dedup.semDeDup")(
        Dedup.semDeDup(emb10, "vec_id", "embedding", k = k, rounds = 2, threshold = 0.99))
      val model = span("Similarity.kmeansTrain")(
        Similarity.kmeansTrain(deduped, "vec_id", "embedding", k = k))
      val clustered = span("Similarity.kmeansAssign")(
        Similarity.kmeansAssign(deduped, "embedding", model))
      span("TopN.firstRow")(TopN.firstRow(
        clustered.withColumn("__bk", Splits.hashBucket(col("vec_id"))),
        n = 16,
        partitionBy = Seq(col("cluster")),
        orderBy = Seq(col("__bk").asc, col("vec_id").asc)))
    }, oracle = false)

    Workload(Seq(text, semantic), warmupPasses = 3, inputRows = Some(rows))
  }

  /** Operator spans reported on every workload (zero where unused). */
  val OperatorSpans: Seq[String] = Seq(
    "Dedup.dedupNearMinHash", "Decontam.decontaminate", "TextAnalysis.qualityScore",
    "Splits.hashSplit", "Splits.packSequences", "Dedup.semDeDup",
    "Similarity.kmeansTrain", "Similarity.kmeansAssign", "TopN.firstRow"
  )
}
