package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Amplifies a driver testdata directory into an FK-consistent larger
  * copy: `copies` re-keyed replicas of every fact/entity table (dimension
  * tables `nation`/`region` pass through untouched), so a 10x run of
  * sf0.1 approximates sf1 for SCALING measurements.
  *
  * Every foreign key moves by the same per-copy stride, so joins match
  * exactly within a copy and never across copies — row counts, join
  * fan-outs and group sizes all scale linearly by construction. Replica
  * CONTENT is deterministically distinguished where identity would change
  * an algorithm's output shape, not just its input size:
  *   - `documents.text` gets a per-copy prefix (identical replicas would
  *     hand MinHash/SimHash near-dedup 10 exact duplicates of every text:
  *     O(copies^2) candidate pairs per bucket — an output-semantics
  *     change, not a cost scale-up);
  *   - `embeddings.embedding` gets a tiny per-copy nudge on one
  *     coordinate (same reason for embedding near-dup/SemDeDup; the
  *     perturbation is ~1e-3 on unit-scale vectors, so distance
  *     distributions are indistinguishable for cost purposes).
  *
  * Usage: `graft.ScaleData <inDir> <outDir> <copies>` — e.g.
  * `/root/testdata/sf0.1 /tmp/sf1 10`. The output layout matches the
  * driver's (`<outDir>/<table>.parquet`), so `SPARK_GRAFT_SF_DIR` can
  * point straight at it for a [[Bench]] scaling sweep.
  */
object ScaleData {
  /** Per-copy id stride — far above any id the generator emits at sf<=1,
    * so re-keyed copies can never collide. */
  val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    require(copies >= 1, "copies must be >= 1")
    // keep re-keyed int32 ids representable: ids at sf<=1 are < Stride,
    // so max rekeyed id < copies * Stride + Stride
    require(
      (copies.toLong + 1) * Stride <= Int.MaxValue,
      s"copies=$copies would overflow int32 key columns (stride $Stride)"
    )
    val spark = SparkEntry.localSession()

    def read(name: String): DataFrame = QueryShared.t(spark, inDir, name)

    /** `copies` replicas with `Stride * copy` added to every id column;
      * `extra` can rewrite content columns per copy before the copy tag
      * is dropped. */
    def amp(
        df: DataFrame,
        idCols: Seq[String],
        extra: (DataFrame, Column) => DataFrame = (d, _) => d
    ): DataFrame = {
      // the int32-safety guard in main covers copies * Stride; the OTHER
      // factor of the overflow bound is the premise that every INPUT id
      // is < Stride. Re-amplifying already-amplified output (ids up to
      // copies * Stride) would silently wrap int32 keys — fail loudly.
      val maxAggs = idCols.map(c => max(col(c).cast("long")).as(c))
      val maxRow = df.agg(maxAggs.head, maxAggs.tail: _*).head
      val maxIn = idCols.indices
        .map(i => if (maxRow.isNullAt(i)) -1L else maxRow.getLong(i))
        .max
      require(
        maxIn < Stride,
        s"input ids reach $maxIn >= stride $Stride — input looks already " +
          "amplified; re-amplification would collide/wrap re-keyed ids"
      )
      val tagged = df.crossJoin(
        broadcast(spark.range(copies).select(col("id").as("__copy")))
      )
      // cast back to the source column's type: `__copy` is a long, so the
      // bare addition would widen int32 keys to bigint even for copy 0 and
      // the amplified schema would diverge from the generator's — wider
      // keys skew the very scan/join scaling this tool exists to measure.
      // Stride * copies stays far below Int.MaxValue (guarded in main), so
      // the narrowing cast cannot wrap.
      val rekeyed = idCols.foldLeft(tagged) { (d, c) =>
        d.withColumn(
          c,
          (col(c) + col("__copy") * Stride).cast(df.schema(c).dataType)
        )
      }
      extra(rekeyed, col("__copy")).drop("__copy")
    }

    /** Amplified tables land with `copies * source-split` files, the
      * layout a real sf-times-`copies` generator would produce — a
      * broadcast crossJoin preserves the (often single) source split, and
      * one giant file would serialize every downstream scan onto one core,
      * measuring layout pathology instead of operator scaling. */
    def write(df: DataFrame, name: String, parts: Int = 1): Unit = {
      val out = if (parts > 1) df.repartition(parts) else df
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaledata] $name: ${QueryShared.t(spark, outDir, name).count()} rows, $parts files")
    }

    def partsFor(name: String): Int =
      copies * read(name).rdd.getNumPartitions

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(amp(read("customer"), Seq("c_custkey")), "customer", partsFor("customer"))
    write(amp(read("supplier"), Seq("s_suppkey")), "supplier", partsFor("supplier"))
    write(amp(read("part"), Seq("p_partkey")), "part", partsFor("part"))
    write(amp(read("orders"), Seq("o_orderkey", "o_custkey")), "orders", partsFor("orders"))
    write(
      amp(read("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "lineitem",
      partsFor("lineitem")
    )
    write(amp(read("events"), Seq("event_id", "user_id")), "events", partsFor("events"))
    write(
      amp(
        read("documents"),
        Seq("doc_id"),
        (d, copy) =>
          d.withColumn(
            "text",
            when(copy === 0 || col("text").isNull, col("text"))
              .otherwise(concat(lit("c"), copy.cast("string"), lit(" "), col("text")))
          )
      ),
      "documents",
      partsFor("documents")
    )
    write(
      amp(
        read("embeddings"),
        Seq("vec_id"),
        (d, copy) =>
          d.withColumn(
            "embedding",
            transform(
              col("embedding"),
              (x, i) =>
                when(i === 0, x + (copy.cast("double") * lit(1e-3)).cast("float"))
                  .otherwise(x)
            )
          )
      ),
      "embeddings",
      partsFor("embeddings")
    )
    spark.stop()
  }
}
