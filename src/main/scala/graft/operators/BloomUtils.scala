package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Shared Bloom-filter build/probe plumbing for [[Decontam]] and
  * [[Joins]]: build a filter over a one-column table of xxhash64 keys,
  * return the codegen'd native `BloomFilterMightContain` probe over a
  * caller-supplied 64-bit hash expression. The subtle contract lives in
  * exactly one place: the build side `putLong`s the hashes
  * (`stat.bloomFilter` on a LongType column) and the native probe tests
  * them with `mightContainLong`, so build and probe MUST hash the same
  * value under the same Spark type — callers are responsible for feeding
  * type-identical keys to both sides (xxhash64 is type-sensitive:
  * hash(42: INT) != hash(42: BIGINT)). */
private[operators] object BloomUtils {

  /** `hashes` must be a single LongType column named `__h`. Returns the
    * probe column testing `probeHash` (an xxhash64 expression) against
    * the built filter — a broadcast-literal bit array, inside
    * whole-stage codegen, never a UDF. */
  def probeColumn(
      hashes: DataFrame,
      expected: Long,
      fpp: Double,
      probeHash: Column
  ): Column = {
    val bf = hashes.stat.bloomFilter("__h", expected, fpp)
    // a caller-supplied `expected` that grossly undercounts the true key
    // cardinality stays EXACT (the semi-join behind the probe removes
    // false positives) but silently degrades pruning; the built filter's
    // observed fpp exposes exactly that saturation, so say so once here
    val observedFpp = bf.expectedFpp()
    if (observedFpp > math.min(0.9, fpp * 8)) {
      org.slf4j.LoggerFactory
        .getLogger(getClass)
        .warn(
          s"bloom filter sized for $expected keys is saturated " +
            f"(observed fpp $observedFpp%.4f vs requested $fpp%.4f): " +
            "the result stays exact but pre-shuffle pruning is degraded " +
            "— pass a larger expectedKeys (or <= 0 for a counting pass)"
        )
    }
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(bos.toByteArray, org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.GraftSqlBridge.expression(probeHash)
      )
    )
  }
}
