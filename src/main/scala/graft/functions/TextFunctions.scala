package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for dedup / analysis pipelines, as pure Column
  * expressions (codegen'd, per-row, no shuffle).
  *
  * Hashing is md5-hex over seeded strings — deliberately engine-portable
  * (identical in DuckDB/Trino/Spark) so MinHash signatures and fingerprints
  * can be oracle-checked bit-for-bit. md5 hex is ASCII, so lexicographic
  * `array_min` ordering agrees across engines too. The hot digests run as
  * native codegen'd expressions (graft.plans), where md5 measured no slower
  * than a non-portable xxhash64 (PERFORMANCE.md, round 6); a MinHash
  * signature is one such per-row kernel over the shingle array
  * ([[minHashOfShingles]]), not an explode into a per-component aggregate.
  */
object TextFunctions {

  /** Whitespace tokens of the lowercased text. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Word k-shingles as space-joined strings; empty array when fewer than k
    * tokens. k=1 gives the token set itself (order-insensitive dedup).
    *
    * Built as a k-way `zip_with` fold of shifted token slices rather than
    * `transform(sequence(...), i => slice(toks, i, k))`: a lambda BODY
    * re-evaluates every outer expression it references per element, so
    * the transform form recomputes the full tokenization once per shingle
    * position — O(len^2) per document, measured 7x slower at sf0.1 on the
    * fingerprint path alone. `zip_with`'s array arguments are plain
    * expression arguments, evaluated once per row. */
  def shingles(text: Column, k: Int): Column = {
    require(k >= 1, "shingle size must be >= 1")
    if (k == 1) tokens(text)
    else {
      val toks = tokens(text)
      val m = size(toks) - k + 1
      val folded = (1 until k).foldLeft(slice(toks, lit(1), m)) { (acc, j) =>
        zip_with(acc, slice(toks, lit(j + 1), m), (a, b) =>
          concat(a, lit(" "), b))
      }
      when(size(toks) >= k, folded)
        .otherwise(array().cast("array<string>"))
    }
  }

  /** Modulus for the universal-hash family deriving MinHash components. */
  val MinHashMod: Long = 1000000007L

  /** 60-bit md5 digest prefix as a long — the native form of
    * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")` (bit-identical;
    * asserted in ScaleSpec). Use for every portable hash-bucket/digest hot
    * path; the DuckDB oracle side is unchanged. */
  def md5Prefix60(c: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.Md5Prefix60Expr(
        org.apache.spark.sql.GraftSqlBridge.expression(c)
      )
    )

  /** MinHash signature of a shingle array (`graft.plans.MinHashSignatureExpr`):
    * ONE md5 per shingle split into two engine-portable 60-bit seeds
    * (a, b mod p; DuckDB: CAST('0x'||substr AS BIGINT)), component j the
    * minimum of `(a + j*b) mod p`. NULL for a NULL or empty array. */
  private[graft] def minHashOfShingles(shinglesCol: Column, numHashes: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.MinHashSignatureExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(shinglesCol),
        numHashes,
        MinHashMod
      )
    )

  /** Executable spec for the (a, b) seeds of [[minHashOfShingles]]: the
    * composed conv(substring(md5)) form the native kernel must match
    * bit-for-bit (and the form the DuckDB oracles replicate). Kept for the
    * identity test only. */
  private[graft] def minHashPreSpec(shinglesCol: Column): Column =
    transform(
      shinglesCol,
      s => {
        val h = md5(s)
        struct(
          conv(substring(h, 1, 15), 16, 10).cast("long").as("a"),
          (conv(substring(h, 16, 15), 16, 10).cast("long") % MinHashMod).as("b")
        )
      }
    )

  /** LSH band keys: band b = 60-bit md5 digest prefix of the b-th r-sized
    * slice of the signature (any element-type signature; elements joined
    * with '|'). Two documents share a band key iff that signature slice is
    * identical (up to a ~n²/2⁶¹ digest-collision term — and a colliding
    * candidate pair still faces the full-signature similarity verification
    * every consumer applies, so results are unchanged). A LONG key instead
    * of the md5 hex string shrinks every band-join shuffle row from ~40 to
    * 8 bytes — at 100 TB the band join IS the shuffle, so this is a 4-5x
    * cut to the dominant dedup shuffle volume. */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b =>
        md5Prefix60(
          concat_ws(
            "|",
            transform(
              slice(signature, b * rowsPerBand + lit(1), lit(rowsPerBand)),
              _.cast("string")
            )
          )
        )
    )

  /** Estimated Jaccard similarity between two equal-length MinHash
    * signatures: fraction of matching components. */
  def minHashSimilarity(sigA: Column, sigB: Column): Column =
    aggregate(
      zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0),
      (acc, x) => acc + x
    ).cast("double") / size(sigA)

  /** 64-bit SimHash over tokens: bit b of the result is set iff the sum of
    * (+1/-1) votes from each token's hash bit b is positive. A token's 64
    * hash bits are its md5 digest's first 32-bit half (bits 0-31) and second
    * 32-bit half (bits 32-63) — identical in DuckDB. Near-duplicate texts
    * differ in few bits (compare via hamming).
    *
    * This nested-HOF form is the executable SPEC (interpreted per lambda —
    * do not put it in a hot path); production corpus runs use
    * `Dedup.simHashSignatures`, an explode -> codegen'd bit-vote aggregate
    * asserted bit-identical to this form. */
  def simHash(tokensCol: Column): Column = {
    def half(h: Column, from: Int): Column =
      conv(substring(h, from, 8), 16, 10).cast("long")
    // votes: per bit, fold +1/-1 across token hashes
    val bitVotes = aggregate(
      transform(tokensCol, t => {
        val h = md5(t)
        half(h, 1).bitwiseOR(shiftleft(half(h, 9), 32))
      }),
      array_repeat(lit(0), 64),
      (acc, h) =>
        zip_with(
          acc,
          transform(
            sequence(lit(0), lit(63)),
            b =>
              when(
                call_function("shiftright", h, b).bitwiseAND(1) === 1,
                1
              ).otherwise(-1)
          ),
          (a, v) => a + v
        )
    )
    aggregate(
      zip_with(
        bitVotes,
        sequence(lit(0), lit(63)),
        (v, b) =>
          when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))
      ),
      lit(0L),
      (acc, x) => acc.bitwiseOR(x)
    )
  }

  /** Hamming distance between two simhash longs. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Canonical form for fingerprinting: lowercase, strip non-[a-z0-9 ],
    * collapse whitespace, trim. */
  def canonicalText(text: Column): Column =
    trim(
      regexp_replace(
        regexp_replace(lower(text), "[^a-z0-9 ]", ""),
        " +",
        " "
      )
    )

  /** Whole-document fingerprint: md5 of the canonical text. */
  def fingerprint(text: Column): Column = md5(canonicalText(text))

  /** Winnowing-style fingerprint: minimum shingle hash of the canonical
    * text's k-shingles (stable under small edits away from the minimum). */
  def minShingleFingerprint(text: Column, k: Int): Column = {
    // native single-loop digest-min (graft.plans.MinShingleMd5Expr) —
    // bit-identical to the composed
    // array_min(transform(shingles(canonicalText, k), md5)) (asserted in
    // ScaleSpec), which evaluated every md5 inside an interpreted
    // transform lambda over a zip_with-built shingle array
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.plans.MinShingleMd5Expr(
        GraftSqlBridge.expression(canonicalText(text)),
        k
      )
    )
  }

  /** Unicode canonical normalization (default NFC) via the codegen'd
    * [[graft.plans.UnicodeNormalizeExpr]]: composed and decomposed accent
    * forms (and, with NFKC/NFKD, compatibility ligatures) map to one
    * canonical spelling — run BEFORE hashing/fingerprinting multilingual
    * text so visually identical documents dedup together. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.plans.UnicodeNormalizeExpr(GraftSqlBridge.expression(text), form)
    )
  }
}
