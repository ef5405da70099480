package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Join helpers for skewed data (north-star extension).
  *
  * AQE's skew-join split handles many cases at runtime, but when one key
  * dominates an equi-join (the classic hot-customer / null-bucket problem)
  * explicit salting keeps every task bounded: the skewed side gets a
  * deterministic salt in [0, saltFactor), the other side is replicated once
  * per salt value, and the join key becomes (key, salt). Result rows are
  * identical to the unsalted join; the shuffle fans the hot key out over
  * saltFactor reducers.
  */
object Joins {

  /** Inner equi-join with deterministic salting on `keys`.
    *
    * @param skewed     the large/skewed side (salted with one value per row)
    * @param replicated the other side (duplicated saltFactor times — keep it
    *                   the smaller input)
    * @param keys       equi-join key column names present on both sides
    * @param saltFactor number of salt buckets per key
    */
  def saltedJoin(
      skewed: DataFrame,
      replicated: DataFrame,
      keys: Seq[String],
      saltFactor: Int = 8
  ): DataFrame = {
    require(saltFactor > 0, "saltFactor must be positive")
    // per-row salt: hash every column PLUS a per-row ordinal so that fully
    // identical repeated rows (the worst skew: one hot row duplicated
    // millions of times) still fan out across salt buckets. No RNG — the
    // salt depends only on row content and scan position, and ANY salt
    // value joins correctly because the small side carries all of them.
    val salted = skewed.withColumn(
      "__salt",
      pmod(
        xxhash64(skewed.columns.toIndexedSeq.map(col) :+ monotonically_increasing_id(): _*),
        lit(saltFactor)
      ).cast("int")
    )
    val salts = replicated.crossJoin(
      broadcast(
        salted.sparkSession.range(saltFactor).select(col("id").cast("int").as("__salt"))
      )
    )
    salted
      .join(salts, keys :+ "__salt")
      .drop("__salt")
  }

  /** Interval (range) join: pairs each fact row with every interval row
    * whose `[start, end)` contains the fact's timestamp.
    *
    * A naive theta-join (`ts >= start AND ts < end`) has no equi-key, so
    * Spark plans a broadcast-nested-loop — O(|facts| x |intervals|) and a
    * non-starter at scale. The classic fix is bin bucketing: each fact maps
    * to exactly ONE time bin of `binSeconds`, each interval EXPLODES across
    * every bin it overlaps, and the join becomes an equi-join on the bin
    * key followed by the exact containment filter. Cost is
    * |facts| + |intervals| x avgBinsPerInterval shuffled rows — linear, and
    * the bin key shuffles/AQE-splits like any other. Each qualifying pair
    * matches exactly once (the fact's single bin). Pick `binSeconds` near
    * the typical interval length so intervals explode into O(1) bins.
    *
    * Assumes epoch-nonnegative timestamps (floor-vs-truncate agree).
    */
  def rangeJoin(
      facts: DataFrame,
      factTimeCol: String,
      intervals: DataFrame,
      startCol: String,
      endCol: String,
      binSeconds: Long = 3600L
  ): DataFrame = {
    require(binSeconds > 0, "binSeconds must be positive")
    // bin on MICROSECONDS: second-granularity unix_timestamp truncates a
    // fractional-second `end`, under-covering its final bin and silently
    // dropping facts between the whole second and the true exclusive end
    val binMicros = binSeconds * 1000000L
    val normFacts = TimeUtils.ensureTimestamp(facts, factTimeCol)
    val normIntervals = TimeUtils.ensureTimestamp(intervals, startCol, endCol)
    val fb = normFacts.withColumn(
      "__bin",
      floor(unix_micros(col(factTimeCol)) / binMicros).cast("long")
    )
    // drop empty/inverted intervals: [t,t) contains nothing, and an
    // inverted interval would make `sequence` run backwards (step -1)
    val ib = normIntervals.filter(col(startCol) < col(endCol)).withColumn(
      "__bin",
      explode(
        sequence(
          floor(unix_micros(col(startCol)) / binMicros).cast("long"),
          // end is exclusive: a bin is covered iff it starts before `end`
          floor((unix_micros(col(endCol)) - 1) / binMicros).cast("long")
        )
      )
    )
    fb.join(ib, Seq("__bin"))
      .filter(col(factTimeCol) >= col(startCol) && col(factTimeCol) < col(endCol))
      .drop("__bin")
  }

  /** Interval-overlap join: pairs of (left, right) intervals with
    * `lStart < rEnd && rStart < lEnd` (half-open [start, end)). Same bin
    * bucketing as [[rangeJoin]], with the interval-interval twist: both
    * sides explode across their bins, so an overlapping pair may share
    * SEVERAL bins — the pair is kept only in the bin containing
    * `max(lStart, rStart)` (the first bin where both are live), making
    * each qualifying pair match exactly once without a distinct.
    *
    * Scale shape: equi-join on the bin key (shuffles/AQE-splits like any
    * equi-join), exact overlap + first-bin predicates as codegen'd
    * filters. Never a nested loop. Column names must not collide across
    * the two sides — select/rename first.
    *
    * Empty (`start == end`) and inverted (`end < start`) intervals are
    * dropped before binning: under half-open semantics an empty interval
    * overlaps nothing, and without the filter `sequence(k, k-1)` would run
    * BACKWARDS (Spark's default step is -1 when start > stop), silently
    * exploding an inverted interval into a long descending bin list and
    * matching an empty one against any covering interval. */
  def intervalOverlapJoin(
      left: DataFrame,
      leftStartCol: String,
      leftEndCol: String,
      right: DataFrame,
      rightStartCol: String,
      rightEndCol: String,
      binSeconds: Long = 3600L
  ): DataFrame = {
    require(binSeconds > 0, "binSeconds must be positive")
    val binMicros = binSeconds * 1000000L
    def bins(s: String, e: String) =
      sequence(
        floor(unix_micros(col(s)) / binMicros).cast("long"),
        floor((unix_micros(col(e)) - 1) / binMicros).cast("long")
      )
    val lb = TimeUtils.ensureTimestamp(left, leftStartCol, leftEndCol)
      .filter(col(leftStartCol) < col(leftEndCol))
      .withColumn("__bin", explode(bins(leftStartCol, leftEndCol)))
    val rb = TimeUtils.ensureTimestamp(right, rightStartCol, rightEndCol)
      .filter(col(rightStartCol) < col(rightEndCol))
      .withColumn("__bin", explode(bins(rightStartCol, rightEndCol)))
    lb.join(rb, Seq("__bin"))
      .filter(
        col(leftStartCol) < col(rightEndCol) &&
          col(rightStartCol) < col(leftEndCol)
      )
      // first shared live bin: dedupe without a shuffle
      .filter(
        col("__bin") ===
          floor(
            greatest(
              unix_micros(col(leftStartCol)),
              unix_micros(col(rightStartCol))
            ) / binMicros
          ).cast("long")
      )
      .drop("__bin")
  }

  /** Two-table as-of join (trades/quotes style): each left row is enriched
    * with `rightValueCols` from the LATEST right row whose `rightTimeCol`
    * is `<=` the left row's `leftTimeCol`, matched on `keyCol`; left rows
    * with no prior right row get nulls (left-join semantics). Output
    * columns are the left columns plus `<prefix><valueCol>` for each right
    * value.
    *
    * Scale shape: the classic union-merge — tag the sides, union on
    * (key, time), and take a running `last(value, ignoreNulls)` over one
    * window per key. ONE shuffle on the key, no range join, no per-key
    * loop; at equal timestamps the right row sorts first so the match is
    * inclusive. Right rows should be unique per (key, time) — pre-dedupe
    * (e.g. `Dedup.exactDedup`) to make the chosen value deterministic.
    */
  /** Nearest-event join: each left row enriched from the right row at the
    * SMALLEST absolute time distance on the same key, looking BOTH
    * directions (backward wins ties). Adds `<prefix><valueCol>`,
    * `<prefix>ts` and `<prefix>dist_us`; lefts with no right row at all
    * get nulls. Right rows should be unique per (key, time) — pre-dedupe
    * for a deterministic value.
    *
    * Composed from two [[asOfJoin]] union-merge passes — backward as-is,
    * forward as backward on a negated microsecond axis — so the cost is
    * two key shuffles, never a range/nested-loop join.
    */
  def nearestJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTimeCol: String,
      rightTimeCol: String,
      valueCol: String,
      prefix: String = "near_"
  ): DataFrame = {
    val normLeft = TimeUtils.ensureTimestamp(left, leftTimeCol)
    val normRight = TimeUtils.ensureTimestamp(right, rightTimeCol)
    val back = asOfJoin(
      normLeft, normRight, keyCol, leftTimeCol, rightTimeCol,
      Seq(valueCol, rightTimeCol), "__b_"
    )
    val leftNeg = back.withColumn("__lneg", -unix_micros(col(leftTimeCol)))
    val rightNeg = normRight.withColumn("__rneg", -unix_micros(col(rightTimeCol)))
    val both = asOfJoin(
      leftNeg, rightNeg, keyCol, "__lneg", "__rneg",
      Seq(valueCol, rightTimeCol), "__f_"
    )
    val bt = col(s"__b_$rightTimeCol")
    val ft = col(s"__f_$rightTimeCol")
    val db = unix_micros(col(leftTimeCol)) - unix_micros(bt)
    val dfw = unix_micros(ft) - unix_micros(col(leftTimeCol))
    val pickBack = bt.isNotNull && (ft.isNull || db <= dfw)
    both
      .withColumn(
        s"$prefix$valueCol",
        when(pickBack, col(s"__b_$valueCol")).otherwise(col(s"__f_$valueCol"))
      )
      .withColumn(s"${prefix}ts", when(pickBack, bt).otherwise(ft))
      .withColumn(s"${prefix}dist_us", when(pickBack, db).otherwise(dfw))
      .drop(s"__b_$valueCol", s"__b_$rightTimeCol", s"__f_$valueCol",
        s"__f_$rightTimeCol", "__lneg")
  }

  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTimeCol: String,
      rightTimeCol: String,
      rightValueCols: Seq[String],
      prefix: String = "asof_"
  ): DataFrame = {
    require(rightValueCols.nonEmpty, "at least one right value column")
    import org.apache.spark.sql.expressions.Window

    // normalize BOTH sides' time columns so the union-merge `__t` never
    // mixes TIMESTAMP with TIMESTAMP_NTZ across the sides; orderable-only
    // (not ensureTimestamp) because nearestJoin's forward pass re-enters
    // here on a negated-microsecond LONG axis, which is a valid order key
    val normLeft = TimeUtils.ensureOrderable(left, leftTimeCol)
    val normRight = TimeUtils.ensureOrderable(right, rightTimeCol)
    val leftCols = normLeft.columns.toSeq
    val lTagged = normLeft.select(
      Seq(
        col(keyCol).as("__k"),
        col(leftTimeCol).as("__t"),
        lit(1).as("__side")
      ) ++ leftCols.map(col) ++ rightValueCols.map { c =>
        lit(null).cast(normRight.schema(c).dataType).as(s"__rv_$c")
      }: _*
    )
    val rTagged = normRight.select(
      Seq(
        col(keyCol).as("__k"),
        col(rightTimeCol).as("__t"),
        lit(0).as("__side")
      ) ++ leftCols.map(c => lit(null).cast(normLeft.schema(c).dataType).as(c)) ++
        rightValueCols.map(c => col(c).as(s"__rv_$c")): _*
    )

    val w = Window
      .partitionBy("__k")
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = rightValueCols.foldLeft(lTagged.unionByName(rTagged)) {
      case (d, c) =>
        d.withColumn(s"__last_$c", last(col(s"__rv_$c"), ignoreNulls = true).over(w))
    }
    filled
      .filter(col("__side") === 1)
      .select(
        leftCols.map(col) ++
          rightValueCols.map(c => col(s"__last_$c").as(s"$prefix$c")): _*
      )
  }
  /** [[asOfJoin]] with a staleness bound: a matched right row older than
    * `toleranceSeconds` before the left row is treated as NO match — its
    * value columns come back NULL — and fresh matches additionally carry
    * `<prefix>age_seconds` (left time minus match time). The point-in-time
    * join contract real feature stores use: "latest price, but only if
    * quoted within the last hour".
    *
    * Same single-shuffle union-merge shape as [[asOfJoin]] (the matched
    * timestamp rides the merge as one more carried column); the staleness
    * test is a pure per-row projection on top. Timestamp-type tolerant on
    * both sides.
    */
  def asOfJoinTolerant(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTimeCol: String,
      rightTimeCol: String,
      rightValueCols: Seq[String],
      toleranceSeconds: Long,
      prefix: String = "asof_"
  ): DataFrame = {
    require(toleranceSeconds > 0, "toleranceSeconds must be positive")
    val l = TimeUtils.ensureTimestamp(left, leftTimeCol)
    val r = TimeUtils.ensureTimestamp(right, rightTimeCol)
    val tcol = "__asof_match_t"
    val joined = asOfJoin(
      l,
      r.withColumn(tcol, col(rightTimeCol)),
      keyCol,
      leftTimeCol,
      rightTimeCol,
      rightValueCols :+ tcol,
      prefix
    )
    val matchT = col(s"$prefix$tcol")
    val ageMicros = unix_micros(col(leftTimeCol)) - unix_micros(matchT)
    val fresh =
      matchT.isNotNull && ageMicros <= toleranceSeconds * 1000000L
    rightValueCols
      .foldLeft(joined) { (d, c) =>
        d.withColumn(s"$prefix$c", when(fresh, col(s"$prefix$c")))
      }
      .withColumn(
        s"${prefix}age_seconds",
        when(fresh, round(ageMicros / lit(1000000.0), 6))
      )
      .drop(s"$prefix$tcol")
  }

  /** Big-big semi-join with a Bloom pre-filter: keep the `left` rows whose
    * `keyCol` appears in `right` — EXACT result (identical to a plain
    * LEFT SEMI join; the oracle is that SQL), but the left side is
    * filtered through a broadcast Bloom filter of the right keys BEFORE
    * the shuffle, so only probable-member rows ever exchange. This is the
    * shape Spark's own runtime row-level filtering injects for selective
    * joins; exposing it as an operator makes the pruning deterministic
    * and tunable instead of cost-model-dependent — at 100 TB, when 1% of
    * corpus rows match a key list too large to broadcast exactly, the
    * shuffle shrinks ~100x for the price of one fixed-size bit-array
    * broadcast.
    *
    * Bloom false positives only cost shuffle bytes (the exact semi-join
    * behind the filter removes them); false negatives cannot occur, so no
    * matching row is ever lost. Build and probe key on xxhash64 (the
    * native `BloomFilterMightContain` probe tests 64-bit keys, inside
    * whole-stage codegen — no UDF). xxhash64 is TYPE-sensitive
    * (hash(42: INT) != hash(42: BIGINT)), so the key column must have the
    * SAME Spark type on both sides — enforced loudly, because a silent
    * type coercion would turn into silent false negatives. NULL keys
    * never match (semi-join semantics). `expectedKeys <= 0` triggers a
    * counting pass; the distinct key table is materialized once
    * (`localCheckpoint`) and reused by the count, the filter build, and
    * the final semi-join — one right-side pass, not three.
    *
    * EAGER: unlike a plain DataFrame transform, CALLING this runs jobs
    * immediately (the key-table checkpoint, the optional count, and the
    * Bloom build are driver actions) — construct it once and reuse the
    * returned DataFrame, don't rebuild it per downstream branch. An
    * `expectedKeys` that grossly undercounts the true key cardinality
    * keeps the result exact but saturates the filter and degrades the
    * pruning; the build logs a warning when the built filter's observed
    * fpp is far above the requested `fpp`. */
  def bloomSemiJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      fpp: Double = 0.01,
      expectedKeys: Long = -1L
  ): DataFrame = {
    require(left.columns.contains(keyCol), s"left has no column '$keyCol'")
    require(right.columns.contains(keyCol), s"right has no column '$keyCol'")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val lt = left.schema(keyCol).dataType
    val rt = right.schema(keyCol).dataType
    require(
      lt == rt,
      s"key column '$keyCol' must have the same type on both sides " +
        s"(left: $lt, right: $rt): xxhash64 is type-sensitive, so a " +
        "coerced probe would silently drop matches — cast your keys first"
    )
    val keys = right
      .select(col(keyCol))
      .filter(col(keyCol).isNotNull)
      .distinct()
      .localCheckpoint()
    val nKeys = if (expectedKeys > 0) expectedKeys else keys.count()
    if (nKeys == 0) {
      left.filter(lit(false))
    } else {
      // the build side `putLong`s the xxhash64 keys (`stat.bloomFilter`
      // on a LongType column) and the native probe tests them with
      // `mightContainLong`, so both sides MUST hash the same value under
      // the same Spark type — the type check above guarantees it
      val bf = keys.select(xxhash64(col(keyCol)).as("__h")).stat.bloomFilter("__h", nKeys, fpp)
      // a caller-supplied `expectedKeys` that grossly undercounts the true
      // key cardinality stays EXACT (the semi-join behind the probe removes
      // false positives) but silently degrades pruning; the built filter's
      // observed fpp exposes exactly that saturation, so say so once here
      val observedFpp = bf.expectedFpp()
      if (observedFpp > math.min(0.9, fpp * 8)) {
        org.slf4j.LoggerFactory
          .getLogger(getClass)
          .warn(
            s"bloom filter sized for $nKeys keys is saturated " +
              f"(observed fpp $observedFpp%.4f vs requested $fpp%.4f): " +
              "the result stays exact but pre-shuffle pruning is degraded " +
              "— pass a larger expectedKeys (or <= 0 for a counting pass)"
          )
      }
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      // a broadcast-literal bit array probed inside whole-stage codegen
      val probe = GraftSqlBridge.column(
        BloomFilterMightContain(
          Literal.create(bos.toByteArray, BinaryType),
          GraftSqlBridge.expression(xxhash64(col(keyCol)))
        )
      )
      left
        .filter(col(keyCol).isNotNull && probe)
        .join(keys, Seq(keyCol), "left_semi")
    }
  }
}
