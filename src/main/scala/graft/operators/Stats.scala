package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributional statistics over large columns (north-star extension; no
  * reference counterpart): fixed-width histograms and percentile
  * winsorization — the building blocks of corpus profiling (length/score
  * distributions) and outlier-robust feature scaling.
  *
  * Everything is expressed as codegen'd per-row arithmetic plus hash
  * aggregates; the only shuffles are keyed by bin or group. Bounds are
  * computed once on a tiny per-group table and broadcast back — the big
  * side streams through unchanged.
  */
object Stats {

  /** Fixed-width histogram of `valueCol` over [lo, hi): `nBins` equal bins,
    * bin i covering [lo + i*w, lo + (i+1)*w). Out-of-range values clamp
    * into the edge bins (so counts always total the non-null row count);
    * drop them upstream if truncation is wanted. Returns one row per
    * OCCUPIED bin: (bin, bin_lo, bin_hi, n) — join against a generated
    * bin spine if empty bins must appear.
    *
    * Scale shape: one map-side-combined hash aggregate on the bin index —
    * at most nBins rows reach the shuffle per partition. */
  def histogram(
      df: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      nBins: Int
  ): DataFrame = {
    require(nBins >= 1, "nBins must be >= 1")
    require(hi > lo, "hi must be > lo")
    val v = col(valueCol).cast("double")
    val width = (lit(hi) - lit(lo)) / lit(nBins)
    val bin = least(
      lit(nBins - 1),
      greatest(lit(0), floor((v - lit(lo)) / width))
    ).cast("int")
    df.filter(v.isNotNull)
      .select(bin.as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", round(lit(lo) + col("bin") * width, 6))
      .withColumn("bin_hi", round(lit(lo) + (col("bin") + 1) * width, 6))
      .select("bin", "bin_lo", "bin_hi", "n")
  }

  /** Distributed running (inclusive prefix) sums of `sumCols` over rows
    * ordered by `orderCol` (within optional `grpCols` groups) WITHOUT any
    * unpartitioned window — the scale-safe replacement for
    * `Window.orderBy(...)` over a distinct-value table, whose single task
    * becomes the bottleneck once the value grid approaches corpus size.
    *
    * Three partitioned steps: (1) range-partition by (group, order) so
    * each task owns a contiguous slice of the order; (2) per-slice partial
    * totals — a tiny table bounded by `parts` (x groups), whose cumulative
    * offsets come from a triangular self-join (never a window, so plans
    * stay free of unpartitioned WindowExec); (3) a per-slice local running
    * sum plus the broadcast offset. Results are exact integers, invariant
    * to WHERE the range sampler draws its boundaries — but only because
    * the ranged frame is materialized exactly once (localCheckpoint below)
    * before the plan branches: the totals aggregate and the final probe
    * join both consume `__pid`, and without the materialization Catalyst's
    * column pruning gives the two branches DIFFERENT exchange subtrees
    * whose range samplers can each draw their own boundaries (seeded per
    * physical RDD), so a probe row's `__pid` need not match the pid its
    * offset was computed under — silent corruption, and only at the scale
    * where the sampler stops seeing every row, exactly where tests can't
    * reach. One shared physical shuffle makes pid assignment a fixed fact
    * both branches read. The checkpoint also means a lost executor fails
    * the job loudly (block not found) rather than re-sampling; callers
    * pass distinct-value tables, so the materialized footprint is the
    * reduced grid, not the corpus.
    *
    * `orderCol` must be unique within a group (callers pass pre-grouped
    * distinct-value tables, so it is). Adds `__run_<c>` = inclusive
    * running sum for each `c` in `sumCols`; exclusive = `__run_<c> - c`.
    */
  private[graft] def rangedRunningSums(
      df: DataFrame,
      grpCols: Seq[String],
      orderCol: String,
      sumCols: Seq[String],
      parts: Int = 0
  ): DataFrame =
    rangedRunningSumsWithTotals(df, grpCols, orderCol, sumCols, parts)._1

  /** [[rangedRunningSums]] plus the per-slice totals table it builds
    * internally (columns: grpCols..., `__pid`, `__t_<c>` per sumCol) —
    * callers that also need per-group grand totals (e.g.
    * [[exactPercentileBounds]]' target-rank table) aggregate THIS tiny
    * (groups x slices)-row table instead of re-scanning the corpus for a
    * second `groupBy(grp).sum` — one fewer full pass over the data. */
  private[graft] def rangedRunningSumsWithTotals(
      df: DataFrame,
      grpCols: Seq[String],
      orderCol: String,
      sumCols: Seq[String],
      parts: Int = 0
  ): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val p =
      if (parts > 0) parts
      else
        math.max(
          1,
          math.min(
            df.sparkSession.sessionState.conf.numShufflePartitions,
            1000
          )
        )
    val rangeKeys = (grpCols :+ orderCol).map(col)
    // NOTE (measured, do not re-try): lazily checkpointing the INPUT here
    // to spare the range partitioner's boundary sampler a re-run of the
    // caller's grid lineage makes things WORSE under AQE — the sampler's
    // child is the already-materialized exchange stage of the caller's
    // aggregate, so the "re-run" is only shuffle-read + final agg, while
    // the checkpoint pays a full store+read of the grid (probe: winsorize
    // input bytes 183->240 MB, wall 3.7->5.8 s; gini 1.6->3.2 s at sf0.1).
    // materialize ONCE before branching: totals and the probe join must
    // read the same physical pid assignment (scaladoc: boundary-divergence
    // hazard). localCheckpoint (not persist) so cleanup is GC-driven — a
    // library helper can't know when its caller is done with the result.
    val ranged = df
      .repartitionByRange(p, rangeKeys: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val totalAggs = sumCols.map(c => sum(col(c)).as(s"__t_$c"))
    val totals = ranged
      .groupBy((grpCols :+ "__pid").map(col): _*)
      .agg(totalAggs.head, totalAggs.tail: _*)
    val lhs = totals.select(
      grpCols.zipWithIndex.map { case (c, i) => col(c).as(s"__ag_$i") } :+
        col("__pid").as("__a_pid"): _*
    )
    val rhs = totals.select(
      grpCols.zipWithIndex.map { case (c, i) => col(c).as(s"__bg_$i") } ++
        Seq(col("__pid").as("__b_pid")) ++
        sumCols.map(c => col(s"__t_$c").as(s"__bt_$c")): _*
    )
    val triCond = grpCols.indices
      .map(i => lhs(s"__ag_$i") <=> rhs(s"__bg_$i"))
      .foldLeft(rhs("__b_pid") < lhs("__a_pid"))(_ && _)
    val offsets = lhs
      .join(rhs, triCond, "left")
      .groupBy(
        (grpCols.indices.map(i => col(s"__ag_$i")) :+ col("__a_pid")): _*
      )
      .agg(
        sumCols.map(c =>
          coalesce(sum(col(s"__bt_$c")), lit(0L)).as(s"__off_$c")
        ).head,
        sumCols.map(c =>
          coalesce(sum(col(s"__bt_$c")), lit(0L)).as(s"__off_$c")
        ).tail: _*
      )
    val backCond = grpCols.zipWithIndex
      .map { case (c, i) => ranged(c) <=> offsets(s"__ag_$i") }
      .foldLeft(ranged("__pid") === offsets("__a_pid"))(_ && _)
    val w = Window
      .partitionBy((grpCols :+ "__pid").map(col): _*)
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val runs = sumCols.map(c =>
      (col(s"__off_$c") + sum(col(c)).over(w)).as(s"__run_$c")
    )
    val out = ranged
      .join(broadcast(offsets), backCond)
      .select(df.columns.map(col) ++ runs: _*)
    (out, totals)
  }

  /** Exact per-group percentiles with Spark `percentile` semantics
    * (ascending sort, position `p * (n-1)`, linear interpolation between
    * the floor/ceil order statistics) computed WITHOUT the O(rows)
    * single-task aggregation buffer the builtin needs: one hash aggregate
    * to the distinct-value table, a [[rangedRunningSums]] prefix pass, and
    * a broadcast range-join of the tiny (group x prob) target-rank table
    * against it. Exactly one distinct-value row owns each target rank, so
    * the join is 1:1. NULL values are excluded (builtin semantics);
    * groups whose values are all NULL simply don't appear — callers that
    * must keep them left-join from their own group list.
    *
    * Returns one row per group: grpCols..., `__pcts` array<double> in
    * `probs` order (interpolation reproduces the builtin's
    * `lo*(hi-pos) + hi*(pos-lo)` evaluation order bit-for-bit).
    *
    * SCOPE BOUND (exact mode): the broadcast target/offset tables are
    * O(groups x probs) and O(groups x min(parts, 1000)) rows, and the
    * triangular offset join is O(groups x parts^2) pairs — fine for the
    * oracle/profiling group cardinalities this path exists for (up to
    * ~10^5 groups at default parts stays well under the broadcast
    * threshold), but a HIGH-cardinality groupCols in exact mode will blow
    * the broadcast; use the sketch-based default paths there (they have
    * no such table).
    */
  private[graft] def exactPercentileBounds(
      df: DataFrame,
      grpCols: Seq[String],
      valueCol: String,
      probs: Seq[Double]
  ): DataFrame = {
    require(probs.nonEmpty, "at least one percentile required")
    require(probs.forall(p => p >= 0 && p <= 1), "probs must be in [0, 1]")
    val base = df
      .select(
        grpCols.map(col) :+ col(valueCol).cast("double").as("__v"): _*
      )
      .filter(col("__v").isNotNull)
    val counts = base
      .groupBy((grpCols :+ "__v").map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val (runs0, totals) =
      rangedRunningSumsWithTotals(counts, grpCols, "__v", Seq("__c"))
    val runs = runs0.withColumn("__lo_rank", col("__run___c") - col("__c"))
    // per-group n from the (groups x slices) totals table the prefix pass
    // already built — NOT a second corpus-wide groupBy(grp).sum, which
    // would re-scan and re-aggregate the full input (guide §2.4: remove
    // shuffles outright; this one's answer already exists in a tiny table)
    val ntab = totals
      .groupBy(grpCols.map(col): _*)
      .agg(sum("__t___c").as("__n"))
    val probEntries = probs.zipWithIndex.map { case (pr, i) =>
      struct(lit(i).as("__i"), lit(pr).as("__p"))
    }
    val targets = ntab
      .select(
        grpCols.map(col) ++ Seq(
          col("__n"),
          explode(array(probEntries: _*)).as("__pe")
        ): _*
      )
      .select(
        grpCols.map(col) ++ Seq(
          col("__pe.__i").as("__i"),
          (col("__pe.__p") * (col("__n") - 1).cast("double")).as("__pos")
        ): _*
      )
      .withColumn("__klo", floor(col("__pos")).cast("long"))
      .withColumn("__khi", ceil(col("__pos")).cast("long"))
    // ONE probe of the running-sum grid for BOTH order statistics: each
    // (group, prob) target explodes to its two ranks (floor side 0, ceil
    // side 1 — identical when __pos is integral), the broadcast join finds
    // the owning distinct-value row per rank in a single pass, and a tiny
    // (groups x probs)-row pivot reassembles (vlo, vhi). The previous
    // formulation probed the grid twice (two broadcast joins, each
    // re-evaluating the offsets aggregate + window sort above) and then
    // joined the two probe outputs — guide §2.4: two operations keyed the
    // same way share one pass.
    val tg = targets
      .select(
        grpCols.zipWithIndex.map { case (c, i) => col(c).as(s"__tg_$i") } ++
          Seq(
            col("__i"),
            col("__pos"),
            col("__klo"),
            col("__khi"),
            explode(
              array(
                struct(col("__klo").as("__rank"), lit(0).as("__side")),
                struct(col("__khi").as("__rank"), lit(1).as("__side"))
              )
            ).as("__rs")
          ): _*
      )
      .select(
        grpCols.indices.map(i => col(s"__tg_$i")) ++ Seq(
          col("__i"),
          col("__pos"),
          col("__klo"),
          col("__khi"),
          col("__rs.__rank").as("__rank"),
          col("__rs.__side").as("__side")
        ): _*
      )
    val cond = grpCols.indices
      .map(i => runs(grpCols(i)) <=> tg(s"__tg_$i"))
      .foldLeft(
        runs("__lo_rank") <= tg("__rank") && tg("__rank") < runs("__run___c")
      )(_ && _)
    val hits = runs
      .join(broadcast(tg), cond)
      .select(
        grpCols.indices.map(i => tg(s"__tg_$i").as(s"__g_$i")) ++ Seq(
          tg("__i").as("__i"),
          tg("__pos").as("__pos"),
          tg("__klo").as("__klo"),
          tg("__khi").as("__khi"),
          tg("__side").as("__side"),
          runs("__v").as("__hv")
        ): _*
      )
    // exactly one grid row owns each rank, so each (group, i, side) has one
    // hit; max/min over the singleton are pure reassembly, not tie-breaks
    val interp = hits
      .groupBy(
        (grpCols.indices.map(i => col(s"__g_$i")) :+ col("__i")): _*
      )
      .agg(
        max(col("__pos")).as("__pos"),
        max(col("__klo")).as("__klo"),
        max(col("__khi")).as("__khi"),
        max(when(col("__side") === 0, col("__hv"))).as("__vlo"),
        max(when(col("__side") === 1, col("__hv"))).as("__vhi")
      )
      .select(
        grpCols.indices.map(i => col(s"__g_$i")) ++ Seq(
          col("__i"),
          when(col("__klo") === col("__khi"), col("__vlo"))
            .otherwise(
              col("__vlo") * (col("__khi").cast("double") - col("__pos")) +
                col("__vhi") * (col("__pos") - col("__klo").cast("double"))
            )
            .as("__val")
        ): _*
      )
    interp
      .groupBy(grpCols.indices.map(i => col(s"__g_$i")): _*)
      .agg(
        transform(
          sort_array(collect_list(struct(col("__i"), col("__val")))),
          s => s.getField("__val")
        ).as("__pcts")
      )
      .select(
        grpCols.zipWithIndex.map { case (c, i) => col(s"__g_$i").as(c) } :+
          col("__pcts"): _*
      )
  }

  /** Winsorize `valueCol` within each group: clip to the group's exact
    * [pLow, pHigh] percentiles (linear interpolation, bounds rounded to 6
    * decimals so the clip thresholds are engine-reproducible). Adds
    * `<valueCol>_wins` (clipped value), `__p_lo`, `__p_hi`.
    *
    * Scale shape: the bounds table has one row per group — computed with
    * one aggregate over the big side, then broadcast; the data side
    * streams through a per-row least/greatest with no extra shuffle. */
  def winsorize(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      pLow: Double = 0.05,
      pHigh: Double = 0.95,
      exact: Boolean = false
  ): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(
      pLow >= 0 && pHigh <= 1 && pLow < pHigh,
      "need 0 <= pLow < pHigh <= 1"
    )
    // The DEFAULT is the mergeable percentile_approx sketch (O(accuracy)
    // state), the 100 TB path; exact = true gives the builtin-identical
    // engine-reproducible bounds for oracle checking — computed via
    // [[exactPercentileBounds]] (distinct-value table + partitioned
    // prefix sums), NOT the builtin `percentile`, whose O(group rows)
    // single-task aggregation buffer is a memory wall at corpus scale.
    val bounds =
      if (!exact)
        df.groupBy(groupCols.map(col): _*)
          .agg(
            round(expr(s"percentile_approx($valueCol, ${pLow}D, 10000)"), 6)
              .as("__p_lo"),
            round(expr(s"percentile_approx($valueCol, ${pHigh}D, 10000)"), 6)
              .as("__p_hi")
          )
      else {
        val pb = exactPercentileBounds(df, groupCols, valueCol,
          Seq(pLow, pHigh))
          .select(
            groupCols.zipWithIndex.map { case (c, i) =>
              col(c).as(s"__pb_$i")
            } ++ Seq(
              round(element_at(col("__pcts"), 1), 6).as("__p_lo"),
              round(element_at(col("__pcts"), 2), 6).as("__p_hi")
            ): _*
          )
        // groups whose values are all NULL have no percentile rows but
        // must keep their data rows (with NULL bounds -> no clipping),
        // exactly like the builtin aggregate's NULL result
        val groups = df.select(groupCols.map(col): _*).distinct()
        val cond = groupCols.zipWithIndex
          .map { case (c, i) => groups(c) <=> pb(s"__pb_$i") }
          .reduce(_ && _)
        groups
          .join(pb, cond, "left")
          .select(
            groupCols.map(groups(_)) ++
              Seq(col("__p_lo"), col("__p_hi")): _*
          )
      }
    df.join(broadcast(bounds), groupCols)
      .withColumn(
        s"${valueCol}_wins",
        least(greatest(col(valueCol), col("__p_lo")), col("__p_hi"))
      )
  }

  /** Data-quality profile: one long-format row per requested column with
    * total rows, null count, distinct count, and min/max rendered as
    * strings (so heterogeneous column types share one schema).
    *
    * `approxDistinct = false` is exact. It does NOT use the builtin
    * multi-column `count(distinct)`, which Spark plans through an Expand —
    * every input row is replicated |cols|+1 times into ONE wide shuffle
    * whose final merge funnels through a single aggregation task. Instead
    * each column gets its own two-level distinct aggregate
    * (`groupBy(col) -> count`): partial aggregation collapses repeats
    * map-side, so the shuffle carries each column's per-partition DISTINCT
    * values instead of |cols|+1 corpus copies, the scans read exactly one
    * parquet column each (pruned ReadSchema), and the per-column counts
    * merge in parallel rather than in one Expand sink. The tiny one-row
    * results are broadcast-joined back onto the base stats row. Exact
    * integers either way — output values are identical to the Expand plan.
    * At corpus scale pass `approxDistinct = true`: HyperLogLog++ sketches
    * merge map-side, profiling any number of columns in ONE streaming pass
    * (~2% default relative error, asserted in tests). */
  def profile(
      df: DataFrame,
      cols: Seq[String],
      approxDistinct: Boolean = false
  ): DataFrame = {
    require(cols.nonEmpty, "at least one column required")
    cols.foreach(c =>
      require(df.columns.contains(c), s"no such column: $c")
    )
    val baseAggCols = count(lit(1)).as("__n") +: cols.flatMap(c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c")
      ) ++ (if (approxDistinct)
              Seq(approx_count_distinct(col(c)).as(s"__nd_$c"))
            else Nil)
    )
    val baseAgg = df.agg(baseAggCols.head, baseAggCols.tail: _*)
    val agg =
      if (approxDistinct) baseAgg
      else
        cols.foldLeft(baseAgg) { (acc, c) =>
          // countDistinct semantics: distinct NON-NULL values
          val nd = df
            .select(col(c).as("__dv"))
            .filter(col("__dv").isNotNull)
            .distinct()
            .agg(count(lit(1)).as(s"__nd_$c"))
          acc.crossJoin(broadcast(nd))
        }
    val entries = array(
      cols.map(c =>
        struct(
          lit(c).as("column"),
          col(s"__nulls_$c").as("n_null"),
          col(s"__nd_$c").as("n_distinct"),
          col(s"__min_$c").as("min_value"),
          col(s"__max_$c").as("max_value")
        )
      ): _*
    )
    agg
      .select(col("__n").as("n"), explode(entries).as("__p"))
      .select(
        col("__p.column").as("column"),
        col("n"),
        col("__p.n_null").as("n_null"),
        col("__p.n_distinct").as("n_distinct"),
        col("__p.min_value").as("min_value"),
        col("__p.max_value").as("max_value")
      )
  }

  /** Z-score standardization: adds `<c>_z = (x - mean) / stddev` for each
    * listed numeric column (sample stddev, n-1). The sums `sum(x)` and
    * `sum(x^2)` are accumulated in DECIMAL — EXACT and independent of
    * partitioning, so the usual float-sum drift that makes standardized
    * features differ run-to-run (and engine-to-engine) cannot happen; the
    * moments themselves are then plain IEEE double arithmetic over those
    * exact sums. Constant columns (stddev 0) standardize to NULL.
    * Z-scores are rounded to `scale` decimals (default 6) for cross-engine
    * reproducibility of the final division/sqrt.
    *
    * NULL handling matches SQL aggregate semantics: each column's n is
    * `count(col)` (nulls excluded), so a column with nulls gets unbiased
    * moments over its non-null values and null rows standardize to NULL.
    *
    * `sumDecimal` is the accumulator type: the default decimal(19,4)
    * quantizes inputs to 4 decimals and requires |x| < 1e15 (overflow
    * yields NULL sums under non-ANSI). Widen it for finer-grained or
    * larger-magnitude inputs — both engines of a cross-engine check must
    * use the same width, since it changes the quantization.
    *
    * Scale shape: ONE global aggregate produces a single stats row for all
    * columns, broadcast back via a crossJoin; the data side streams
    * through per-row arithmetic with no extra shuffle.
    */
  def standardize(
      df: DataFrame,
      cols: Seq[String],
      scale: Int = 6,
      groupCols: Seq[String] = Nil,
      sumDecimal: String = "decimal(19,4)"
  ): DataFrame = {
    require(cols.nonEmpty, "at least one column required")
    cols.foreach(c => require(df.columns.contains(c), s"no such column: $c"))
    def d(c: String) = col(c).cast(sumDecimal)
    // per-column n = count(col): sum() skips nulls, so a shared count(*)
    // would bias the mean/stddev of any column containing nulls
    val aggCols = cols.flatMap(c =>
      Seq(
        count(col(c)).cast("double").as(s"__n_$c"),
        sum(d(c)).cast("double").as(s"__s_$c"),
        sum(d(c) * d(c)).cast("double").as(s"__ss_$c")
      )
    )
    // groupCols: per-group moments (one tiny row per group, broadcast
    // back) — per-cohort feature scaling without a second shuffle
    val joined =
      if (groupCols.isEmpty) {
        val stats = df.agg(aggCols.head, aggCols.tail: _*)
        df.crossJoin(broadcast(stats))
      } else {
        val stats = df.groupBy(groupCols.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
        df.join(broadcast(stats), groupCols)
      }
    cols
      .foldLeft(joined) { (acc, c) =>
        val n = col(s"__n_$c")
        val mean = col(s"__s_$c") / n
        // sample variance over the exact sums:
        // (sum(x^2) - sum(x)^2 / n) / (n - 1)
        val varS = (col(s"__ss_$c") - col(s"__s_$c") * col(s"__s_$c") / n) /
          (n - lit(1.0))
        val std = sqrt(varS)
        acc.withColumn(
          s"${c}_z",
          round((col(c).cast("double") - mean) / when(std > 0, std), scale)
        )
      }
      .drop(cols.flatMap(c => Seq(s"__n_$c", s"__s_$c", s"__ss_$c")): _*)
  }

  /** Pairwise Pearson correlation matrix in LONG format: one row
    * (col_a, col_b, n, corr) per unordered column pair, computed from
    * EXACT decimal sums like [[standardize]] (sum, sum-of-squares and
    * cross-sum accumulate in DECIMAL — order-independent and
    * engine-exact — then one double formula per pair):
    * corr = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2)).
    * Null handling: pairwise-complete by default (each pair's sums cover
    * only rows where BOTH columns are non-null — R's
    * `use = "pairwise.complete.obs"`); `completeCase = true` drops rows
    * with ANY null among `cols` first (`use = "complete.obs"`), which lets
    * every pair SHARE one n and one sum/sum-of-squares per column —
    * 1 + 2k + k(k-1)/2 decimal sums instead of 6·k(k-1)/2 (10 vs 18 at
    * k=3). On null-free data the two modes are value-identical; prefer
    * complete-case on wide matrices. Constant columns yield NULL.
    *
    * Scale shape: ONE global aggregate computes all sums in a single
    * streaming pass (map-side combined); the long-format explode happens
    * on the single result row. `sumDecimal` has the same
    * quantization/range contract as [[standardize]].
    */
  def correlationMatrix(
      df: DataFrame,
      cols: Seq[String],
      scale: Int = 6,
      sumDecimal: String = "decimal(19,4)",
      completeCase: Boolean = false
  ): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    cols.foreach(c => require(df.columns.contains(c), s"no such column: $c"))
    def d(c: String) = col(c).cast(sumDecimal)
    val pairs = for {
      i <- cols.indices
      j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggCols =
      if (completeCase)
        // sums shared across pairs: rows are pre-filtered to be complete,
        // so no per-pair null guard is needed and each column's sx/sxx is
        // computed once
        Seq(count(lit(1)).cast("double").as("__n")) ++
          cols.flatMap { c =>
            Seq(
              sum(d(c)).cast("double").as(s"__s_$c"),
              sum(d(c) * d(c)).cast("double").as(s"__sq_$c")
            )
          } ++ pairs.map { case (a, b) =>
            sum(d(a) * d(b)).cast("double").as(s"__sxy_${a}_$b")
          }
      else
        pairs.flatMap { case (a, b) =>
          val both = col(a).isNotNull && col(b).isNotNull
          Seq(
            sum(when(both, 1L)).cast("double").as(s"__n_${a}_$b"),
            sum(when(both, d(a))).cast("double").as(s"__sx_${a}_$b"),
            sum(when(both, d(b))).cast("double").as(s"__sy_${a}_$b"),
            sum(when(both, d(a) * d(a))).cast("double").as(s"__sxx_${a}_$b"),
            sum(when(both, d(b) * d(b))).cast("double").as(s"__syy_${a}_$b"),
            sum(when(both, d(a) * d(b))).cast("double").as(s"__sxy_${a}_$b")
          )
        }
    val src = df.select(cols.distinct.map(col): _*)
    val complete =
      if (completeCase)
        src.filter(cols.map(col(_).isNotNull).reduce(_ && _))
      else src
    // 10-36 exact-decimal sums per row are CPU-heavy: don't let a
    // single-split source serialize the pass onto one core (the decimal
    // sums are order-independent, so the repartition cannot change values)
    val agg = ScanUtils
      .withScanParallelism(complete)
      .agg(aggCols.head, aggCols.tail: _*)
    val entries = array(pairs.map { case (a, b) =>
      val n = if (completeCase) col("__n") else col(s"__n_${a}_$b")
      val sx = if (completeCase) col(s"__s_$a") else col(s"__sx_${a}_$b")
      val sy = if (completeCase) col(s"__s_$b") else col(s"__sy_${a}_$b")
      val sxx = if (completeCase) col(s"__sq_$a") else col(s"__sxx_${a}_$b")
      val syy = if (completeCase) col(s"__sq_$b") else col(s"__syy_${a}_$b")
      val sxy = col(s"__sxy_${a}_$b")
      val num = n * sxy - sx * sy
      val den = sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      struct(
        lit(a).as("col_a"),
        lit(b).as("col_b"),
        n.cast("long").as("n"),
        round(num / when(den > 0, den), scale).as("corr")
      )
    }: _*)
    agg
      .select(explode(entries).as("__p"))
      .select(col("__p.col_a"), col("__p.col_b"), col("__p.n"), col("__p.corr"))
  }

  /** Spearman rank correlation of two numeric columns — the monotone-
    * association companion to [[correlationMatrix]]'s Pearson (robust to
    * outliers and any monotone transform: does quality score rise with
    * length AT ALL, not just linearly). Standard average-rank ties
    * (fractional-rank / "mid-rank" convention), complete-case rows.
    *
    * Exactness: average ranks are computed DOUBLED so they stay integers
    * (`2*rank = 2*runningCount - ties + 1`), and the whole Pearson-on-
    * ranks formula runs on exact decimal integer sums until ONE final
    * double division — engine-portable bit-for-bit, the
    * [[correlationMatrix]] treatment with the quantization step made
    * unnecessary by rank integrality. Exact while n^4 < 1e38/16
    * (n ~ 1e9 rows); a constant column yields NULL rho.
    *
    * Scale shape: the corpus reduces to the (a, b) PAIR grid with
    * multiplicities (map-side combined); the per-side value counts are
    * grid-sized aggregates of it, and ONE [[rangedRunningSums]] pass
    * ranks both sides with the side as its group key — never an
    * unpartitioned window, so a near-unique value grid (doubles usually
    * are) does not funnel one task. The rank tables join back onto the
    * GRID (grid-sized joins, moment sums weighted by multiplicity), not
    * onto the corpus. Nothing corpus-sized is checkpointed: the grid can
    * approach corpus size for continuous columns, so its aggregate is
    * recomputed (exchange-reused within each compiled plan) rather than
    * stored; only the distinct-value rank grid is materialized. */
  def spearmanCorrelation(
      df: DataFrame,
      colA: String,
      colB: String,
      scale: Int = 6
  ): DataFrame = {
    Seq(colA, colB).foreach(c =>
      require(df.columns.contains(c), s"no such column: $c")
    )
    val base = df
      .select(
        col(colA).cast("double").as("__a"),
        col(colB).cast("double").as("__b")
      )
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    // The (a, b) PAIR grid with multiplicities: every downstream quantity
    // is a weighted sum over this grid — the per-side value counts derive
    // from grid-sized aggregates of it, the rank tables join back onto IT
    // (grid-sized joins) instead of onto the corpus (guide §8: decide
    // with small rows; §2.3: aggregate before you shuffle). NOT
    // checkpointed: for a near-continuous column the grid is
    // near-corpus-sized, so a localCheckpoint pays a corpus-sized
    // store+read (a spill hazard at scale — round-14's one measured
    // regression, 4.2→7.3 s). The grid's exchange subtree is identical
    // under all three consumers, so exchange reuse dedupes it within each
    // compiled plan; only the plans on either side of the ranks
    // checkpoint each pay the aggregate once.
    val pairs = base
      .groupBy("__a", "__b")
      .agg(count(lit(1)).as("__c"))
    val counts = pairs
      .groupBy(col("__a").as("__v"))
      .agg(sum(col("__c")).as("__c"))
      .select(lit("a").as("__side"), col("__v"), col("__c"))
      .unionByName(
        pairs
          .groupBy(col("__b").as("__v"))
          .agg(sum(col("__c")).as("__c"))
          .select(lit("b").as("__side"), col("__v"), col("__c"))
      )
    // materialize the (side, value, doubled-rank) grid ONCE: it is probed
    // twice below (side a, side b), and without the checkpoint each probe
    // re-evaluates the whole prefix-sum chain above it — the per-slice
    // totals aggregate, the triangular offset join and the window sort all
    // run twice for identical results (guide §2.4 / §5: cache a reused
    // intermediate whose recompute costs more than its footprint; the grid
    // is distinct-value-sized, not corpus-sized). Lazy, so materialization
    // rides the consuming job; also gives AQE an exact size for the two
    // rank joins instead of a lineage estimate.
    val ranks = rangedRunningSums(counts, Seq("__side"), "__v", Seq("__c"))
      .select(
        col("__side"),
        col("__v"),
        (lit(2L) * col("__run___c") - col("__c") + lit(1L)).as("__dr")
      )
      .localCheckpoint(false)
    def sideRanks(side: String, vc: String) = ranks
      .filter(col("__side") === side)
      .select(col("__v").as(vc), col("__dr").as(s"__dr$vc"))
    // grid-sized rank join-back: each pair row carries its multiplicity,
    // so the moment sums weight by __c — identical integers to the
    // per-row formulation (decimal sums are exact and order-independent)
    val joined = pairs
      .join(sideRanks("a", "__a"), Seq("__a"))
      .join(sideRanks("b", "__b"), Seq("__b"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val cw = dec(col("__c"))
    val agg = joined.agg(
      // coalesce: on an empty (or all-null) input the join is empty and
      // sum() would yield n = NULL where the previous per-row count (and
      // the oracle's count(*)) yield 0
      coalesce(sum(col("__c")), lit(0L)).as("__n"),
      sum(cw * col("__dr__a")).as("__sx"),
      sum(cw * col("__dr__b")).as("__sy"),
      sum(cw * col("__dr__a") * col("__dr__a")).as("__sxx"),
      sum(cw * col("__dr__b") * col("__dr__b")).as("__syy"),
      sum(cw * col("__dr__a") * col("__dr__b")).as("__sxy")
    )
    val n = dec(col("__n"))
    val va = n * col("__sxx") - col("__sx") * col("__sx")
    val vb = n * col("__syy") - col("__sy") * col("__sy")
    val num = (n * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val rho = num / (sqrt(va.cast("double")) * sqrt(vb.cast("double")))
    agg.select(
      col("__n").as("n"),
      round(
        when(col("__n") > 0 && va > 0 && vb > 0, rho),
        scale
      ).as("spearman_rho")
    )
  }

  /** Classifier-calibration threshold sweep: for each cutoff in
    * `thresholds`, the confusion counts and precision/recall/F1 of the
    * rule `predict positive iff score >= threshold` against a boolean
    * label — how you pick the operating point of a quality filter
    * before applying it to the corpus. Rows with a NULL score or label
    * are excluded; metrics with a zero denominator are NULL; ratios are
    * rounded to `scale` decimals (engine parity).
    *
    * Scale shape: ONE streaming aggregate computes 2 shared counts plus
    * 2 conditional counts per threshold (all codegen'd longs, map-side
    * combined); the per-threshold explode happens on the single result
    * row — the same one-pass shape as [[correlationMatrix]]. Never a
    * sort, never a per-threshold pass over the data.
    */
  def thresholdSweep(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      thresholds: Seq[Double],
      scale: Int = 6
  ): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    require(thresholds == thresholds.sorted, "thresholds must be ascending")
    val s = col("__s")
    val lbl = col("__l")
    val ok = s.isNotNull && lbl.isNotNull
    val aggCols =
      Seq(
        sum(when(ok, 1L).otherwise(0L)).as("__total"),
        sum(when(ok && lbl, 1L).otherwise(0L)).as("__pos")
      ) ++ thresholds.zipWithIndex.flatMap { case (t, i) =>
        Seq(
          sum(when(ok && s >= t, 1L).otherwise(0L)).as(s"__pp_$i"),
          sum(when(ok && lbl && s >= t, 1L).otherwise(0L)).as(s"__tp_$i")
        )
      }
    val agg = ScanUtils
      .withScanParallelism(
        df.select(
          col(scoreCol).cast("double").as("__s"),
          col(labelCol).cast("boolean").as("__l")
        )
      )
      .agg(aggCols.head, aggCols.tail: _*)
    val entries = array(thresholds.zipWithIndex.map { case (t, i) =>
      val tp = coalesce(col(s"__tp_$i"), lit(0L))
      val pp = coalesce(col(s"__pp_$i"), lit(0L))
      val pos = coalesce(col("__pos"), lit(0L))
      val total = coalesce(col("__total"), lit(0L))
      val fp = pp - tp
      val fn = pos - tp
      val tn = total - pp - fn
      val prec = when(pp > 0, tp.cast("double") / pp)
      val rec = when(pos > 0, tp.cast("double") / pos)
      val f1 = when(
        prec.isNotNull && rec.isNotNull && (prec + rec) > 0,
        lit(2.0) * prec * rec / (prec + rec)
      )
      struct(
        lit(t).as("threshold"),
        tp.as("tp"), fp.as("fp"), fn.as("fn"), tn.as("tn"),
        round(prec, scale).as("precision"),
        round(rec, scale).as("recall"),
        round(f1, scale).as("f1")
      )
    }: _*)
    agg
      .select(explode(entries).as("__e"))
      .select(
        col("__e.threshold"), col("__e.tp"), col("__e.fp"), col("__e.fn"),
        col("__e.tn"), col("__e.precision"), col("__e.recall"), col("__e.f1")
      )
  }

  /** Exact tie-aware ROC AUC of a score against a boolean label — the
    * single-number companion to [[thresholdSweep]] (Mann-Whitney U /
    * rank-sum form, ties counted half):
    *
    *   AUC = (2*R_pos - np*(np+1)) / (2*np*nn)
    *
    * where `R_pos` is the ascending-rank sum of positives with average
    * ranks on ties. The whole computation stays in INTEGERS until the
    * final division (`2*R_pos` is integral even with .5 average ranks),
    * accumulated in decimal — exact, order-independent, and
    * engine-portable at any corpus size. Returns one row
    * (n_pos, n_neg, auc); AUC is NULL when either class is empty.
    * Scores are pre-rounded to `scoreDecimals` (same quantization
    * contract as `Splits.selectByTokenBudget`) so the distinct-score
    * table is bounded by `range(score) * 10^scoreDecimals` regardless
    * of corpus size. NOTE the range factor: for probabilities/log-odds
    * the default is provably tiny, but for unbounded scores (raw
    * counts, unclipped logits) lower `scoreDecimals` to keep the
    * distinct-score table bounded — rounding is a no-op on values whose
    * magnitude already exceeds the decimal budget.
    *
    * Scale shape: one hash aggregate groups rows by (rounded) score —
    * map-side combined, the only pass over the data; the running counts
    * over the DISTINCT-SCORE table come from [[rangedRunningSums]]'s
    * partitioned two-pass prefix sum (range-partition, per-slice totals,
    * broadcast offsets) — NO unpartitioned window anywhere, so even a
    * score grid approaching corpus size never collapses onto one task;
    * one more one-row aggregate finishes. Never a global sort of rows.
    */
  def aucRoc(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      scale: Int = 6,
      scoreDecimals: Int = 6
  ): DataFrame = {
    val byScore = ScanUtils
      .withScanParallelism(
        df.select(
          round(col(scoreCol).cast("double"), scoreDecimals).as("__s"),
          col(labelCol).cast("boolean").as("__l")
        )
      )
      .filter(col("__s").isNotNull && col("__l").isNotNull)
      .groupBy("__s")
      .agg(
        sum(when(col("__l"), 1L).otherwise(0L)).as("__p"),
        count(lit(1)).as("__c")
      )
    // partitioned two-pass prefix sum — never an unpartitioned window,
    // so a fine score grid cannot collapse the rank pass onto one task
    val ranked = rangedRunningSums(byScore, Nil, "__s", Seq("__c"))
      .withColumn("__before", col("__run___c") - col("__c"))
    // decimal BEFORE the multiply: p and before are each up to corpus
    // cardinality, so the product overflows long at multi-billion rows
    val dp = col("__p").cast("decimal(38,0)")
    val agg = ranked.agg(
      sum(col("__p")).as("__np"),
      sum(col("__c") - col("__p")).as("__nn"),
      // 2*R_pos: p * (2*before + c + 1) is exact in integers
      sum(
        dp * (lit(2).cast("decimal(38,0)") * col("__before").cast("decimal(38,0)") +
          col("__c").cast("decimal(38,0)") + lit(1).cast("decimal(38,0)"))
      ).as("__r2")
    )
    val np = col("__np").cast("decimal(38,0)")
    val nn = col("__nn").cast("decimal(38,0)")
    agg.select(
      col("__np").as("n_pos"),
      col("__nn").as("n_neg"),
      round(
        when(
          col("__np") > 0 && col("__nn") > 0,
          (col("__r2") - np * (np + lit(1))).cast("double") /
            (lit(2) * np * nn).cast("double")
        ),
        scale
      ).as("auc")
    )
  }

  /** Cohen's kappa inter-rater agreement (Cohen 1960) — how much two
    * categorical labelings agree BEYOND chance: `kappa = (po - pe) /
    * (1 - pe)` with observed agreement `po` and the chance agreement
    * `pe = sum_c p1(c) * p2(c)` implied by the raters' marginals. The
    * label-quality gate for data curation: two annotators, or a cheap
    * classifier vs gold labels, where raw accuracy flatters skewed label
    * distributions. Returns one row (n, po, pe, kappa); kappa is NULL
    * when pe = 1 (both raters constant — agreement beyond chance is
    * undefined). Rows with a NULL on either side are excluded.
    *
    * Exactness: with integer counts, `kappa = (agree*n - S) / (n*n - S)`
    * where `S = sum_c n1_c * n2_c` — everything stays in integers
    * (decimal-widened) until ONE final division, so the result is exact
    * and order-independent; po/pe are single divisions of exact integers.
    *
    * Scale shape: two streaming aggregates over the data (the row-wise
    * agreement count, and the union-marginal category counts — map-side
    * combined into |categories| groups); the K-row tails crossJoin
    * broadcast. Never a sort, never a window. */
  def cohenKappa(
      df: DataFrame,
      col1: String,
      col2: String,
      scale: Int = 6
  ): DataFrame = {
    val base = ScanUtils
      .withScanParallelism(
        df.select(
          col(col1).cast("string").as("__a"),
          col(col2).cast("string").as("__b")
        )
      )
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    val agree = base.agg(
      count(lit(1)).as("__n"),
      sum(when(col("__a") === col("__b"), 1L).otherwise(0L)).as("__agree")
    )
    val marginals = base
      .select(col("__a").as("__c"), lit(1L).as("__x"), lit(0L).as("__y"))
      .unionByName(
        base.select(col("__b").as("__c"), lit(0L).as("__x"), lit(1L).as("__y"))
      )
      .groupBy("__c")
      .agg(sum("__x").as("__n1"), sum("__y").as("__n2"))
    val chance = marginals.agg(
      sum(col("__n1").cast("decimal(38,0)") * col("__n2").cast("decimal(38,0)"))
        .as("__s")
    )
    val n = col("__n").cast("decimal(38,0)")
    val ag = col("__agree").cast("decimal(38,0)")
    val s = coalesce(col("__s"), lit(0).cast("decimal(38,0)"))
    val den = n * n - s
    agree
      .crossJoin(broadcast(chance))
      .select(
        col("__n").as("n"),
        round(when(col("__n") > 0, ag.cast("double") / n.cast("double")), scale)
          .as("po"),
        round(
          when(col("__n") > 0, s.cast("double") / (n * n).cast("double")),
          scale
        ).as("pe"),
        round(
          when(den > 0, (ag * n - s).cast("double") / den.cast("double")),
          scale
        ).as("kappa")
      )
  }

  /** Two-sample Kolmogorov-Smirnov drift test — the distribution-free
    * companion to [[populationStabilityIndex]] (no binning choices): the
    * KS statistic `D = sup_x |F_a(x) - F_b(x)|` between the empirical
    * CDFs of `valueCol` in two samples, with the value where the sup is
    * attained and the asymptotic scaling `lambda = D * sqrt(na*nb/(na+nb))`
    * (lambda > ~1.36 rejects equality at 5% — read it like PSI's 0.2).
    * Returns one row: (n_a, n_b, ks_stat, ks_at, ks_lambda); the stat
    * columns are NULL when either sample is empty.
    *
    * Exactness: `|ra*nb - rb*na|` keeps the CDF gap in INTEGERS until one
    * final division (the [[aucRoc]] treatment), so the argmax and its
    * tie-break (smallest value) are exact and order-independent; the only
    * float ops are one division and one IEEE-correctly-rounded sqrt, both
    * engine-identical, rounded to `scale`.
    *
    * Scale shape: one hash aggregate groups rows by (rounded) value —
    * map-side combined, the only pass over the data; the running counts
    * over the DISTINCT-VALUE table come from [[rangedRunningSums]]'s
    * partitioned prefix sum (the [[aucRoc]] shape — no unpartitioned
    * window, so a continuous column cannot collapse the rank pass onto
    * one task), and one struct-max aggregate finishes. `valueDecimals`
    * still bounds the distinct grid (`range(value) * 10^valueDecimals`)
    * and remains worth lowering for CONTINUOUS unbounded columns — a
    * smaller grid is cheaper everywhere even though it is no longer a
    * single-task hazard. KS on the quantized grid is still the exact KS
    * of the quantized variable; both samples quantize identically, so no
    * spurious drift is introduced. */
  def ksTwoSample(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      valueDecimals: Int = 6,
      scale: Int = 6
  ): DataFrame = {
    def side(df: DataFrame, ca: Int, cb: Int) = ScanUtils
      .withScanParallelism(
        df.select(round(col(valueCol).cast("double"), valueDecimals).as("__v"))
      )
      .filter(col("__v").isNotNull)
      .select(col("__v"), lit(ca).as("__a"), lit(cb).as("__b"))
    val grouped = side(a, 1, 0)
      .unionByName(side(b, 0, 1))
      .groupBy("__v")
      .agg(
        sum(col("__a").cast("long")).as("__ca"),
        sum(col("__b").cast("long")).as("__cb")
      )
    // partitioned two-pass prefix sums over the distinct-value table —
    // never an unpartitioned window (the [[rangedRunningSums]] shape)
    val (ranked0, sliceTotals) =
      rangedRunningSumsWithTotals(grouped, Nil, "__v", Seq("__ca", "__cb"))
    val ranked = ranked0
      .withColumn("__ra", col("__run___ca"))
      .withColumn("__rb", col("__run___cb"))
    // grand totals from the prefix pass's per-slice totals (a <= parts-row
    // table off the checkpointed grid) — NOT a second union+aggregate over
    // both input corpora (guide §2.4: the answer already exists)
    val totals = sliceTotals.agg(
      sum("__t___ca").as("__na"),
      sum("__t___cb").as("__nb")
    )
    // decimal BEFORE the multiply: the cross products overflow long at
    // multi-billion-row samples
    val num = abs(
      col("__ra").cast("decimal(38,0)") * col("__nb").cast("decimal(38,0)") -
        col("__rb").cast("decimal(38,0)") * col("__na").cast("decimal(38,0)")
    )
    val agg = ranked
      .crossJoin(broadcast(totals))
      .agg(
        // struct max = largest gap, then largest -v = SMALLEST value on ties
        max(struct(num.as("num"), (-col("__v")).as("negv"))).as("__m"),
        first("__na").as("n_a"),
        first("__nb").as("n_b")
      )
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val d = col("__m.num").cast("double") / (na * nb)
    agg.select(
      col("n_a"),
      col("n_b"),
      round(when(col("n_a") > 0 && col("n_b") > 0, d), scale).as("ks_stat"),
      when(col("n_a") > 0 && col("n_b") > 0, -col("__m.negv")).as("ks_at"),
      round(
        when(
          col("n_a") > 0 && col("n_b") > 0,
          d * sqrt(na * nb / (na + nb))
        ),
        scale
      ).as("ks_lambda")
    )
  }

  /** Exact two-sample 1-D Wasserstein-1 (earth mover's) distance — the
    * L1 companion to [[ksTwoSample]]'s sup-norm: where KS reports the
    * WORST CDF gap (one bad quantile dominates), W1 integrates
    * |F_a - F_b| over the value axis, so it sees the TOTAL mass that
    * moved — the drift score that keeps responding after the largest gap
    * saturates, in the original units of the value column (for
    * distribution-shift gates on score/length/price columns between
    * corpus snapshots).
    *
    *   W1 = integral |F_a(v) - F_b(v)| dv
    *      = sum_i |F_a(v_i) - F_b(v_i)| * (v_{i+1} - v_i)
    *
    * over the merged distinct-value grid. Values are quantized to
    * `valueDecimals` micro-units FIRST (`round(v * 10^d)` as long — the
    * [[ksTwoSample]] valueDecimals contract, half-away-from-zero in both
    * engines; |v| must stay below ~9.2e12 at d=6), after which EVERYTHING
    * is integer: per-value counts, prefix sums, the cross-multiplied gap
    * |ra*nb - rb*na|, and the grid step — one exact DECIMAL sum, one
    * division at the end. No float accumulation anywhere, so the result
    * is engine-portable bit-for-bit.
    *
    * Scale shape: corpus reduces to the distinct-value grid in one
    * map-side-combined aggregate; prefix sums ride
    * [[rangedRunningSums]] (never an unpartitioned window); the
    * "next value" comes from a rank self-join on the grid (the running
    * count IS the rank), a grid-sized shuffle. Returns one row:
    * (n_a, n_b, w1). Empty sides yield NULL w1. */
  def wasserstein1(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      valueDecimals: Int = 6,
      scale: Int = 6
  ): DataFrame = {
    val q = math.pow(10, valueDecimals)
    def side(df: DataFrame, ca: Int, cb: Int) = ScanUtils
      .withScanParallelism(
        df.select(
          round(col(valueCol).cast("double") * q).cast("long").as("__vq")
        )
      )
      .filter(col("__vq").isNotNull)
      .select(col("__vq"), lit(ca).as("__a"), lit(cb).as("__b"))
    val grouped = side(a, 1, 0)
      .unionByName(side(b, 0, 1))
      .groupBy("__vq")
      .agg(
        sum(col("__a").cast("long")).as("__ca"),
        sum(col("__b").cast("long")).as("__cb")
      )
      .withColumn("__one", lit(1L))
    val (ranked0, sliceTotals) = rangedRunningSumsWithTotals(
      grouped, Nil, "__vq", Seq("__ca", "__cb", "__one")
    )
    // materialized ONCE (lazy — rides the consuming job): the grid is
    // probed twice below (ranked + its rank-shifted self `nxt`), and each
    // probe would otherwise re-run the offsets aggregate + window sort
    // above it for identical results (the spearman pattern)
    val ranked = ranked0
      .select(
        col("__vq"),
        col("__run___ca").as("__ra"),
        col("__run___cb").as("__rb"),
        col("__run___one").as("__rk")
      )
      .localCheckpoint(false)
    // next grid value via the rank: ranks are dense 1..n by construction
    // (the running count of a distinct-value table), so rank -> rank+1 is
    // a 1:1 equi-join; the last value drops out (inner join), where the
    // term is 0 anyway (both CDFs have reached 1)
    val nxt = ranked.select(
      (col("__rk") - 1).as("__rk"),
      col("__vq").as("__nvq")
    )
    // grand totals from the prefix pass's per-slice totals — not a second
    // union+aggregate over both input corpora
    val totals = sliceTotals.agg(
      sum("__t___ca").as("__na"),
      sum("__t___cb").as("__nb")
    )
    // decimal BEFORE the multiply (the ksTwoSample bound), and the grid
    // step joins the product while still decimal — exact at any corpus
    // size the micro-unit grid admits
    val num = abs(
      col("__ra").cast("decimal(38,0)") * col("__nb").cast("decimal(38,0)") -
        col("__rb").cast("decimal(38,0)") * col("__na").cast("decimal(38,0)")
    )
    // each operand casts to decimal BEFORE the subtraction: adjacent grid
    // values near opposite ends of the +/-9.2e12 quantized bound would
    // overflow a LONG subtraction silently (non-ANSI); decimal(38,0) is
    // exact for any pair of longs
    val term = num *
      (col("__nvq").cast("decimal(38,0)") - col("__vq").cast("decimal(38,0)"))
    // totals ride their own aggregate: a single-distinct-value grid makes
    // the rank join EMPTY (no segments -> W1 = 0), which must not null
    // out n_a/n_b
    val termSum = ranked
      .join(nxt, Seq("__rk"))
      .crossJoin(broadcast(totals))
      .agg(sum(term).as("__s"))
    val w1 = coalesce(col("__s"), lit(0).cast("decimal(38,0)"))
      .cast("double") /
      (col("__na").cast("double") * col("__nb").cast("double") * q)
    totals
      .crossJoin(termSum)
      .select(
        col("__na").as("n_a"),
        col("__nb").as("n_b"),
        round(when(col("__na") > 0 && col("__nb") > 0, w1), scale).as("w1")
      )
  }

  /** Mutual information between two categorical columns — the
    * information-theoretic companion to [[chiSquareIndependence]]'s
    * Cramer's V for feature/association screening (does `source` predict
    * `lang`? is a split column leaking the label?): MI in bits via the
    * entropy identity `MI = H(A) + H(B) - H(A,B)` (three count tables,
    * one shared entropy shape — never the p_xy/(p_x p_y) ratio form,
    * whose per-cell joins triple the shuffle count), plus the
    * sqrt-normalized NMI in [0, 1].
    *
    * Exactness follows the corpusEntropy house pattern: each
    * `-(c/n) log2(c/n)` term is rounded to 9 decimals and summed in
    * DECIMAL (order-independent, engine-portable), the three entropy
    * sums combine in DECIMAL, and NMI derives from the ALREADY-ROUNDED
    * decimal entropies so both engines divide identical doubles.
    *
    * Scale shape: three map-side-combined hash aggregates over the same
    * scan (category- / cell-bounded outputs), three one-row entropy
    * reductions, broadcast-crossed into one row:
    * (n_rows, h_a, h_b, h_ab, mi, nmi). NULL categories are excluded;
    * an empty input yields the row with NULL entropies. */
  def mutualInformation(
      df: DataFrame,
      colA: String,
      colB: String,
      scale: Int = 6
  ): DataFrame = {
    val base = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .select(col(colA).as("__a"), col(colB).as("__b"))
    def entropyOf(counts: DataFrame): DataFrame = {
      val t = counts.agg(coalesce(sum("__c"), lit(0L)).as("__t"))
      val p = col("__c").cast("double") / col("__t")
      val hs = counts
        .crossJoin(broadcast(t))
        .select(
          round(-p * (log(p) / log(lit(2.0))), 9)
            .cast("decimal(19,9)")
            .as("__h")
        )
        .agg(sum("__h").as("__hsum"))
      t.crossJoin(hs)
    }
    val hA = entropyOf(base.groupBy("__a").agg(count(lit(1)).as("__c")))
      .select(col("__t").as("__n"), col("__hsum").as("__ha"))
    val hB = entropyOf(base.groupBy("__b").agg(count(lit(1)).as("__c")))
      .select(col("__hsum").as("__hb"))
    val hAB = entropyOf(
      base.groupBy("__a", "__b").agg(count(lit(1)).as("__c"))
    ).select(col("__hsum").as("__hab"))
    val ha6 = round(col("__ha"), scale)
    val hb6 = round(col("__hb"), scale)
    val hab6 = round(col("__hab"), scale)
    val mi6 = round(col("__ha") + col("__hb") - col("__hab"), scale)
    hA.crossJoin(broadcast(hB))
      .crossJoin(broadcast(hAB))
      .select(
        col("__n").as("n_rows"),
        ha6.cast("double").as("h_a"),
        hb6.cast("double").as("h_b"),
        hab6.cast("double").as("h_ab"),
        mi6.cast("double").as("mi"),
        when(
          ha6 > 0 && hb6 > 0,
          round(
            mi6.cast("double") /
              sqrt(ha6.cast("double") * hb6.cast("double")),
            scale
          )
        ).as("nmi")
      )
  }

  /** Reliability-curve calibration bins + expected calibration error —
    * the companion to [[thresholdSweep]]/[[aucRoc]] that checks whether a
    * quality classifier's scores can be TRUSTED as probabilities before a
    * corpus-wide filter keys decisions off them (Guo et al. 2017,
    * arXiv:1706.04599). Scores are clamped to [0, 1] and bucketed into
    * `bins` equal-width bins (values landing exactly on 1.0 take the last
    * bin); per non-empty bin one row reports (bin, bin_lo, bin_hi, n,
    * mean_score, frac_pos, abs_gap), and every row carries the overall
    *
    *   ece = sum_b (n_b / N) * |mean_b - frac_b|
    *
    * Rows with a NULL score or label are excluded; ratios are rounded to
    * `scale` decimals.
    *
    * Exactness: scores are pre-rounded to `scoreDecimals` and summed in
    * DECIMAL, so each bin's score sum is exact and order-independent; and
    * since mean_b and frac_b share the same denominator n_b, the ECE
    * telescopes to `sum_b |ssum_b - pos_b| / N` — a sum of exact decimals
    * divided once. No float accumulation order anywhere, so the whole
    * report is engine-portable bit-for-bit.
    *
    * Scale shape: ONE streaming aggregate keyed by bin (codegen'd longs +
    * one decimal, map-side combined into <= `bins` groups); the totals row
    * is a second aggregate over those <= `bins` rows, crossJoined back
    * broadcast. Never a sort, never a window, never a per-bin pass. */
  def calibrationBins(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int = 10,
      scale: Int = 6,
      scoreDecimals: Int = 6
  ): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    // least/greatest SKIP nulls, so clamp only under isNotNull — otherwise
    // a NULL score would silently clamp to 1.0 instead of being excluded
    val raw = round(col(scoreCol).cast("double"), scoreDecimals)
    val s = when(raw.isNotNull, greatest(lit(0.0), least(lit(1.0), raw)))
    val base = ScanUtils
      .withScanParallelism(
        df.select(s.as("__s"), col(labelCol).cast("boolean").as("__l"))
      )
      .filter(col("__s").isNotNull && col("__l").isNotNull)
    val perBin = base
      .groupBy(
        least(lit(bins - 1), floor(col("__s") * bins)).cast("int").as("bin")
      )
      .agg(
        count(lit(1)).as("__n"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("__pos"),
        sum(col("__s").cast(s"decimal(20,$scoreDecimals)")).as("__ssum")
      )
      // |ssum - pos| is exact decimal: the ECE numerator contribution
      .withColumn("__d", abs(col("__ssum") - col("__pos")))
    val totals = perBin.agg(
      sum("__n").as("__nt"),
      sum("__d").as("__dsum")
    )
    perBin
      .crossJoin(broadcast(totals))
      .select(
        col("bin"),
        round(col("bin").cast("double") / bins, scale).as("bin_lo"),
        round((col("bin") + 1).cast("double") / bins, scale).as("bin_hi"),
        col("__n").as("n"),
        round(col("__ssum").cast("double") / col("__n"), scale)
          .as("mean_score"),
        round(col("__pos").cast("double") / col("__n"), scale).as("frac_pos"),
        round(col("__d").cast("double") / col("__n"), scale).as("abs_gap"),
        round(col("__dsum").cast("double") / col("__nt"), scale).as("ece")
      )
  }

  /** Exact Gini concentration coefficient of a non-negative value column
    * (optionally per group) — the one-number inequality summary for the
    * concentration dashboards [[graft.operators.Urls.domainStats]] and
    * mixture planning feed: 0 = evenly spread corpus, -> 1 = one domain /
    * source owns everything. Uses the rank identity
    * `G = (2*sum(rank_i * x_i) - (n+1)*sum(x)) / (n * sum(x))` with
    * tie-invariant rank sums computed per DISTINCT value
    * (`c*C_before + c*(c+1)/2` — arbitrary rank assignment among equal
    * values cannot change the sum, so the result is exact and
    * order-independent).
    *
    * Values are quantized to `valueDecimals` micro-units first (the
    * [[wasserstein1]] grid treatment; Gini is scale-invariant, so the
    * grid only sets rounding granularity). All sums ride decimal(38,0)
    * until ONE final double division ([[aucRoc]] discipline) — the
    * envelope `max|v| * 10^d * n^2 < 1e38` holds for any real
    * concentration table. NULL values are excluded; negative values are
    * the caller's contract violation (Gini is undefined there).
    *
    * Scale shape: one map-side-combined aggregate onto the distinct-value
    * grid, [[rangedRunningSums]]' partitioned two-pass prefix sum (never
    * an unpartitioned window), one final aggregate per group. Never a
    * global sort of rows. */
  def giniCoefficient(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String] = Nil,
      valueDecimals: Int = 6,
      scale: Int = 12
  ): DataFrame = {
    require(valueDecimals >= 0 && valueDecimals <= 9, "valueDecimals in [0, 9]")
    val q = math.pow(10.0, valueDecimals)
    val byVal = ScanUtils
      .withScanParallelism(
        df.select(
          groupCols.map(col) :+
            round(col(valueCol).cast("double") * q).cast("long").as("__v"): _*
        )
      )
      .filter(col("__v").isNotNull)
      .groupBy((groupCols :+ "__v").map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val ranked = rangedRunningSums(byVal, groupCols, "__v", Seq("__c"))
      .withColumn("__before", col("__run___c") - col("__c"))
    def d(c: Column): Column = c.cast("decimal(38,0)")
    // sum of ranks over one distinct value's block: c*C_before + c(c+1)/2
    // (kept doubled — 2*rankSum = 2cC + c(c+1) — to stay in integers)
    val rank2 = d(col("__c")) * (lit(2).cast("decimal(38,0)") *
      d(col("__before")) + d(col("__c")) + lit(1).cast("decimal(38,0)"))
    val aggs = Seq(
      sum(col("__c")).as("__n"),
      sum(d(col("__v")) * d(col("__c"))).as("__s1"),
      sum(d(col("__v")) * rank2).as("__sr2")
    )
    val agg =
      if (groupCols.isEmpty) ranked.agg(aggs.head, aggs.tail: _*)
      else ranked.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val n = d(col("__n"))
    agg.select(
      groupCols.map(col) ++ Seq(
        col("__n").as("n_values"),
        round(
          when(
            col("__n") > 0 && col("__s1") > 0,
            (col("__sr2") - (n + lit(1)) * col("__s1")).cast("double") /
              (n * col("__s1")).cast("double")
          ),
          scale
        ).as("gini")
      ): _*
    )
  }

  /** Per-group quantile bucketing — the CCNet head/middle/tail split
    * (Wenzek et al. 2020) generalized: within each `groupCols` group
    * (e.g. language), compute the exact `probs` quantiles of `valueCol`
    * (linear interpolation, rounded to 6 decimals for engine parity) and
    * label every row with the bucket its value falls in. With
    * `probs = (1/3, 2/3)` and `labels = (tail, middle, head)` on a
    * fluency score this is exactly CCNet's per-language perplexity
    * bucketing. Values exactly on a boundary take the LOWER bucket
    * (same convention as [[equiDepthBins]]); NULL values get a NULL
    * bucket; a NULL group key forms its own group (the join back is
    * null-safe, so the operator never drops rows). `labels.size` must
    * be `probs.size + 1`.
    *
    * Scale shape: one aggregate computes the per-group boundary arrays
    * (groups are few by construction — languages, sources); the
    * boundary table is broadcast back and each row evaluates a
    * codegen'd chained comparison against `probs.size` constants — no
    * HOF lambda, no global sort, no ntile single-partition window.
    */
  def quantileBuckets(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      probs: Seq[Double],
      labels: Seq[String],
      outCol: String = "bucket",
      scale: Int = 6
  ): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(probs.nonEmpty, "need at least one quantile")
    require(probs == probs.sorted, "probs must be ascending")
    require(probs.forall(p => p > 0 && p < 1), "probs must be in (0, 1)")
    require(
      labels.size == probs.size + 1,
      s"need ${probs.size + 1} labels for ${probs.size} boundaries"
    )
    val bounds = df
      .groupBy(groupCols.map(col): _*)
      .agg(
        percentile(col(valueCol).cast("double"), array(probs.map(lit): _*))
          .as("__qb")
      )
      // tiny table: rounding via transform is off the data path
      .withColumn("__qb", transform(col("__qb"), b => round(b, scale)))
    val v = col(valueCol).cast("double")
    val chained = (1 until probs.size).foldLeft(
      when(v.isNull, lit(null).cast("string"))
        .when(v <= element_at(col("__qb"), 1), lit(labels.head))
    ) { (acc, i) =>
      acc.when(v <= element_at(col("__qb"), i + 1), lit(labels(i)))
    }
    // null-SAFE equality: a NULL group key is its own group (groupBy
    // already produced its boundary row); a plain equi-join would
    // silently drop those rows from a row-preserving operator
    val qualified = groupCols.foldLeft(bounds) { (acc, c) =>
      acc.withColumnRenamed(c, s"__g_$c")
    }
    val joinCond = groupCols
      .map(c => df(c) <=> qualified(s"__g_$c"))
      .reduce(_ && _)
    df.join(broadcast(qualified), joinCond)
      .withColumn(outCol, chained.otherwise(lit(labels.last)))
      .drop("__qb")
      .drop(groupCols.map(c => s"__g_$c"): _*)
  }

  /** Equal-frequency (equi-depth) binning: adds `<valueCol>_bin` in
    * 1..nBins where bin boundaries are the exact 1/n..(n-1)/n percentiles
    * (linear interpolation, rounded to 6 decimals like [[winsorize]] so
    * they are engine-reproducible). A value lands in bin
    * `1 + #(boundaries strictly below it)` — values exactly on a boundary
    * go to the lower bin.
    *
    * Scale shape: deliberately NOT `ntile` — ntile needs a single global
    * sort partition (the classic scale killer). Here one aggregate
    * computes the boundary array, broadcast back; the data side streams
    * through a per-row comparison against nBins-1 constants with no
    * shuffle. Bin populations are near-equal up to ties at boundaries.
    */
  def equiDepthBins(
      df: DataFrame,
      valueCol: String,
      nBins: Int,
      outCol: String = "",
      exact: Boolean = false
  ): DataFrame = {
    require(nBins >= 2, "nBins must be >= 2")
    require(df.columns.contains(valueCol), s"no such column: $valueCol")
    val outName = if (outCol.nonEmpty) outCol else s"${valueCol}_bin"
    val pcts = (1 until nBins).map(i => i.toDouble / nBins)
    // same exact-vs-sketch tradeoff as [[winsorize]]: the approx default
    // is the mergeable O(accuracy) sketch; exact = true uses
    // [[exactPercentileBounds]] (distinct values + partitioned prefix
    // sums) instead of the builtin `percentile`, whose O(rows) state in
    // ONE global aggregation task is the scale wall
    val bounds =
      if (!exact)
        df.agg(
          expr(
            s"transform(transform(percentile_approx($valueCol, array(${pcts
                .mkString(", ")}), 10000), x -> cast(x as double)), x -> round(x, 6))"
          ).as("__bounds")
        )
      else {
        val pb = exactPercentileBounds(df, Nil, valueCol, pcts)
          .select(
            transform(col("__pcts"), x => round(x, 6)).as("__bounds"),
            lit(1).as("__k")
          )
        // an all-NULL (or empty) column yields no percentile row; the
        // builtin returns one row with a NULL array — reproduce that so
        // the crossJoin below never silently drops the data side
        df.sparkSession
          .range(1)
          .select(lit(1).as("__k"))
          .join(pb, Seq("__k"), "left")
          .drop("__k")
      }
    df.crossJoin(broadcast(bounds))
      .withColumn(
        outName,
        // NULL values get a NULL bin, not bin 1 (a null comparison inside
        // the filter lambda would silently drop every boundary)
        when(
          col(valueCol).isNotNull,
          (lit(1) + size(filter(col("__bounds"), b => col(valueCol) > b)))
            .cast("int")
        )
      )
      .drop("__bounds")
  }

  /** One-row key-skew diagnostic for a prospective join/aggregation key:
    * row count, distinct keys, the hottest key (rendered as a string) with
    * its count and share, and the max/mean ratio — the "do I need
    * [[Joins.saltedJoin]] or AQE skew handling here?" check run before
    * shipping a 100 TB join. A skew_ratio near 1 means uniform keys; a
    * ratio of hundreds means one reducer will own the job's tail latency.
    *
    * Scale shape: one map-side-combined hash aggregate on the key, then a
    * single-row global aggregate with a max_by over the (much smaller)
    * count table. */
  def keySkewReport(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column")
    keyCols.foreach(c => require(df.columns.contains(c), s"no such column: $c"))
    val counts = df
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .select(
        concat_ws("|", keyCols.map(c => col(c).cast("string")): _*).as("__key"),
        col("__n")
      )
    counts.agg(
      sum("__n").as("n_rows"),
      count(lit(1)).as("n_keys"),
      max("__n").as("max_count"),
      max_by(col("__key"), struct(col("__n"), col("__key"))).as("top_key"),
      round(max("__n") / (sum("__n") / count(lit(1))), 6).as("skew_ratio"),
      round(max("__n").cast("double") / sum("__n"), 6).as("top_fraction")
    )
  }

  /** Approximate per-group percentiles for corpus scale: Spark's
    * `percentile_approx` (KLL-style mergeable sketch) with an `accuracy`
    * dial — one streaming pass, map-side mergeable state of
    * O(accuracy) per group, versus the exact percentile's full sort. Use
    * when groups hold billions of rows; tests assert the sketch lands
    * within one histogram bin of the exact answer. Probabilistic ->
    * deliberately NOT an oracle query (same policy as Bloom
    * decontamination). */
  def approxPercentiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      percentiles: Seq[Double],
      accuracy: Int = 10000
  ): DataFrame = {
    require(percentiles.nonEmpty, "at least one percentile")
    require(
      percentiles.forall(p => p >= 0 && p <= 1),
      "percentiles must be within [0, 1]"
    )
    val pcts = array(percentiles.map(lit): _*)
    val base =
      if (groupCols.isEmpty) df.groupBy()
      else df.groupBy(groupCols.map(col): _*)
    base
      .agg(
        percentile_approx(col(valueCol).cast("double"), pcts, lit(accuracy))
          .as("percentiles")
      )
  }

  /** Per-group distinct-count sketch table: one binary DataSketches HLL
    * sketch per group in `distinct_sketch` — the PERSISTABLE, incremental
    * complement of [[profile]]'s one-shot approx mode. Store the sketch
    * table with the corpus; when a batch arrives, sketch only the batch
    * and [[hllMergeSketches]] the two tables — the accepted corpus is
    * never rescanned, the same production-ingestion shape as
    * `Dedup.dedupNearMinHashIncremental`. Sketches are exact in sparse
    * mode (small per-group cardinalities) and ~2% at `lgK = 12` beyond
    * it; they merge associatively, so daily/hourly sketch tables roll up
    * into monthly ones by union alone.
    *
    * Scale shape: one map-side-combined hash aggregate; O(2^lgK) state
    * per group regardless of cardinality. */
  def hllSketchTable(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      lgK: Int = 12
  ): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(lgK >= 4 && lgK <= 21, "lgK must be in [4, 21]")
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("distinct_sketch"))
  }

  /** Merge any number of [[hllSketchTable]] outputs group-wise (groups
    * absent from one table pass through unchanged). One hash aggregate
    * over sketch-sized rows — the data the sketches summarize is not
    * touched. */
  def hllMergeSketches(
      tables: Seq[DataFrame],
      groupCols: Seq[String]
  ): DataFrame = {
    require(tables.nonEmpty, "at least one sketch table")
    tables
      .reduce(_.unionByName(_))
      .groupBy(groupCols.map(col): _*)
      .agg(
        hll_union_agg(col("distinct_sketch"), lit(true)).as("distinct_sketch")
      )
  }

  /** Read a distinct-count estimate out of a sketch table:
    * (groupCols..., n_distinct). */
  def hllEstimate(sketchTable: DataFrame, groupCols: Seq[String]): DataFrame =
    sketchTable.select(
      groupCols.map(col) :+
        hll_sketch_estimate(col("distinct_sketch")).as("n_distinct"): _*
    )

  /** Population Stability Index between a reference and a current
    * distribution of `valueCol` — the standard drift monitor between a
    * training snapshot and live data:
    * `PSI = sum over bins of (p - q) * ln(p / q)` with fixed-width bins
    * over [lo, hi) (out-of-range clamps to the edge bins, like
    * [[histogram]]) and shares floored at `eps` so empty bins contribute
    * finitely. Rule of thumb: < 0.1 stable, 0.1-0.25 drifting, > 0.25
    * shifted. Returns one row: (n_ref, n_cur, psi). Per-bin contributions
    * are quantized to decimal before the cross-bin sum, so the reported
    * PSI is order-independent and engine-reproducible.
    *
    * Scale shape: one map-side-combined bin aggregate per side (at most
    * nBins rows reach each shuffle), joined onto a generated nBins-row
    * spine — both inputs are scanned exactly once. */
  def populationStabilityIndex(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      nBins: Int = 10,
      eps: Double = 1e-6
  ): DataFrame = {
    require(nBins >= 2, "nBins must be >= 2")
    require(hi > lo, "hi must be > lo")
    require(eps > 0, "eps must be > 0")
    val width = (lit(hi) - lit(lo)) / lit(nBins)
    def binCounts(df: DataFrame, as: String) = {
      val v = col(valueCol).cast("double")
      val bin = least(
        lit(nBins - 1),
        greatest(lit(0), floor((v - lit(lo)) / width))
      ).cast("int")
      df.filter(v.isNotNull)
        .select(bin.as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as(as))
    }
    val spark = ref.sparkSession
    val spine = spark.range(nBins).select(col("id").cast("int").as("bin"))
    val joined = spine
      .join(binCounts(ref, "__rn"), Seq("bin"), "left")
      .join(binCounts(cur, "__cn"), Seq("bin"), "left")
      .select(
        coalesce(col("__rn"), lit(0L)).as("__rn"),
        coalesce(col("__cn"), lit(0L)).as("__cn")
      )
    val totals = joined.agg(
      sum("__rn").as("__rt"),
      sum("__cn").as("__ct")
    )
    joined
      .crossJoin(broadcast(totals))
      .select(
        col("__rt"),
        col("__ct"),
        greatest(col("__rn").cast("double") / col("__rt"), lit(eps)).as("__p"),
        greatest(col("__cn").cast("double") / col("__ct"), lit(eps)).as("__q")
      )
      .select(
        col("__rt"),
        col("__ct"),
        // per-bin quantization before the sum: order-independent PSI
        round((col("__p") - col("__q")) * log(col("__p") / col("__q")), 10)
          .cast("decimal(22,10)")
          .as("__contrib")
      )
      .groupBy("__rt", "__ct")
      // DECIMAL-first rounding — see charEntropy's half-boundary note
      .agg(round(sum("__contrib"), 6).cast("double").as("psi"))
      .select(col("__rt").as("n_ref"), col("__ct").as("n_cur"), col("psi"))
  }

  /** Categorical form of [[populationStabilityIndex]]: shares per distinct
    * value of `catCol` (nulls excluded) over the UNION of categories seen
    * on either side, eps-smoothed the same way. Returns one row:
    * (n_ref, n_cur, n_categories, psi). Use for source/language/format
    * mix drift, where bins are identities rather than ranges.
    *
    * Scale shape: one hash aggregate per side keyed by the category, a
    * full outer join of the two (categories-sized) count tables, decimal
    * sum of quantized contributions. */
  def categoricalStabilityIndex(
      ref: DataFrame,
      cur: DataFrame,
      catCol: String,
      eps: Double = 1e-6
  ): DataFrame = {
    require(eps > 0, "eps must be > 0")
    def counts(df: DataFrame, as: String) =
      df.filter(col(catCol).isNotNull)
        .groupBy(col(catCol).cast("string").as("__cat"))
        .agg(count(lit(1)).as(as))
    val joined = counts(ref, "__rn")
      .join(counts(cur, "__cn"), Seq("__cat"), "full_outer")
      .select(
        coalesce(col("__rn"), lit(0L)).as("__rn"),
        coalesce(col("__cn"), lit(0L)).as("__cn")
      )
    val totals = joined.agg(
      sum("__rn").as("__rt"),
      sum("__cn").as("__ct"),
      count(lit(1)).as("__ncat")
    )
    joined
      .crossJoin(broadcast(totals))
      .select(
        col("__rt"),
        col("__ct"),
        col("__ncat"),
        round(
          (greatest(col("__rn").cast("double") / col("__rt"), lit(eps)) -
            greatest(col("__cn").cast("double") / col("__ct"), lit(eps))) *
            log(
              greatest(col("__rn").cast("double") / col("__rt"), lit(eps)) /
                greatest(col("__cn").cast("double") / col("__ct"), lit(eps))
            ),
          10
        ).cast("decimal(22,10)").as("__contrib")
      )
      .groupBy("__rt", "__ct", "__ncat")
      // DECIMAL-first rounding — see charEntropy's half-boundary note
      .agg(round(sum("__contrib"), 6).cast("double").as("psi"))
      .select(
        col("__rt").as("n_ref"),
        col("__ct").as("n_cur"),
        col("__ncat").cast("int").as("n_categories"),
        col("psi")
      )
  }
  /** The batch-trained model under [[madOutliers]]: one row per group
    * with its exact median (`med`) and median absolute deviation (`mad`).
    * Persist or broadcast it to score OTHER data against the batch
    * baseline without recomputing medians. */
  def madModel(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String]
  ): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    val g = groupCols.map(col)
    val meds = df
      .filter(col(valueCol).isNotNull)
      .groupBy(g: _*)
      .agg(median(col(valueCol)).as("med"))
    // No broadcast hint: the per-group table is |groups|-sized, which a
    // high-cardinality key can push past driver memory — let AQE's
    // size-based choice pick broadcast vs shuffle join at runtime.
    df.join(meds, groupCols, "left")
      .filter(col(valueCol).isNotNull)
      .groupBy(g: _*)
      .agg(
        first(col("med")).as("med"),
        median(abs(col(valueCol) - col("med"))).as("mad")
      )
  }

  /** Robust per-group outlier detection via the median/MAD rule (Iglewicz
    * & Hoaglin 1993): each row gets
    *
    *   robust_z = (x - median) / (1.4826 * MAD)
    *
    * with MAD the median absolute deviation from the group median, and
    * `is_outlier` when |robust_z| > threshold (3.5 is the standard cut).
    * Unlike z-scores ([[standardize]]) the estimate itself is immune to
    * the outliers it hunts — the right screen for heavy-tailed metrics
    * before training-data admission. Groups where MAD collapses below
    * `madFloor` (constant-valued groups) yield NULL robust_z.
    *
    * Scale shape: two hash aggregates on the group key (exact medians);
    * the per-group model joins back onto the rows with no forced
    * broadcast — AQE picks broadcast when |groups| is small and a shuffle
    * join when the key is high-cardinality. NULL values pass through
    * un-flagged.
    */
  def madOutliers(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      threshold: Double = 3.5,
      madFloor: Double = 1e-12
  ): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(threshold > 0, "threshold must be positive")
    val model = madModel(df, valueCol, groupCols)
      .withColumnRenamed("med", "__med")
      .withColumnRenamed("mad", "__mad")
    val z = (col(valueCol) - col("__med")) / (lit(1.4826) * col("__mad"))
    df
      .join(model, groupCols, "left")
      .withColumn(
        "robust_z",
        when(
          col(valueCol).isNotNull && col("__mad") >= madFloor,
          round(z, 6)
        )
      )
      .withColumn(
        "is_outlier",
        coalesce(abs(col("robust_z")) > threshold, lit(false))
      )
      .drop("__med", "__mad")
  }
  /** Chi-square test of independence between two categorical columns:
    * one row with the contingency dimensions, the chi-square statistic
    * over observed-vs-expected cell counts, degrees of freedom, and
    * Cramer's V effect size — "is the language mix independent of the
    * source" as a number, the categorical upgrade over eyeballing a
    * crosstab. NULL categories are excluded.
    *
    * Exactness: per-cell (o-e)^2/e terms are rounded at 12 decimals and
    * summed in DECIMAL (order-independent, engine-exact); marginals ride
    * one-row / margin-sized broadcasts. One scan, one (a, b)-keyed hash
    * aggregate; everything after runs on at most |A|x|B| rows.
    *
    * Degenerate tables: when either column has a single observed category
    * the test has dof = 0 and no effect size exists — `cramers_v` is NULL
    * (explicitly guarded, never a divide-by-zero) and `chi2` is 0 by
    * construction.
    */
  def chiSquareIndependence(
      df: DataFrame,
      colA: String,
      colB: String
  ): DataFrame = {
    val cells = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rowTot = cells.groupBy("__a").agg(sum("__o").as("__ra"))
    val colTot = cells.groupBy("__b").agg(sum("__o").as("__rb"))
    val grand = cells.agg(
      sum("__o").cast("double").as("__n"),
      countDistinct(col("__a")).as("__ka"),
      countDistinct(col("__b")).as("__kb")
    )
    val e = col("__ra").cast("double") * col("__rb").cast("double") / col("__n")
    val o = coalesce(col("__o"), lit(0L)).cast("double")
    val term = round((o - e) * (o - e) / e, 12).cast("decimal(28,12)")
    // expand the FULL |A|x|B| contingency grid: unobserved cells (o = 0)
    // still contribute (0-e)^2/e — dropping them halves a perfect-diagonal
    // chi2. The margin tables are category-sized, so the grid cross is tiny.
    rowTot
      .crossJoin(broadcast(colTot))
      .join(cells, Seq("__a", "__b"), "left")
      .crossJoin(broadcast(grand))
      .groupBy(col("__ka"), col("__kb"), col("__n"))
      .agg(sum(term).cast("double").as("__chi2"))
      .select(
        col("__ka").cast("long").as("n_categories_a"),
        col("__kb").cast("long").as("n_categories_b"),
        col("__n").cast("long").as("n_rows"),
        round(col("__chi2"), 6).as("chi2"),
        ((col("__ka") - 1) * (col("__kb") - 1)).cast("long").as("dof"),
        when(
          least(col("__ka") - 1, col("__kb") - 1) > 0,
          round(
            sqrt(
              col("__chi2") /
                (col("__n") * least(col("__ka") - 1, col("__kb") - 1))
            ),
            6
          )
        ).as("cramers_v")
      )
  }
}
