package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time operators over the batch `events` table: gap sessionization,
  * tumbling windows, as-of (last-prior-event) joins (north-star
  * extension).
  *
  * Scale notes: every operator here shuffles exactly once, on `user_id`
  * (sessionize/as-of windows) or the window-start key (tumbling agg) — the
  * natural partitioning for event data; value sums go through DECIMAL for
  * order-independent exactness.
  */
object Sessionize {

  /** Events with a gap-based `session_id` column attached (1-based per
    * user): a new session starts when the gap to the user's previous event
    * exceeds `gapSeconds`. Ties on ts broken by `idCol` (deterministic).
    * The building block under [[sessionize]], [[frequentPaths]] and
    * [[eventTransitions]] — ONE shuffle on the user key; downstream
    * same-key windows reuse the exchange. */
  def withSessionIds(
      events: DataFrame,
      gapSeconds: Long,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id"
  ): DataFrame = {
    val ev = TimeUtils.ensureTimestamp(events, tsCol)
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val prevTs = lag(col(tsCol), 1).over(w)
    val isNew = when(
      prevTs.isNull ||
        (unix_micros(col(tsCol)) - unix_micros(prevTs)) > gapSeconds * 1000000L,
      1
    ).otherwise(0)
    ev
      .withColumn("__new_session", isNew)
      .withColumn(
        "session_id",
        sum(col("__new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
      )
      .drop("__new_session")
  }

  /** Assign gap-based sessions per user and aggregate one row per session:
    * (user_id, session_id, session_start, session_end, n_events,
    * total_value). A new session starts when the gap to the previous event
    * exceeds `gapSeconds`. Ties on ts broken by event_id (deterministic). */
  def sessionize(
      events: DataFrame,
      gapSeconds: Long,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id",
      valueCol: String = "value"
  ): DataFrame = {
    withSessionIds(events, gapSeconds, userCol, tsCol, idCol)
      .groupBy(col(userCol), col("session_id"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,2)"))
          .cast("double")
          .as("total_value")
      )
  }

  /** Tumbling event-time window aggregate using Spark's `window` function;
    * emits window_start plus counts/distinct users/value sum. */
  def tumblingWindowAgg(
      events: DataFrame,
      width: String = "1 hour",
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"
  ): DataFrame =
    TimeUtils.ensureTimestamp(events, tsCol)
      .groupBy(window(col(tsCol), width).as("__w"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col(userCol)).as("n_users"),
        sum(col(valueCol).cast("decimal(18,2)"))
          .cast("double")
          .as("total_value")
      )
      .select(
        col("__w.start").as("window_start"),
        col("n_events"),
        col("n_users"),
        col("total_value")
      )

  /** Sliding event-time window aggregate: windows of `width` starting every
    * `slide` (each event lands in width/slide windows). */
  def slidingWindowAgg(
      events: DataFrame,
      width: String = "1 hour",
      slide: String = "30 minutes",
      valueCol: String = "value",
      tsCol: String = "ts"
  ): DataFrame =
    TimeUtils.ensureTimestamp(events, tsCol)
      .groupBy(window(col(tsCol), width, slide).as("__w"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,2)"))
          .cast("double")
          .as("total_value")
      )
      .select(
        col("__w.start").as("window_start"),
        col("n_events"),
        col("total_value")
      )

  /** As-of enrichment: for each event of `targetType`, the timestamp of the
    * user's most recent *strictly prior* event of `priorType` (null when
    * none). Composed from a running conditional max over an ordered window —
    * one shuffle on user, no join. */
  def asOfPrior(
      events: DataFrame,
      targetType: String,
      priorType: String,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id",
      typeCol: String = "event_type"
  ): DataFrame = {
    val w = Window
      .partitionBy(userCol)
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    TimeUtils.ensureTimestamp(events, tsCol)
      .withColumn(
        "last_prior_ts",
        max(when(col(typeCol) === priorType, col(tsCol))).over(w)
      )
      .filter(col(typeCol) === targetType)
  }

  /** Dense time series per key: one row for EVERY `bucketSeconds` bucket
    * between a key's first and last event, zero-filled where no events
    * fall — the resample/gap-fill step before windowed feature extraction
    * or anomaly detection (missing buckets are invisible to a plain
    * groupBy).
    *
    * Scale shape: per-key bucket counts (one hash aggregate), per-key
    * [min, max] span (second aggregate over the counts — input is already
    * one row per non-empty bucket), explode of each key's bucket range,
    * and a (key, bucket) join back. The explode fans out only to
    * span/bucketSeconds rows per key — bounded by time coverage, not data
    * volume; everything shuffles on keys that subdivide the data.
    */
  def fillTimeGaps(
      events: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      bucketSeconds: Long = 3600L
  ): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val binMicros = bucketSeconds * 1000000L
    val counts = TimeUtils.ensureTimestamp(events, tsCol)
      .select(
        col(keyCol),
        floor(unix_micros(col(tsCol)) / binMicros).cast("long").as("__bucket")
      )
      .groupBy(col(keyCol), col("__bucket"))
      .agg(count(lit(1)).as("__n"))
    val spans = counts
      .groupBy(col(keyCol))
      .agg(min("__bucket").as("__lo"), max("__bucket").as("__hi"))
    spans
      .select(
        col(keyCol),
        explode(sequence(col("__lo"), col("__hi"))).as("__bucket")
      )
      .join(counts, Seq(keyCol, "__bucket"), "left")
      .select(
        col(keyCol),
        timestamp_micros(col("__bucket") * binMicros).as("bucket_start"),
        coalesce(col("__n"), lit(0L)).as("n_events")
      )
  }

  /** Cohort retention matrix: users grouped by the time bucket of their
    * FIRST activity (the cohort), with one row per (cohort, offset)
    * counting how many of them were active `offset` buckets later —
    * the classic week-0/week-k retention triangle. `retention_rate` is
    * n_active / cohort size (offset 0 row is the cohort size itself).
    *
    * Scale shape: distinct (user, bucket) activity in one hash aggregate,
    * per-user first bucket as a running min window over it (same shuffle
    * key — no extra exchange), then one aggregate on (cohort, offset).
    */
  def retentionMatrix(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      bucketSeconds: Long = 86400L
  ): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val binMicros = bucketSeconds * 1000000L
    val activity = TimeUtils.ensureTimestamp(events, tsCol)
      .select(
        col(userCol).as("__u"),
        floor(unix_micros(col(tsCol)) / binMicros).cast("long").as("__b")
      )
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__u"))
    val withFirst = activity.withColumn("__first", min(col("__b")).over(w))
    val cohortSizes = withFirst
      .filter(col("__b") === col("__first"))
      .groupBy(col("__first"))
      .agg(count(lit(1)).as("__cohort_n"))
    withFirst
      .groupBy(col("__first"), (col("__b") - col("__first")).as("offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(cohortSizes), Seq("__first"))
      .select(
        timestamp_micros(col("__first") * binMicros).as("cohort_start"),
        col("offset"),
        col("n_active"),
        col("__cohort_n").as("n_cohort"),
        round(col("n_active") / col("__cohort_n"), 6).as("retention_rate")
      )
  }

  /** Funnel analysis: for each key, the earliest timestamp at which each
    * ordered step completes — step i counts only at an event of type
    * `steps(i)` STRICTLY after some completion of step i-1 (the classic
    * view -> cart -> purchase progression). Output: one row per key with
    * `step_<i>_ts` (null where the funnel stalls) and `n_steps` reached.
    *
    * Single-pass formulation — ONE shuffle on the key, no join chain and
    * no per-step rescan of the events: a running window carries the
    * earliest step-(i-1) completion seen so far, each row of type
    * `steps(i)` becomes a candidate iff it falls after that, and a final
    * hash aggregate takes the minimum candidate per step. Equivalent to
    * the K-round min/join formulation because the running minimum at a
    * row IS the earliest prior completion.
    */
  def funnel(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String]
  ): DataFrame = {
    require(steps.nonEmpty, "at least one funnel step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col(tsCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // candidate_i: this row completes step i (right type, after the
    // running earliest completion of step i-1)
    val withCands = steps.zipWithIndex.foldLeft(
      TimeUtils.ensureTimestamp(events, tsCol)
    ) { case (d, (step, i)) =>
      val cand =
        if (i == 0) when(col(typeCol) === step, col(tsCol))
        else
          when(
            col(typeCol) === step &&
              col(s"__run_${i - 1}") < col(tsCol),
            col(tsCol)
          )
      d.withColumn(s"__cand_$i", cand)
        .withColumn(s"__run_$i", min(col(s"__cand_$i")).over(w))
    }
    val aggs = steps.indices.map(i => min(col(s"__cand_$i")).as(s"step_${i}_ts"))
    withCands
      .groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(
        "n_steps",
        steps.indices
          .map(i => when(col(s"step_${i}_ts").isNotNull, 1).otherwise(0))
          .reduce(_ + _)
      )
  }

  /** Trailing row-frame statistics: for every event, aggregates over the
    * last `n` rows of the SAME key up to and including it (`ROWS BETWEEN
    * n-1 PRECEDING AND CURRENT ROW`, ordered by time then `tieCol`). The
    * frame-spec member of the window family — tumbling/sliding/session
    * bucket time, this carries per-event trailing context (rate features,
    * fraud scores, rolling baselines). Adds `roll_n`, `roll_sum`,
    * `roll_min`, `roll_max`, `roll_avg`.
    *
    * One shuffle on the key; row frames evaluate incrementally inside the
    * sorted partition (state = n rows). Sums accumulate in DECIMAL so
    * results are exact; the mean is one double division.
    */
  def rollingStats(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      n: Int,
      tieCol: String
  ): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(-(n - 1).toLong, org.apache.spark.sql.expressions.Window.currentRow)
    val v = col(valueCol).cast("decimal(18,2)")
    TimeUtils.ensureTimestamp(events, tsCol)
      .withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_sum", sum(v).over(w).cast("double"))
      .withColumn("roll_min", min(v).over(w).cast("double"))
      .withColumn("roll_max", max(v).over(w).cast("double"))
      .withColumn("roll_avg", round(col("roll_sum") / col("roll_n"), 6))
  }

  /** Frequent within-session event-type paths: every run of `pathLen`
    * consecutive event types inside a gap session (ordered by ts, ties by
    * `idCol`), joined with ">", counted as occurrences and as distinct
    * sessions containing the path — the sequential-pattern census behind
    * "what do users do before purchase" questions. Paths never cross a
    * session boundary.
    *
    * Scale shape: the session ids and the lag chain share ONE shuffle on
    * the user key (same partitioning => one exchange, windows evaluate in
    * the same sorted pass), then a single hash aggregate on the path
    * string with map-side combine. The distinct-session count uses a
    * two-level aggregate on (path, session) first — no count-distinct
    * expansion of the final aggregate. Top-k consumption should
    * orderBy+limit (TakeOrdered — no global sort).
    */
  def frequentPaths(
      events: DataFrame,
      gapSeconds: Long,
      pathLen: Int,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id",
      typeCol: String = "event_type"
  ): DataFrame = {
    require(pathLen >= 2, "pathLen must be >= 2")
    val w = Window
      .partitionBy(col(userCol), col("session_id"))
      .orderBy(col(tsCol), col(idCol))
    // NULL-typed events keep their timestamps for session-gap purposes but
    // are excluded from paths AFTER sessionization: concat_ws would silently
    // skip a NULL mid-chain (a shortened path indistinguishable from a real
    // shorter run) and the furthest-lag chain-fit filter would conflate NULL
    // type with a session boundary.
    val withLags = (pathLen - 1 to 1 by -1)
      .foldLeft(
        withSessionIds(events, gapSeconds, userCol, tsCol, idCol)
          .filter(col(typeCol).isNotNull)
      ) { (df, j) => df.withColumn(s"__t$j", lag(col(typeCol), j).over(w)) }
    val parts =
      (pathLen - 1 to 1 by -1).map(j => col(s"__t$j")) :+ col(typeCol)
    withLags
      // the furthest lag non-null <=> the whole chain fits in the session
      .filter(col(s"__t${pathLen - 1}").isNotNull)
      .select(
        concat_ws(">", parts: _*).as("path"),
        concat_ws("#", col(userCol), col("session_id")).as("__sess")
      )
      .groupBy(col("path"), col("__sess"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("path"))
      .agg(
        sum(col("__n")).as("n_occurrences"),
        count(lit(1)).as("n_sessions")
      )
  }

  /** Within-session event-type transition matrix: one row per observed
    * (from_type, to_type) adjacency with its count and the conditional
    * probability P(to | from) — the first-order Markov model of the event
    * stream. Transitions never cross a session boundary.
    *
    * Scale shape: session ids + the lag share one shuffle on the user key;
    * one hash aggregate on the (from, to) pair; the probability
    * normalization is a window over `from_type` AFTER aggregation, when at
    * most |types|^2 rows remain — never a window over raw events. */
  def eventTransitions(
      events: DataFrame,
      gapSeconds: Long,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id",
      typeCol: String = "event_type"
  ): DataFrame = {
    val w = Window
      .partitionBy(col(userCol), col("session_id"))
      .orderBy(col(tsCol), col(idCol))
    val counts = withSessionIds(events, gapSeconds, userCol, tsCol, idCol)
      .withColumn("__from", lag(col(typeCol), 1).over(w))
      .filter(col("__from").isNotNull)
      .groupBy(col("__from").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    counts.withColumn(
      "p_transition",
      round(
        col("n_transitions") /
          sum(col("n_transitions")).over(Window.partitionBy(col("from_type"))),
        6
      )
    )
  }
  /** Session-scoped conversion attribution: one row per `conversionType`
    * event, credited to the FIRST or LAST strictly-prior event of any
    * `touchTypes` in the SAME gap session (first-touch / last-touch, the
    * two classic single-touch models). Conversions with no prior touch in
    * their session credit "(none)". Output: the user key, the conversion's
    * id/ts/value, and `touch_type`/`touch_ts`.
    *
    * Scale shape: session ids and the running first/last-touch window
    * share ONE shuffle on the user key (same partitioning, same sorted
    * pass); the touch type and timestamp are two ignoreNulls window
    * aggregates over the same frame — both non-null exactly on touch
    * rows, so they always come from the same touch event.
    */
  def attributeConversions(
      events: DataFrame,
      gapSeconds: Long,
      conversionType: String,
      touchTypes: Seq[String],
      model: String = "last_touch",
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id",
      typeCol: String = "event_type",
      valueCol: String = "value"
  ): DataFrame = {
    require(touchTypes.nonEmpty, "at least one touch type")
    require(!touchTypes.contains(conversionType),
      "conversionType must not be a touch type")
    require(Set("first_touch", "last_touch").contains(model),
      s"unknown attribution model: $model")
    val w = Window
      .partitionBy(col(userCol), col("session_id"))
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col(typeCol).isin(touchTypes.map(x => x: Any): _*)
    val touchType = when(isTouch, col(typeCol))
    val touchTs = when(isTouch, col(tsCol))
    def pick(c: Column): Column =
      if (model == "last_touch") last(c, ignoreNulls = true).over(w)
      else first(c, ignoreNulls = true).over(w)
    withSessionIds(events, gapSeconds, userCol, tsCol, idCol)
      .withColumn("__tt", pick(touchType))
      .withColumn("__tts", pick(touchTs))
      .filter(col(typeCol) === conversionType)
      .select(
        col(userCol),
        col(idCol).as("conversion_id"),
        col(tsCol).as("conversion_ts"),
        col(valueCol).as("conversion_value"),
        coalesce(col("__tt"), lit("(none)")).as("touch_type"),
        col("__tts").as("touch_ts")
      )
  }
}
