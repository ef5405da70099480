package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming counterparts of the batch event-time operators:
  * watermarked tumbling windows, session windows, and custom
  * flatMapGroupsWithState sessionization (north-star extension; the
  * reference has no streaming surface — SURVEY.md §2.5).
  *
  * Scale notes: state is keyed by user/window — partitioned by the shuffle
  * on the grouping key; watermarks bound state size; `session_window` uses
  * Spark's native session-state store (merging windows under the hood).
  */
object Streaming {

  /** Streaming read of the events table from a scale-factor directory,
    * normalizing ts to a microsecond session-zone timestamp column.
    * FileStreamSource requires an explicit schema AND a directory path, so
    * we infer the schema from a one-off batch read of the same file (cheap:
    * footer only) and glob the single events.parquet inside the sf dir.
    * The inference makes the source tolerant of the timestamp physical
    * type drifting across data regenerations — long nanos (legacy
    * `parquet.nanosAsLong`), TIMESTAMP_NTZ micros, or tz'd TIMESTAMP all
    * arrive as the same TIMESTAMP column. */
  def readEventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val inferred = spark.read
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .schema
    val raw = spark.readStream
      .schema(inferred)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    inferred("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Watermarked tumbling-window aggregate (append mode capable). */
  def windowedCounts(
      events: DataFrame,
      width: String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("__w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")
      )
      .select(
        col("__w.start").as("window_start"),
        col("event_type"),
        col("n_events"),
        col("total_value")
      )

  /** Native session windows (gap-based) — the streaming equivalent of
    * `Sessionize.sessionize`. */
  def sessionWindows(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "2 hours"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("__w"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")
      )
      .select(
        col("user_id"),
        col("__w.start").as("session_start"),
        col("__w.end").as("session_end"),
        col("n_events"),
        col("total_value")
      )

  /** Streaming exact dedup: drops duplicate event_ids within the watermark
    * horizon (state bounded by the watermark — the streaming counterpart of
    * `Dedup.exactDedup`). */
  def dedupEvents(
      events: DataFrame,
      watermark: String = "2 hours"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Schema of the documents table for stream reads. */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  /** Streaming read of the documents table from a scale-factor directory. */
  def readDocumentsStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(DocumentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)

  /** Streaming ingest-time dedup by content fingerprint: drops any document
    * whose canonical-text md5 was already seen within the watermark horizon
    * — the streaming counterpart of exact content dedup for a training-data
    * ingest pipeline. Documents carry no event time, so rows are stamped
    * with the processing-time clock and the watermark bounds the fingerprint
    * state store exactly like the batch dedup bounds its shuffle. */
  def dedupDocumentsByFingerprint(
      docs: DataFrame,
      watermark: String = "10 minutes"
  ): DataFrame =
    docs
      .withColumn(
        "__fp",
        graft.functions.TextFunctions.fingerprint(col("text"))
      )
      .withColumn("__ingest_ts", current_timestamp())
      .withWatermark("__ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp", "__ingest_ts")

  /** Streaming ingest-time decontamination: drop streamed documents that
    * share any word n-gram with a STATIC held-out set — the streaming
    * counterpart of `Decontam.decontaminate`. The eval gram set is small
    * by construction (benchmark suites are thousands of items, not
    * millions), so it is collected ONCE at plan-build time and the whole
    * filter becomes a stateless per-row `arrays_overlap` against a
    * literal array: no per-batch join, no state store, no watermark.
    * Documents with NULL text have no n-grams and are retained (matching
    * the batch anti-join semantics).
    *
    * AT-SCALE BOUND: the gram set is embedded in the PLAN as a
    * `typedlit` literal — every task ships and holds it, and a
    * multi-million-gram eval corpus would bloat plan serialization
    * instead of using a broadcast. A `require` caps the set at
    * [[MaxLiteralGrams]] (~1M grams ≈ tens of MB of plan); for anything
    * larger, use [[Streaming.decontaminateStreamBloom]] — the Bloom
    * filter is built once, broadcast-sized by construction, and is the
    * documented at-scale path. */
  def decontaminateStream(
      docs: DataFrame,
      staticTest: DataFrame,
      textCol: String = "text",
      n: Int = 3,
      maxLiteralGrams: Int = MaxLiteralGrams
  ): DataFrame = {
    import graft.functions.TextFunctions.shingles
    val testGrams: Seq[String] = staticTest
      .select(explode(shingles(col(textCol), n)).as("__gram"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .toSeq
    require(
      testGrams.size <= maxLiteralGrams,
      s"eval gram set has ${testGrams.size} grams > $maxLiteralGrams — " +
        "too large to embed as a plan literal; use decontaminateStreamBloom"
    )
    if (testGrams.isEmpty) docs
    else
      docs.filter(
        coalesce(
          !arrays_overlap(shingles(col(textCol), n), typedlit(testGrams)),
          lit(true)
        )
      )
  }

  /** Default bound on [[decontaminateStream]]'s literal gram set (~1M
    * grams is tens of MB of serialized plan — already generous; beyond
    * it the Bloom gate is strictly better). */
  val MaxLiteralGrams: Int = 1000000

  /** The at-scale streaming decontamination gate: the eval grams are
    * compiled ONCE into a fixed-size Bloom filter
    * ([[graft.operators.Decontam.bloomContaminationProbe]] — the same
    * build/probe contract as the batch `bloomDecontaminate`) and each
    * streamed document is dropped when ANY of its n-grams probes
    * probable-member. Stateless per-row `exists()` over the native
    * codegen'd probe: no per-batch join, no state store, and the filter
    * is constant-size no matter how many eval grams exist — use this
    * whenever the eval corpus exceeds [[decontaminateStream]]'s literal
    * bound. No false negatives (every truly contaminated doc drops);
    * false positives over-drop ~fpp of clean docs — the safe direction.
    * NULL-text documents have no grams and are retained. */
  def decontaminateStreamBloom(
      docs: DataFrame,
      staticTest: DataFrame,
      textCol: String = "text",
      n: Int = 3,
      fpp: Double = 0.001
  ): DataFrame = {
    import graft.functions.TextFunctions.shingles
    graft.operators.Decontam
      .bloomContaminationProbe(staticTest, textCol, n, fpp) match {
      case None => docs
      case Some(probe) =>
        docs.filter(
          coalesce(
            !exists(shingles(col(textCol), n), g => probe(g)),
            lit(true)
          )
        )
    }
  }

  /** Streaming ingest-time NEAR-dedup against a growing reference: each
    * micro-batch is deduplicated — exact and MinHash-near — against the
    * static reference corpus PLUS every previously accepted streamed
    * document, and only the survivors reach the sink. This is the ingest
    * shape of a training-data pipeline at scale: the crawl streams in,
    * anything within `threshold` estimated Jaccard of the already-kept
    * corpus is dropped at the door, and accepted documents immediately
    * become part of the reference for later batches.
    *
    * Mechanics: per batch, [[graft.operators.Dedup.dedupNearMinHashIncremental]]
    * runs against the signature store (skinny (id, signature) rows — never
    * text); survivors' signatures are appended to the store. The store is
    * `localCheckpoint`ed each batch so lineage stays O(1) deep rather than
    * growing by one union per batch (foreachBatch runs batches
    * sequentially, so the mutable store handoff is safe). In a durable
    * deployment the store would be a parquet/Delta table appended per
    * batch — the dataflow per batch is identical; only the store's
    * persistence changes. Determinism: an AvailableNow drain over ordered
    * files yields exactly the result of applying the batch incremental
    * dedup to the same batches in the same order (asserted in the
    * streaming suite).
    */
  def nearDedupIngest(
      docs: DataFrame,
      reference: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.9,
      shingleK: Int = 1,
      numHashes: Int = 16,
      bands: Int = 4
  )(sink: DataFrame => Unit): Unit = {
    import graft.operators.Dedup
    var sigStore = Dedup
      .minHashSignatures(reference, idCol, textCol, shingleK, numHashes)
      .localCheckpoint()
    val q = docs.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val survivors = Dedup
            .dedupNearMinHashIncremental(
              batch, idCol, textCol, sigStore,
              threshold, shingleK, numHashes, bands
            )
            .localCheckpoint()
          sigStore = sigStore
            .union(
              Dedup.minHashSignatures(
                survivors, idCol, textCol, shingleK, numHashes
              )
            )
            .localCheckpoint()
          sink(survivors)
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Parquet-backed [[nearDedupIngest]] for ALWAYS-ON streams: the
    * signature store lives at `storePath` instead of accreting one
    * `union + localCheckpoint` block per batch in executor storage. Each
    * batch reads the store fresh off disk (lineage stays one parquet scan
    * deep no matter how long the stream has drained) and appends the
    * survivors' skinny (id, signature) rows, so the reference state
    * survives restarts and storage grows only with ACCEPTED documents,
    * never with batch count.
    *
    * The first start initializes the store from `reference`'s signatures;
    * a restart finds the store populated and does NOT re-sign the
    * reference — accepted history carries over, the durable upgrade the
    * in-memory variant documents.
    *
    * ==Crash recovery==
    * Pass a `checkpointDir` so a restarted drain resumes from the failed
    * batch instead of re-reading the whole source. foreachBatch is
    * at-least-once, and the per-batch order here is deliberate — EMIT to
    * the sink, THEN append the survivors' signatures to the store — so
    * both possible crash windows are benign:
    *   - crash between emission and the append: the replayed batch finds
    *     the store unchanged, recomputes the identical survivor set, and
    *     re-emits it (a duplicate delivery, the standard at-least-once
    *     contract) before appending once;
    *   - crash between the append and the checkpoint commit: the replayed
    *     batch's documents collide with their own stored signatures, so
    *     the replay emits nothing and appends nothing — no duplicate
    *     admissions.
    * The REVERSED order would silently LOSE a batch (admitted to the
    * store before the crash, dropped against its own signatures on
    * replay, never delivered). Duplicate signature rows from replays cost
    * only storage — compact with
    * [[graft.sources.Tables.compactParquetDir]] between drains if they
    * accumulate. The per-batch dataflow — and therefore the
    * accepted-document stream — is identical to [[nearDedupIngest]]
    * (asserted batch-for-batch in the streaming suite's long drain, and
    * under a mid-drain crash + restart in the crash-recovery test).
    */
  def nearDedupIngestDurable(
      docs: DataFrame,
      reference: DataFrame,
      storePath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.9,
      shingleK: Int = 1,
      numHashes: Int = 16,
      bands: Int = 4,
      checkpointDir: String = ""
  )(sink: DataFrame => Unit): Unit = {
    import graft.operators.Dedup
    val spark = docs.sparkSession
    // resolve through the Hadoop FileSystem, not java.io.File: storePath is
    // read/written via Spark parquet so it may be an HDFS/S3 URI — a local
    // File check would always report "unpopulated" there and a restart
    // would re-sign the reference over the accepted-document history
    val hPath = new org.apache.hadoop.fs.Path(storePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val populated = fs.exists(hPath) &&
      fs.listStatus(hPath)
        .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (!populated)
      Dedup
        .minHashSignatures(reference, idCol, textCol, shingleK, numHashes)
        .write.mode("overwrite").parquet(storePath)
    val writer = docs.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
    val q = (if (checkpointDir.nonEmpty)
               writer.option("checkpointLocation", checkpointDir)
             else writer)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val sigStore = spark.read.parquet(storePath)
          val survivors = Dedup
            .dedupNearMinHashIncremental(
              batch, idCol, textCol, sigStore,
              threshold, shingleK, numHashes, bands
            )
            // materialize BEFORE the store append: the survivors' plan
            // reads storePath, and their signatures are about to land there
            .localCheckpoint()
          // emit BEFORE the append — crash-window analysis in the scaladoc:
          // append-first would lose the batch on a crash between the two
          sink(survivors)
          Dedup
            .minHashSignatures(survivors, idCol, textCol, shingleK, numHashes)
            .write.mode("append").parquet(storePath)
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Watermarked STREAM-STREAM interval join: each purchase event joined to
    * the same user's view events in the preceding `lookback` — the
    * canonical attribution join. Both sides carry watermarks and the join
    * condition bounds event-time distance, so Spark can expire buffered
    * rows from the join state store (unbounded state otherwise). Inner
    * join: matches emit as soon as both sides arrive.
    */
  def purchasesWithRecentViews(
      events: DataFrame,
      watermark: String = "2 hours",
      lookback: String = "1 hour"
  ): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id")
      )
      .withWatermark("purchase_ts", watermark)
    val views = events
      .filter(col("event_type") === "view")
      .select(
        col("user_id").as("__vu"),
        col("ts").as("view_ts"),
        col("event_id").as("view_id")
      )
      .withWatermark("view_ts", watermark)
    purchases
      .join(
        views,
        col("user_id") === col("__vu") &&
          col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $lookback") &&
          col("view_ts") <= col("purchase_ts")
      )
      .drop("__vu")
  }

  /** Per-user running state for the custom-state path. */
  case class UserRunningState(nEvents: Long, totalValue: Double)
  case class UserUpdate(user_id: Long, n_events: Long, total_value: Double)
  case class EventRow(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String
  )

  /** Custom stateful aggregation via flatMapGroupsWithState: emits the
    * running (count, value-sum) per user on every micro-batch. Demonstrates
    * the arbitrary-state API the native operators can't express. */
  def runningUserTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunningState, UserUpdate](
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout()
      ) { (userId, rows, state: GroupState[UserRunningState]) =>
        val prev = state.getOption.getOrElse(UserRunningState(0L, 0.0))
        var n = prev.nEvents
        var total = prev.totalValue
        rows.foreach { r => n += 1; total += r.value }
        state.update(UserRunningState(n, total))
        Iterator.single(UserUpdate(userId, n, math.round(total * 100).toDouble / 100))
      }
      .toDF()
  }

  /** Run a streaming DataFrame to completion against the (static) source
    * contents via a named memory sink; returns the collected result table.
    * Complete mode keeps every window (test/demo harness). */
  def runToMemorySink(
      spark: SparkSession,
      streamed: DataFrame,
      queryName: String,
      outputMode: String = "complete"
  ): DataFrame = {
    val q: StreamingQuery = streamed.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming ingestion into a versioned archive: each micro-batch is
    * upserted into the accumulated snapshot with
    * [[graft.sources.Tables.upsertArchive]] semantics (newest `versionCol`
    * wins per key, batch side wins ties) and the updated snapshot is
    * handed to `sink` — the foreachBatch merge-into pattern every
    * streaming lakehouse pipeline uses (with a real table store, `sink`
    * is the transactional write). `state` seeds the initial snapshot.
    * Returns the final snapshot after `AvailableNow` drains the source.
    *
    * Scale note: in production the merge target is a table (Delta/Iceberg
    * MERGE INTO), not a growing in-memory DataFrame; here the snapshot is
    * localCheckpointed each batch so lineage stays flat.
    */
  def upsertStreamIntoArchive(
      stream: DataFrame,
      initial: DataFrame,
      keys: Seq[String],
      versionCol: String
  )(sink: DataFrame => Unit): DataFrame = {
    var snapshot = initial.localCheckpoint()
    val q = stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        snapshot = graft.sources.Tables
          .upsertArchive(snapshot, batch, keys, versionCol)
          .localCheckpoint()
        sink(snapshot)
      }
      .start()
    q.awaitTermination()
    snapshot
  }

  /** Streaming heavy hitters: the top `k` event types per tumbling window,
    * re-ranked on every trigger. A sort/rank is not expressible inside a
    * streaming aggregation, so this uses the standard two-tier production
    * shape: stateful windowed counting in the stream, ranking in
    * `foreachBatch` over each emitted snapshot, with `sink` receiving the
    * ranked rows (window_start, event_type, n_events, rank) per trigger.
    *
    * Complete output mode keeps every window in state — right for
    * dashboard-style bounded window ranges; for unbounded retention switch
    * the caller to update mode and upsert into a serving table before
    * ranking. Runs until `AvailableNow` drains the source.
    */
  /** Streaming drift monitor: per event-time window, the Population
    * Stability Index of `valueCol` against a STATIC reference snapshot —
    * the live-feed alarm form of
    * [[graft.operators.Stats.populationStabilityIndex]], same binning,
    * smoothing, and decimal-quantized summation, so a window whose
    * distribution matches the reference reports exactly 0.
    *
    * OUTPUT CONTRACT: this runs in COMPLETE output mode, so the sink
    * receives a CUMULATIVE snapshot — one row per window SEEN SO FAR
    * (window_start, n_cur, psi, w1) — on EVERY micro-batch; consume the LAST
    * snapshot, don't union them (a multi-batch drain delivers each
    * window's row once per batch). Complete mode is deliberate: a drift
    * monitor must report the newest (still-open) windows — exactly the
    * ones append mode would hold back until the watermark closes them,
    * and in a bounded AvailableNow drain would never emit at all.
    *
    * Scale shape: the per-window PSI reduction in foreachBatch touches
    * only (windows x nBins) aggregated rows, never events; the reference
    * collapses to an nBins-row share table computed once per batch and
    * broadcast. The complete-mode tradeoff is that the windowed-count
    * state is bounded by nBins x TOTAL windows ever seen, NOT by the
    * watermark — fine for backfills and monitors over bounded horizons
    * (hourly windows accrue nBins x ~9k rows/year), but an eternal
    * deployment should restart the query on a retention boundary. */
  def driftPerWindow(
      events: DataFrame,
      ref: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      nBins: Int = 10,
      width: String = "1 hour",
      watermark: String = "2 hours",
      eps: Double = 1e-6
  )(sink: DataFrame => Unit): Unit =
    driftPerWindowImpl(events, ref, valueCol, lo, hi, nBins, width, watermark,
      eps, outputMode = "complete")(sink)

  /** Append-mode drift monitor: identical PSI semantics to
    * [[driftPerWindow]], but each window is reported EXACTLY ONCE — when
    * the watermark closes it — instead of a cumulative snapshot per batch.
    * All bins of a window share the window end, so they finalize in the
    * same micro-batch and every emitted window's PSI is complete.
    *
    * This is the at-scale deployment shape: sink traffic is one row per
    * closed window (not windows-seen-so-far rows per batch) and the
    * windowed-count state store is bounded by the WATERMARK horizon, not
    * by total windows ever seen. The tradeoff is latency/coverage: a
    * still-open window (end beyond the current watermark) is withheld
    * until it closes, and in a bounded AvailableNow drain the newest
    * windows never report at all — use [[driftPerWindow]] when the
    * monitor must see open windows. */
  def driftPerWindowAppend(
      events: DataFrame,
      ref: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      nBins: Int = 10,
      width: String = "1 hour",
      watermark: String = "2 hours",
      eps: Double = 1e-6
  )(sink: DataFrame => Unit): Unit =
    driftPerWindowImpl(events, ref, valueCol, lo, hi, nBins, width, watermark,
      eps, outputMode = "append")(sink)

  private def driftPerWindowImpl(
      events: DataFrame,
      ref: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      nBins: Int,
      width: String,
      watermark: String,
      eps: Double,
      outputMode: String
  )(sink: DataFrame => Unit): Unit = {
    require(nBins >= 2 && hi > lo && eps > 0, "bad PSI parameters")
    val widthPerBin = (hi - lo) / nBins
    def binOf = least(
      lit(nBins - 1),
      greatest(
        lit(0),
        floor((col(valueCol).cast("double") - lit(lo)) / lit(widthPerBin))
      )
    ).cast("int")
    val counts = events
      .filter(col(valueCol).isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("__w"), binOf.as("bin"))
      .agg(count(lit(1)).as("__n"))
      .select(col("__w.start").as("window_start"), col("bin"), col("__n"))
    val q = counts.writeStream
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // append mode delivers empty flush batches — skip the sink call
        // rather than handing consumers a zero-row PSI frame
        if (outputMode == "complete" || !batch.isEmpty)
          sink(
            psiOfWindowCounts(batch, ref, valueCol, nBins, eps, binOf,
              widthPerBin)
          )
      }
      .start()
    q.awaitTermination()
  }

  /** PSI + binned-W1 reduction over one batch of (window_start, bin, __n)
    * counts against the static reference: fills the bin spine per window,
    * joins the broadcast nBins-row reference share table, and sums
    * decimal-quantized contributions — touches only (windows x nBins)
    * aggregated rows, never events. The `w1` column is the earth-mover's
    * distance between the BINNED distributions (sum of |cumulative share
    * gap| x bin width, in value units — the streaming form of
    * `Stats.wasserstein1` at bin resolution): PSI needs eps smoothing and
    * explodes on empty-vs-occupied bins, W1 stays finite and
    * unit-interpretable, so the pair separates "a bin appeared/vanished"
    * from "how far the mass actually moved". The cumulative window is
    * partitioned per window_start over nBins rows — bounded, never
    * corpus-sized. */
  private def psiOfWindowCounts(
      batch: DataFrame,
      ref: DataFrame,
      valueCol: String,
      nBins: Int,
      eps: Double,
      binOf: => Column,
      widthPerBin: Double
  ): DataFrame = {
    val spark = batch.sparkSession
    val refShares = ref
      .filter(col(valueCol).isNotNull)
      .select(binOf.as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("__rn"))
      .crossJoin(
        broadcast(
          ref.filter(col(valueCol).isNotNull).agg(count(lit(1)).as("__rt"))
        )
      )
      .select(
        col("bin"),
        (col("__rn").cast("double") / col("__rt")).as("__p")
      )
    val spine = batch
      .select("window_start")
      .distinct()
      .crossJoin(spark.range(nBins).select(col("id").cast("int").as("bin")))
    val full = spine
      .join(batch, Seq("window_start", "bin"), "left")
      .select(
        col("window_start"),
        col("bin"),
        coalesce(col("__n"), lit(0L)).as("__n")
      )
    val totals = full
      .groupBy("window_start")
      .agg(sum("__n").as("__ct"))
    val wspec = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start")
      .orderBy("bin")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0
      )
    full
      .join(totals, Seq("window_start"))
      .join(broadcast(refShares), Seq("bin"), "left")
      .withColumn("__cumn", sum("__n").over(wspec))
      .withColumn("__cump", sum(coalesce(col("__p"), lit(0.0))).over(wspec))
      .select(
        col("window_start"),
        col("__ct"),
        round(
          (greatest(coalesce(col("__p"), lit(0.0)), lit(eps)) -
            greatest(col("__n").cast("double") / col("__ct"), lit(eps))) *
            log(
              greatest(coalesce(col("__p"), lit(0.0)), lit(eps)) /
                greatest(col("__n").cast("double") / col("__ct"), lit(eps))
            ),
          10
        ).cast("decimal(22,10)").as("__contrib"),
        round(
          abs(
            col("__cump") - col("__cumn").cast("double") / col("__ct")
          ) * lit(widthPerBin),
          10
        ).cast("decimal(22,10)").as("__w1c")
      )
      .groupBy("window_start", "__ct")
      // DECIMAL-first rounding, matching the batch PSI exactly
      .agg(
        round(sum("__contrib"), 6).cast("double").as("psi"),
        round(sum("__w1c"), 6).cast("double").as("w1")
      )
      .select(
        col("window_start"),
        col("__ct").as("n_cur"),
        col("psi"),
        col("w1")
      )
  }

  /** Streaming ingest-time quality gate: score every micro-batch with the
    * batch NB classifier ([[graft.operators.TextAnalysis.classifierScore]])
    * against a STATIC trained model and pass through only the original
    * rows of documents scoring at or above `minLogOdds`. Reusing the batch
    * operator inside foreachBatch guarantees batch/stream score parity
    * bit-for-bit; a document is scored entirely within its own batch, so
    * the query is stateless — no watermark, no state store — and the
    * D-row model broadcasts exactly as in batch. */
  def qualityGateStream(
      docs: DataFrame,
      model: DataFrame,
      idCol: String,
      textCol: String,
      numBuckets: Int,
      minLogOdds: Double
  )(sink: DataFrame => Unit): Unit = {
    val q = docs.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val keep = graft.operators.TextAnalysis
          .classifierScore(batch, idCol, textCol, model, numBuckets)
          .filter(col("nb_logodds") >= minLogOdds)
          .select(col(idCol))
        sink(batch.join(keep, Seq(idCol)))
      }
      .start()
    q.awaitTermination()
  }

  def heavyHittersPerWindow(
      events: DataFrame,
      k: Int,
      width: String = "1 hour",
      watermark: String = "2 hours"
  )(sink: DataFrame => Unit): Unit = {
    val counts = windowedCounts(events, width, watermark)
    val q = counts.writeStream
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(
          graft.operators.TopN.firstRow(
            batch,
            n = k,
            partitionBy = Seq(col("window_start")),
            orderBy = Seq(col("n_events").desc, col("event_type")),
            returnIndexColumn = true,
            indexColumnName = "rank"
          )
        )
      }
      .start()
    q.awaitTermination()
  }
  /** Streaming anomaly gate: score each event against a BATCH-trained
    * robust median/MAD model ([[graft.operators.Stats.madModel]] output:
    * one row per group with `med`/`mad`) and pass only rows whose robust
    * z-score stays within `threshold` — the "drop telemetry spikes before
    * they hit the feature store" shape. A pure stream-static broadcast
    * join + per-row projection: stateless, append-mode, bit-identical to
    * the batch filter (asserted in the suite). Rows from groups absent
    * from the model (or with collapsed MAD) pass through un-gated —
    * unknown groups are for the monitor to flag, not the gate to drop.
    */
  def anomalyGateStream(
      events: DataFrame,
      model: DataFrame,
      groupCol: String,
      valueCol: String,
      threshold: Double = 3.5,
      madFloor: Double = 1e-12
  ): DataFrame = {
    require(threshold > 0, "threshold must be positive")
    val z = (col(valueCol) - col("med")) / (lit(1.4826) * col("mad"))
    events
      .join(broadcast(model), Seq(groupCol), "left")
      .withColumn(
        "robust_z",
        when(col(valueCol).isNotNull && col("mad") >= madFloor, round(z, 6))
      )
      .filter(col("robust_z").isNull || abs(col("robust_z")) <= threshold)
      .drop("med", "mad")
  }
}
