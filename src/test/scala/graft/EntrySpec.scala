package graft

/** Driver-contract smoke: entry() returns rows; every query has an oracle. */
class EntrySpec extends SparkSpec {

  private def canon(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toString).sorted.toSeq

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** One query's canonical rows on sf0.001. The near-duplicate operators
    * hand the table they persist to their caller, and the caller here is
    * this sweep: it releases every CacheManager entry the query's plan
    * reads, so no later test plans over a table this sweep left held. */
  private def run(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    try canon(df.collect())
    finally {
      import org.apache.spark.sql.classic.ClassicConversions.castToImpl
      val cache = spark.sharedState.cacheManager
      df.queryExecution.analyzed.foreach { p =>
        if (cache.lookupCachedData(spark, p).isDefined)
          cache.uncacheQuery(spark, p, cascade = false, blocking = true)
      }
    }
  }

  /** Every query's canonical rows on sf0.001 with ANSI off, run once and
    * shared by the ANSI test and the coverage test. A query that throws
    * keeps its exception under its name, so each test fails naming it. */
  private lazy val defaultResults: Map[String, Either[Throwable, Seq[String]]] = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      SparkEntry.queries.keys.toSeq.sorted.map { name =>
        name -> (try Right(run(name)) catch { case e: Throwable => Left(e) })
      }.toMap
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("entry returns >0 rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("entry also works under ANSI mode (driver may use a default session)") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      assert(SparkEntry.entry(spark).count() > 0)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("date DSL query is ANSI-proof (Spark 4 default session)") {
    // `expr("date + int")` semantics differ under ANSI; the DSL must emit
    // date_add-style arithmetic that is identical in both modes.
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      val legacy = SparkEntry.queries("q_date_dsl")(spark, sfDir).collect()
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val ansi = SparkEntry.queries("q_date_dsl")(spark, sfDir).collect()
      assert(ansi.sameElements(legacy), "q_date_dsl diverges under ANSI mode")
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("every query is ANSI-proof: identical results with spark.sql.ansi.enabled") {
    // Spark 4 sessions default to ANSI mode; the driver may one day run the
    // reference surface under one. Every query must run without ANSI
    // runtime errors (overflow/cast/div-by-zero become exceptions there)
    // and produce VALUE-identical results, not just the same cardinality —
    // a silent ANSI-mode value drift (e.g. a different cast result) would
    // pass a count check and still fail the driver's hash gate.
    val base = defaultResults.toSeq.sortBy(_._1).map {
      case (name, Right(rows)) => name -> rows
      case (name, Left(e)) => fail(s"$name fails with default settings: ${describe(e)}", e)
    }
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      base.foreach { case (name, expected) =>
        val got =
          try run(name)
          catch {
            case e: Throwable =>
              fail(s"$name fails under ANSI mode: ${describe(e)}")
          }
        assert(got.size == expected.size,
          s"$name row count diverges under ANSI: ${got.size} vs ${expected.size}")
        got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
          assert(g == e, s"$name row $i diverges under ANSI: $g vs $e")
        }
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("event-time queries are timestamp-physical-type-proof") {
    // The driver has regenerated events.parquet under three physical types
    // across rounds (TIMESTAMP(NANOS)->long, TIMESTAMP_NTZ micros, tz'd
    // micros). Lock in tolerance the same way ANSI tolerance is locked in:
    // every events-backed query must produce VALUE-identical results on
    // all three variants, so the next regeneration can't kill an operator.
    import org.apache.spark.sql.functions._
    val eventQueries = Seq(
      "q_sessionize", "q_gap_fill", "q_retention", "q_range_join",
      "q_interval_overlap", "q_nearest_join", "q_window_1h",
      "q_window_sliding", "q_funnel", "q_asof_join", "q_rolling"
    )
    val canonical = ScaleQueries.events(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft-ts-sweep").toString
    def variantDir(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val dir = s"$root/$name"
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val dirs = Map(
      "tz" -> variantDir("tz", canonical),
      "ntz" -> variantDir("ntz",
        canonical.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))),
      "nanos" -> variantDir("nanos",
        canonical.withColumn("ts", unix_micros(col("ts")) * 1000L))
    )
    eventQueries.foreach { name =>
      val results = dirs.map { case (variant, dir) =>
        val got =
          try canon(SparkEntry.queries(name)(spark, dir).collect())
          catch {
            case e: Throwable =>
              fail(s"$name fails on the $variant timestamp variant: ${describe(e)}")
          }
        variant -> got
      }
      val base = results("tz")
      assert(base.nonEmpty, s"$name returned no rows on the tz variant")
      Seq("ntz", "nanos").foreach { variant =>
        assert(results(variant) == base,
          s"$name diverges on the $variant timestamp variant " +
            s"(${results(variant).size} vs ${base.size} rows)")
      }
    }
  }

  test("every query runs on sf0.001 and oracle coverage is complete") {
    val missingOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val extraOracle = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extraOracle.isEmpty, s"oracles without queries: $extraOracle")
    // queries without oracle are allowed (weaker rows-only check) but listed:
    if (missingOracle.nonEmpty)
      info(s"rows-only queries (no oracle): ${missingOracle.toSeq.sorted.mkString(", ")}")
    assert(defaultResults.keySet == SparkEntry.queries.keySet,
      s"default-settings pass missed: ${SparkEntry.queries.keySet -- defaultResults.keySet}")
    defaultResults.toSeq.sortBy(_._1).foreach {
      case (name, Left(e)) => fail(s"$name failed: ${describe(e)}", e)
      case (name, Right(rows)) => assert(rows.size >= 0, s"$name failed")
    }
  }

  test("every public operator is reached: scripts/boundary_report.py is clean") {
    // README's boundary rule: a public object or def of src/main that no
    // query, Bench pipeline, perfbench workload or script reaches fails
    // here, naming it (the report needs only the sources and python3)
    import scala.sys.process._
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val code = Seq("python3", "scripts/boundary_report.py").!(log)
    assert(code == 0 && out.isEmpty, s"boundary report exited $code:\n$out")
  }
}
