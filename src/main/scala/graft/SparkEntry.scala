package graft

import graft.QueryShared.t
import graft.functions.DateInstructions
import graft.operators.{Cohort, Privacy, TopN, Wrangling}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: flagship entry + one oracle-checked query per operator.
  *
  * Every entry in [[queries]] has a matching ANSI-SQL oracle in [[oracleSql]]
  * runnable by DuckDB over the same parquet tables; column names are aligned
  * on both sides because the driver sorts columns by name before hashing.
  * Deterministic ORDER BY everywhere; aggregates over doubles go through
  * DECIMAL so Spark's parallel summation matches DuckDB bit-for-bit.
  */
object SparkEntry {

  /** The local session of the command-line mains (Bench, Verify,
    * ExplainDump, ScaleData): `local[N]` with N = `SPARK_GRAFT_CPUS`
    * (default 4) and as many shuffle partitions, UI off, UTC. ANSI is off
    * because the reference semantics (PySpark 3.5) assume legacy casting;
    * events.parquet stores TIMESTAMP(NANOS), which Spark rejects by
    * default, so it is read as long and converted in the loader. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): cohort filter
    * over orders → join lineitem → per-customer revenue with disclosure
    * control (SURVEY.md §7 minimum slice). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val orders = t(spark, dir, "orders")
    val lineitem = t(spark, dir, "lineitem")

    val cohort = Cohort.applyInclusionCriteria(
      orders,
      Seq(
        "status_ok" -> "o_orderstatus IN ('O', 'F')",
        "recent" -> "o_orderdate >= timestamp '1995-01-01'"
      ),
      rowIdCol = "o_orderkey",
      personIdCol = "o_custkey"
    )

    val joined = lineitem.join(
      cohort.select("o_orderkey", "o_custkey"),
      lineitem("l_orderkey") === cohort("o_orderkey")
    )

    val perCustomer = joined
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("revenue")
      )

    TopN
      .firstRow(
        perCustomer,
        n = 25,
        orderBy = Seq(col("revenue").desc, col("o_custkey"))
      )
      .transform(d => Privacy.roundCountsToMultiple(d, Seq("n_items"), 5))
      .transform(d => Privacy.redactLowCounts(d, Seq("n_items"), 10))
  }

  /** One entry per implemented operator from SURVEY.md §2 plus the
    * north-star scale extensions (§7). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    referenceQueries ++ ScaleQueries.queries

  def oracleSql: Map[String, String] = referenceOracles ++ ScaleQueries.oracles

  private lazy val referenceQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O12 clean_column_names
    "q_clean_names" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(
          col("l_returnflag").as("Ret Flag!"),
          col("l_linestatus").as("2Line Status")
        )
      Wrangling
        .cleanColumnNames(li)
        .groupBy("ret_flag_", "_2line_status")
        .agg(count(lit(1)).as("n"))
        .orderBy("ret_flag_", "_2line_status")
    }),

    // O13 map_column_values (partial map: unmatched -> null)
    "q_map_values" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      Wrangling
        .mapColumnValues(
          o,
          Map("O" -> "open", "F" -> "filled"),
          "o_orderstatus",
          "status_label"
        )
        .groupBy("status_label")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("status_label").asc_nulls_first)
    }),

    // O10 round_counts_to_multiple
    "q_round_counts" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
      Privacy
        .roundCountsToMultiple(c, Seq("n_customers"), 5)
        .orderBy("c_nationkey")
    }),

    // O11 redact_low_counts (null redaction)
    "q_redact_null" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
      Privacy
        .redactLowCounts(c, Seq("n"), 10)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // O11 redact_low_counts (string redaction widens to string)
    "q_redact_string" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
      Privacy
        .redactLowCounts(c, Seq("n"), 10, Some("[:REDACTED:]"))
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // O6/O7 select_top_rows row_number
    "q_first_row" -> ((s, dir) => {
      TopN
        .firstRow(
          t(s, dir, "orders"),
          n = 3,
          partitionBy = Seq(col("o_custkey")),
          orderBy = Seq(col("o_totalprice").desc, col("o_orderkey")),
          returnIndexColumn = true
        )
        .orderBy("o_custkey", "row_index")
    }),

    // O8 select_top_rows rank (ties kept, gaps)
    "q_first_rank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_quantity")
      TopN
        .firstRank(
          li,
          n = 3,
          partitionBy = Seq(col("l_returnflag"), col("l_linestatus")),
          orderBy = Seq(col("l_quantity")),
          returnIndexColumn = true
        )
        .orderBy("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey", "l_linenumber")
    }),

    // O9 select_top_rows dense_rank (top n distinct values)
    "q_first_dense_rank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_quantity")
      TopN
        .firstDenseRank(
          li,
          n = 2,
          partitionBy = Seq(col("l_returnflag"), col("l_linestatus")),
          orderBy = Seq(col("l_quantity")),
          returnIndexColumn = true
        )
        .orderBy("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey", "l_linenumber")
    }),

    // O6 global top-n (dummy-partition path)
    "q_top_global" -> ((s, dir) => {
      TopN
        .firstRow(
          t(s, dir, "orders"),
          n = 5,
          orderBy = Seq(col("o_totalprice").desc, col("o_orderkey")),
          returnIndexColumn = true
        )
        .orderBy("row_index")
    }),

    // §2.2 date DSL end-to-end through expr(). Date outputs cast to string
    // so the oracle compare is representation-proof (pandas renders DuckDB
    // DATE as midnight datetimes).
    "q_date_dsl" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("index_date", to_date(col("o_orderdate")))
        .select(
          col("o_orderkey"),
          col("index_date").cast("string").as("index_date"),
          expr(DateInstructions.parseDateInstruction("index_date + 6 months"))
            .cast("string").as("follow_up_end"),
          expr(DateInstructions.parseDateInstruction("index_date - 2 years"))
            .cast("string").as("baseline_start"),
          expr(DateInstructions.parseDateInstruction("2024-06-01"))
            .cast("string").as("study_date"),
          expr(DateInstructions.parseDateInstruction(null))
            .cast("string").as("missing_date")
        )
        .orderBy("o_orderkey")
    }),

    // O1/O2 apply_inclusion_criteria (filter path)
    "q_inclusion" -> ((s, dir) => {
      Cohort
        .applyInclusionCriteria(
          t(s, dir, "orders"),
          Seq(
            "status_ok" -> "o_orderstatus IN ('O', 'F')",
            "price_ok" -> "o_totalprice > 50000",
            "recent" -> "o_orderdate >= timestamp '1996-01-01'"
          ),
          rowIdCol = "o_orderkey",
          personIdCol = "o_custkey"
        )
        .orderBy("o_orderkey")
    }),

    // O3 create_inclusion_flowchart (audit path)
    "q_flowchart" -> ((s, dir) => {
      val criteria = Seq(
        "price_ok" -> "o_totalprice > 50000",
        "even_key" -> "o_orderkey % 2 = 0",
        "early_cust" -> "o_custkey % 7 <> 0"
      )
      val flagged = Cohort.createInclusionColumns(t(s, dir, "orders"), criteria)
      Cohort.createInclusionFlowchart(flagged, criteria, "o_orderkey", "o_custkey")
    }),

    // O14 load_table archive_date='latest' (eager max + literal filter)
    "q_archive_latest" -> ((s, dir) => {
      val versioned = t(s, dir, "orders")
        .withColumn(
          "archived_on",
          date_trunc("month", col("o_orderdate")).cast("date")
        )
        .select("o_orderkey", "archived_on", "o_totalprice")
      Tables
        .filterArchiveLatest(versioned)
        .withColumn("archived_on", col("archived_on").cast("string"))
        .orderBy("o_orderkey")
    }),

    // O16 get_archive_versions
    "q_archive_versions" -> ((s, dir) => {
      val versioned = t(s, dir, "orders").withColumn(
        "archived_on",
        date_trunc("month", col("o_orderdate")).cast("date")
      )
      Tables.archiveVersionsDF(versioned, "archived_on")
    }),

    // retention: keep the newest 3 archive snapshots only
    "q_archive_retention" -> ((s, dir) => {
      val versioned = t(s, dir, "orders")
        .withColumn(
          "archived_on",
          date_trunc("month", col("o_orderdate")).cast("date")
        )
        .select("o_orderkey", "archived_on", "o_totalprice")
      Tables
        .retainArchiveVersions(versioned, 3)
        .groupBy(col("archived_on").cast("string").as("archived_on"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .as("total_price")
        )
        .orderBy("archived_on")
    }),

    // O17 standardise_table (deaths variant: renames + packed-date parsing)
    "q_standardise_deaths" -> ((s, dir) => {
      val raw = t(s, dir, "orders").select(
        col("o_custkey").as("DEC_CONF_NHS_NUMBER_CLEAN_DEID"),
        when(
          col("o_orderkey") % 3 === 0,
          date_format(col("o_orderdate"), "yyyyMMdd")
        ).otherwise(lit("unknown")).as("REG_DATE_OF_DEATH"),
        date_format(col("o_orderdate"), "yyyyMMdd").as("REG_DATE"),
        col("o_orderkey").as("Order Key!")
      )
      Tables
        .standardiseTable(raw, "deaths")
        .withColumn("date_of_death", col("date_of_death").cast("string"))
        .withColumn("reg_date", col("reg_date").cast("string"))
        .orderBy("order_key_")
    })
  )

  /** DuckDB oracle SQL per query (same parquet tables, same column names). */
  private lazy val referenceOracles: Map[String, String] = Map(
    "q_clean_names" ->
      """SELECT l_returnflag AS "ret_flag_", l_linestatus AS "_2line_status", count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_map_values" ->
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled' END AS status_label,
        |count(*) AS n FROM orders GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,

    "q_round_counts" ->
      """SELECT c_nationkey, CAST(FLOOR(count(*) / 5.0 + 0.5) * 5 AS BIGINT) AS n_customers
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_redact_null" ->
      """SELECT c_nationkey, c_mktsegment, CASE WHEN count(*) >= 10 THEN count(*) END AS n
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_redact_string" ->
      """SELECT c_nationkey, c_mktsegment,
        |CASE WHEN count(*) >= 10 THEN CAST(count(*) AS VARCHAR) ELSE '[:REDACTED:]' END AS n
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_first_row" ->
      """SELECT * FROM (
        |  SELECT o.*, CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS row_index
        |  FROM orders o
        |) WHERE row_index <= 3 ORDER BY o_custkey, row_index""".stripMargin,

    "q_first_rank" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity,
        |         CAST(RANK() OVER (PARTITION BY l_returnflag, l_linestatus ORDER BY l_quantity) AS INT) AS rank_index
        |  FROM lineitem
        |) WHERE rank_index <= 3
        |ORDER BY l_returnflag, l_linestatus, l_quantity, l_orderkey, l_linenumber""".stripMargin,

    "q_first_dense_rank" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity,
        |         CAST(DENSE_RANK() OVER (PARTITION BY l_returnflag, l_linestatus ORDER BY l_quantity) AS INT) AS dense_rank_index
        |  FROM lineitem
        |) WHERE dense_rank_index <= 2
        |ORDER BY l_returnflag, l_linestatus, l_quantity, l_orderkey, l_linenumber""".stripMargin,

    "q_top_global" ->
      """SELECT * FROM (
        |  SELECT o.*, CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS row_index
        |  FROM orders o
        |) WHERE row_index <= 5 ORDER BY row_index""".stripMargin,

    "q_date_dsl" ->
      """SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS index_date,
        |CAST(CAST(o_orderdate AS DATE) + 180 AS VARCHAR) AS follow_up_end,
        |CAST(CAST(o_orderdate AS DATE) - 731 AS VARCHAR) AS baseline_start,
        |CAST(DATE '2024-06-01' AS VARCHAR) AS study_date,
        |CAST(NULL AS VARCHAR) AS missing_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_inclusion" ->
      """SELECT * FROM orders
        |WHERE o_orderstatus IN ('O', 'F') AND o_totalprice > 50000
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |ORDER BY o_orderkey""".stripMargin,

    "q_flowchart" ->
      """WITH b AS (
        |  SELECT o_custkey AS pid, (o_totalprice > 50000) AS c1,
        |         (o_orderkey % 2 = 0) AS c2, (o_custkey % 7 <> 0) AS c3
        |  FROM orders
        |), s AS (
        |  SELECT 0 AS criteria_index, 'criteria_0' AS criteria, 'Original table' AS description, '' AS expression,
        |         COUNT(*) AS n_row, COUNT(DISTINCT pid) AS n_distinct_id FROM b
        |  UNION ALL
        |  SELECT 1, 'criteria_1', 'price_ok', 'o_totalprice > 50000',
        |         COUNT(CASE WHEN c1 THEN 1 END), COUNT(DISTINCT CASE WHEN c1 THEN pid END) FROM b
        |  UNION ALL
        |  SELECT 2, 'criteria_2', 'even_key', 'o_orderkey % 2 = 0',
        |         COUNT(CASE WHEN c1 AND c2 THEN 1 END), COUNT(DISTINCT CASE WHEN c1 AND c2 THEN pid END) FROM b
        |  UNION ALL
        |  SELECT 3, 'criteria_3', 'early_cust', 'o_custkey % 7 <> 0',
        |         COUNT(CASE WHEN c1 AND c2 AND c3 THEN 1 END), COUNT(DISTINCT CASE WHEN c1 AND c2 AND c3 THEN pid END) FROM b
        |)
        |SELECT criteria_index, criteria, description, expression, n_row, n_distinct_id,
        |       CAST(lag(n_row) OVER (ORDER BY criteria_index) - n_row AS INT) AS excluded_rows,
        |       CAST(lag(n_distinct_id) OVER (ORDER BY criteria_index) - n_distinct_id AS INT) AS excluded_ids
        |FROM s ORDER BY criteria_index""".stripMargin,

    "q_archive_latest" ->
      """WITH t AS (
        |  SELECT o_orderkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS archived_on, o_totalprice
        |  FROM orders
        |)
        |SELECT o_orderkey, CAST(archived_on AS VARCHAR) AS archived_on, o_totalprice
        |FROM t WHERE archived_on = (SELECT max(archived_on) FROM t)
        |ORDER BY o_orderkey""".stripMargin,

    "q_archive_versions" ->
      """SELECT DISTINCT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS archived_on
        |FROM orders ORDER BY archived_on""".stripMargin,

    "q_archive_retention" ->
      """WITH t AS (
        |  SELECT o_orderkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS archived_on, o_totalprice
        |  FROM orders
        |), keep AS (
        |  SELECT DISTINCT archived_on FROM t ORDER BY archived_on DESC LIMIT 3
        |)
        |SELECT CAST(archived_on AS VARCHAR) AS archived_on, count(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM t WHERE archived_on IN (SELECT archived_on FROM keep)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_standardise_deaths" ->
      """SELECT o_custkey AS person_id,
        |CAST(CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderdate AS DATE) END AS VARCHAR) AS date_of_death,
        |CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS reg_date,
        |o_orderkey AS order_key_
        |FROM orders ORDER BY order_key_""".stripMargin
  )
}
