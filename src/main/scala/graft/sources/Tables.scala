package graft.sources

import graft.operators.Wrangling
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog table management: load/save through a JSON table directory,
  * archive-version filtering, and per-dataset standardisation.
  *
  * Capability parity with the reference's table-management surface
  * (reference: `src/hds_functions/table_management.py:23-300`).
  *
  * Scale notes:
  *   - Archive filters are literal predicates on a single column —
  *     partition-pruning / parquet row-group pushdown friendly. The `latest`
  *     mode runs one eager `max()` aggregation first (scan + partial/final
  *     agg, no wide shuffle) then filters by the literal result, exactly like
  *     the reference; on a date-partitioned table both passes prune.
  *   - Writes go through `saveAsTable` with optional `partitionBy` so
  *     downstream scans of big tables can prune.
  */
object Tables {

  /** Table-directory entry: `{database, table_name, archive_date?,
    * max_archive_date?}` (reference `table_management.py:42-58`). */
  final case class TableRef(
      database: String,
      tableName: String,
      archiveDate: Option[String] = None,
      maxArchiveDate: Option[String] = None
  )

  /** Parse a table-directory JSON file (duplicate keys rejected by
    * `JsonUtils.readJsonFile`, matching the reference's strict reader). */
  def readTableDirectory(path: String): Map[String, TableRef] =
    JsonUtils.readJsonFile(path).map { case (key, value) =>
      val m = value match {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        case other =>
          throw new IllegalArgumentException(
            s"Table directory entry '$key' must be an object, got: $other"
          )
      }
      def str(f: String): Option[String] = m.get(f).map(_.toString)
      key -> TableRef(
        database = str("database").getOrElse(
          throw new IllegalArgumentException(s"Entry '$key' missing 'database'")
        ),
        tableName = str("table_name").getOrElse(
          throw new IllegalArgumentException(s"Entry '$key' missing 'table_name'")
        ),
        archiveDate = str("archive_date"),
        maxArchiveDate = str("max_archive_date")
      )
    }

  /** Filter to the most recent archive version: eager `max(archived_on)`
    * aggregation, then a literal equality filter (prunes partitions).
    * Mirrors reference `table_management.py:74-78`. */
  def filterArchiveLatest(
      df: DataFrame,
      versionColumn: String = "archived_on"
  ): DataFrame = {
    val maxVersion = df.agg(max(versionColumn)).collect()(0).get(0)
    df.filter(col(versionColumn) === lit(maxVersion))
  }

  /** Load a catalog table by directory key, with optional archive filtering
    * and standardisation. Mirrors reference `table_management.py:23-88`. */
  def loadTable(
      spark: SparkSession,
      table: String,
      tableDirectory: String,
      method: Option[String] = None
  ): DataFrame = {
    val directory = readTableDirectory(tableDirectory)
    val ref = directory.getOrElse(
      table,
      throw new IllegalArgumentException(
        s"Table key '$table' not found in table_directory"
      )
    )
    require(
      ref.archiveDate.isEmpty || ref.maxArchiveDate.isEmpty,
      "Only one of 'archive_date' or 'max_archive_date' can be specified."
    )

    var df = spark.table(s"${ref.database}.${ref.tableName}")
    df = ref.archiveDate match {
      case Some("latest") => filterArchiveLatest(df)
      case Some(date)     => df.filter(col("archived_on") === lit(date))
      case None =>
        ref.maxArchiveDate match {
          case Some(maxDate) => df.filter(col("archived_on") <= lit(maxDate))
          case None          => df
        }
    }
    method.map(standardiseTable(df, _)).getOrElse(df)
  }

  /** Save to a catalog table: overwrite mode with schema overwrite,
    * optional write-side partitioning (mirrors reference
    * `table_management.py:91-138`), and optional bucketing — the 100 TB
    * extension: two tables bucketed+sorted on the same join key join with
    * NO shuffle (SortMergeJoin without Exchange; asserted in SourcesSpec).
    */
  def saveTable(
      df: DataFrame,
      table: String,
      tableDirectory: String,
      partitionBy: Seq[String] = Nil,
      bucketBy: Option[(Int, Seq[String])] = None,
      format: String = "parquet"
  ): Unit = {
    val directory = readTableDirectory(tableDirectory)
    val ref = directory.getOrElse(
      table,
      throw new IllegalArgumentException(
        s"Table key '$table' not found in table_directory"
      )
    )
    var writer = df.write
      .mode("overwrite")
      .option("overwriteSchema", "true")
      .format(format)
    if (partitionBy.nonEmpty) writer = writer.partitionBy(partitionBy: _*)
    bucketBy.foreach { case (n, cols) =>
      writer = writer
        .bucketBy(n, cols.head, cols.tail: _*)
        .sortBy(cols.head, cols.tail: _*)
    }
    writer.saveAsTable(s"${ref.database}.${ref.tableName}")
  }

  /** Upsert a batch of updates into an archive snapshot: rows join by
    * `keys`, the row with the greatest `versionCol` wins, and on version
    * ties the UPDATE side wins (so re-applying the same batch is
    * idempotent and corrections with unchanged timestamps take effect).
    * Columns are matched by name; updates must carry the same schema.
    *
    * This is the compaction step of the reference's archive model
    * (`table_management.py:42-58` archive_date snapshots): fold the new
    * snapshot into the running "latest" table instead of keeping every
    * version forever.
    *
    * Scale shape: one union (no shuffle) + one WindowGroupLimit-bounded
    * row_number per key — the same single-shuffle pattern as exactDedup;
    * AQE splits skewed keys.
    */
  def upsertArchive(
      existing: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      versionCol: String
  ): DataFrame = {
    require(keys.nonEmpty, "at least one key column required")
    require(
      existing.columns.sorted.sameElements(updates.columns.sorted),
      "existing and updates must have the same columns"
    )
    val tagged = existing
      .withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    graft.operators.Dedup
      .exactDedup(tagged, keys, Seq(col(versionCol).desc, col("__src").desc))
      .drop("__src")
  }

  /** Per-key diff between two snapshots of the same table: one row per
    * key present in either side with
    * `status in {added, removed, changed, unchanged}` — the audit that
    * runs before replacing an archive version (did this refresh really
    * only touch what it claimed?). `compareCols` defaults to every shared
    * non-key column; comparisons are null-SAFE (`NULL -> NULL` is
    * unchanged, `NULL -> value` is changed).
    *
    * Scale shape: ONE full-outer shuffle join on the key (inherent to a
    * diff; AQE handles skew) — each side is pre-projected to
    * key + compared columns, so no unrelated width rides the shuffle.
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String] = Nil
  ): DataFrame = {
    require(keys.nonEmpty, "at least one key column required")
    keys.foreach { k =>
      require(oldDf.columns.contains(k), s"key '$k' missing from old side")
      require(newDf.columns.contains(k), s"key '$k' missing from new side")
    }
    val cmp =
      if (compareCols.nonEmpty) compareCols
      else
        oldDf.columns.toSeq
          .filter(newDf.columns.contains)
          .filterNot(keys.contains)
    cmp.foreach { c =>
      require(oldDf.columns.contains(c), s"compare column '$c' missing from old side")
      require(newDf.columns.contains(c), s"compare column '$c' missing from new side")
    }
    val o = oldDf.select(
      (keys.map(col) :+ lit(1).as("__in_old")) ++
        cmp.map(c => col(c).as(s"__o_$c")): _*
    )
    val n = newDf.select(
      (keys.map(col) :+ lit(1).as("__in_new")) ++
        cmp.map(c => col(c).as(s"__n_$c")): _*
    )
    val changed =
      if (cmp.isEmpty) lit(false)
      else cmp.map(c => !(col(s"__o_$c") <=> col(s"__n_$c"))).reduce(_ || _)
    o.join(n, keys, "full_outer")
      .withColumn(
        "status",
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged"))
      )
      .select(keys.map(col) :+ col("status"): _*)
  }

  /** Distinct archive versions as sorted strings.
    * Mirrors reference `table_management.py:141-159`. */
  def getArchiveVersions(
      df: DataFrame,
      versionColumn: String = "archived_on"
  ): List[String] =
    archiveVersionsDF(df, versionColumn)
      .collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0))
      .toList

  /** DataFrame form of [[getArchiveVersions]] (single string column, sorted). */
  def archiveVersionsDF(
      df: DataFrame,
      versionColumn: String = "archived_on"
  ): DataFrame =
    df.select(col(versionColumn).cast("string"))
      .distinct()
      .orderBy(versionColumn)

  /** Retention: keep only rows belonging to the newest `k` archive
    * versions — the vacuum companion to [[upsertArchive]] (drop
    * snapshots older than the retention horizon before compaction).
    *
    * Scale shape: the distinct-version table is tiny (one row per
    * snapshot) and broadcast back as a semi join; when the table is
    * written `partitionBy(versionCol)` the semi join's literal set prunes
    * partitions at the scan, so retention never reads the dropped
    * snapshots' files. */
  def retainArchiveVersions(
      df: DataFrame,
      k: Int,
      versionCol: String = "archived_on"
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val newest = df
      .select(col(versionCol))
      .distinct()
      .orderBy(col(versionCol).desc)
      .limit(k)
    df.join(broadcast(newest), Seq(versionCol), "left_semi")
  }

  private val yyyymmdd = "yyyyMMdd"

  /** Dispatch table of per-dataset standardisers (rename person-ID column to
    * `person_id`, clean column names, parse packed dates). Mirrors reference
    * `table_management.py:162-300`. */
  def standardiseTable(df: DataFrame, method: String): DataFrame = {
    val methods: Map[String, DataFrame => DataFrame] = Map(
      "deaths" -> standardiseDeathsTable,
      "gdppr" -> (d => renameAndClean(d, "NHS_NUMBER_DEID")),
      "hes_apc" -> (d => renameAndClean(d, "PERSON_ID_DEID")),
      "hes_op" -> (d => renameAndClean(d, "PERSON_ID_DEID")),
      "hes_ae" -> (d => renameAndClean(d, "PERSON_ID_DEID")),
      "pillar_2" -> (d => renameAndClean(d, "Person_ID_DEID")),
      "ssnap" -> (d => renameAndClean(d, "Person_ID_DEID")),
      "sgss" -> (d => renameAndClean(d, "PERSON_ID_DEID")),
      "vaccine_status" -> standardiseVaccineStatusTable,
      "primary_care_meds" -> (d => renameAndClean(d, "Person_ID_DEID")),
      "chess" -> (d => renameAndClean(d, "PERSON_ID_DEID"))
    )
    methods
      .getOrElse(
        method,
        throw new IllegalArgumentException(
          s"'$method' is not a recognised standardise_table method. " +
            s"Available methods: ${methods.keys.toSeq.sorted.mkString(", ")}"
        )
      )
      .apply(df)
  }

  private def renameAndClean(df: DataFrame, personIdSource: String): DataFrame =
    df.withColumnRenamed(personIdSource, "person_id")
      .transform(Wrangling.cleanColumnNames)

  /** ONS-deaths shape: rename ids, clean names, parse `REG_DATE` as
    * `yyyyMMdd`, guard `date_of_death` behind an 8-digit regex.
    * Mirrors reference `table_management.py:209-223`. */
  def standardiseDeathsTable(df: DataFrame): DataFrame =
    df.withColumnRenamed("DEC_CONF_NHS_NUMBER_CLEAN_DEID", "person_id")
      .withColumnRenamed("REG_DATE_OF_DEATH", "date_of_death")
      .transform(Wrangling.cleanColumnNames)
      .withColumn("reg_date", to_date(col("REG_DATE"), yyyymmdd))
      .withColumn(
        "date_of_death",
        when(
          col("date_of_death").rlike("\\d{8}"),
          to_date(col("date_of_death"), yyyymmdd)
        )
      )

  /** Vaccine-status shape: packed dates + a `yyyyMMdd'T'HHmmssSS` timestamp.
    * Mirrors reference `table_management.py:275-286`. */
  def standardiseVaccineStatusTable(df: DataFrame): DataFrame =
    df.withColumnRenamed("PERSON_ID_DEID", "person_id")
      .transform(Wrangling.cleanColumnNames)
      .withColumn("recorded_date", to_date(col("recorded_date"), yyyymmdd))
      .withColumn("expiry_date", to_date(col("expiry_date"), yyyymmdd))
      .withColumn(
        "date_and_time",
        to_timestamp(col("date_and_time"), "yyyyMMdd'T'HHmmssSS")
      )
}
