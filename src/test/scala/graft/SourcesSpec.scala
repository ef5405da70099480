package graft

import graft.sources.{CsvUtils, JsonUtils, Tables}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Tables / CSV / JSON source-sink suites (reference has no tests for these;
  * goldens follow the module docstrings). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-sources").toString

  test("json round trip with nested values") {
    val path = s"$tmp/config.json"
    val data = Map(
      "orders" -> Map("database" -> "graft_db", "table_name" -> "orders_tbl"),
      "flag" -> true,
      "n" -> 3L,
      "items" -> List("a", "b")
    )
    JsonUtils.writeJsonFile(data, path)
    val back = JsonUtils.readJsonFile(path)
    assert(back("flag") == true)
    assert(back("n") == 3L)
    assert(back("items") == List("a", "b"))
    assert(
      back("orders").asInstanceOf[Map[String, Any]]("database") == "graft_db"
    )
  }

  test("json duplicate keys rejected") {
    val path = s"$tmp/dup.json"
    Files.writeString(
      java.nio.file.Paths.get(path),
      """{"a": 1, "a": 2}"""
    )
    intercept[IllegalArgumentException](JsonUtils.readJsonFile(path))
  }

  test("json write to missing directory raises") {
    intercept[IllegalArgumentException] {
      JsonUtils.writeJsonFile(Map("a" -> 1), "/nonexistent-dir-xyz/out.json")
    }
  }

  test("csv write + read round trip keeps empty strings") {
    val path = s"$tmp/roundtrip.csv"
    val df = Seq(("John", "30", ""), ("Jane, M", "25", "x\"y"))
      .toDF("name", "age", "note")
    CsvUtils.writeCsvFile(df, path)
    val back = CsvUtils.readCsvFile(spark, path)
    checkRows(back, Seq(Row("John", "30", ""), Row("Jane, M", "25", "x\"y")))
  }

  test("csv write guards: too large, empty, missing dir") {
    val df = (1 to 20).map(i => (i, s"n$i")).toDF("id", "name")
    intercept[IllegalArgumentException] {
      CsvUtils.writeCsvFile(df, s"$tmp/big.csv", maxRowsThreshold = 10)
    }
    intercept[IllegalArgumentException] {
      CsvUtils.writeCsvFile(df.filter(lit(false)), s"$tmp/empty.csv")
    }
    intercept[IllegalArgumentException] {
      CsvUtils.writeCsvFile(df, "/nonexistent-dir-xyz/out.csv")
    }
  }

  test("createDictFromCsv single/multi/named value shapes + uniqueness") {
    val path = s"$tmp/dict.csv"
    Files.writeString(
      java.nio.file.Paths.get(path),
      "Name,Age,Gender\nJohn,30,Male\nAlice,25,Female\n"
    )
    val single = CsvUtils.createDictFromCsv(spark, path, "Name", Seq("Age"))
    assert(single == Map("John" -> "30", "Alice" -> "25"))
    val multi = CsvUtils.createDictFromCsv(spark, path, "Name", Seq("Age", "Gender"))
    assert(multi("John") == List("30", "Male"))
    val named = CsvUtils.createDictFromCsv(
      spark, path, "Name", Seq("Age", "Gender"), retainColumnNames = true
    )
    assert(named("Alice") == Map("Age" -> "25", "Gender" -> "Female"))

    Files.writeString(
      java.nio.file.Paths.get(s"$tmp/dup.csv"),
      "Name,Age\nJohn,30\nJohn,31\n"
    )
    intercept[IllegalArgumentException] {
      CsvUtils.createDictFromCsv(spark, s"$tmp/dup.csv", "Name", Seq("Age"))
    }
  }

  test("saveTable + loadTable via catalog with archive filtering") {
    val dirPath = s"$tmp/table_directory.json"
    JsonUtils.writeJsonFile(
      Map(
        "cohort" -> Map("database" -> "graft_test_db", "table_name" -> "cohort_tbl"),
        "cohort_latest" -> Map(
          "database" -> "graft_test_db", "table_name" -> "cohort_tbl",
          "archive_date" -> "latest"
        ),
        "cohort_v1" -> Map(
          "database" -> "graft_test_db", "table_name" -> "cohort_tbl",
          "archive_date" -> "2024-01-01"
        ),
        "cohort_upto" -> Map(
          "database" -> "graft_test_db", "table_name" -> "cohort_tbl",
          "max_archive_date" -> "2024-01-15"
        )
      ),
      dirPath
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_test_db")
    val df = Seq(
      (1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-02-01"), (4, "2024-01-15")
    ).toDF("id", "archived_on")

    Tables.saveTable(df, "cohort", dirPath)
    assert(Tables.loadTable(spark, "cohort", dirPath).count() == 4)
    checkRows(
      Tables.loadTable(spark, "cohort_latest", dirPath).select("id"),
      Seq(Row(3))
    )
    checkRows(
      Tables.loadTable(spark, "cohort_v1", dirPath).select("id").orderBy("id"),
      Seq(Row(1), Row(2))
    )
    checkRows(
      Tables.loadTable(spark, "cohort_upto", dirPath).select("id").orderBy("id"),
      Seq(Row(1), Row(2), Row(4))
    )
    assert(
      Tables.getArchiveVersions(
        spark.table("graft_test_db.cohort_tbl")
      ) == List("2024-01-01", "2024-01-15", "2024-02-01")
    )
    intercept[IllegalArgumentException] {
      Tables.loadTable(spark, "nope", dirPath)
    }
  }

  test("saveTable with partitioning writes partitioned table") {
    val dirPath = s"$tmp/table_directory2.json"
    JsonUtils.writeJsonFile(
      Map("part" -> Map("database" -> "graft_test_db", "table_name" -> "part_tbl")),
      dirPath
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_test_db")
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "grp")
    Tables.saveTable(df, "part", dirPath, partitionBy = Seq("grp"))
    assert(spark.table("graft_test_db.part_tbl").count() == 3)
    // partition pruning: a filter on the partition column must reach the
    // scan as a PartitionFilter (only matching directories read at scale)
    val pruned = spark.table("graft_test_db.part_tbl").filter(col("grp") === "a")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(
      plan.contains("PartitionFilters") && plan.contains("grp"),
      s"expected partition pruning on grp:\n$plan"
    )
    assert(pruned.count() == 2)
  }

  test("saveTable supports ORC format round trip") {
    val dirPath = s"$tmp/table_directory_orc.json"
    JsonUtils.writeJsonFile(
      Map("orc_t" -> Map("database" -> "graft_test_db", "table_name" -> "orc_tbl")),
      dirPath
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_test_db")
    val df = Seq((1, "x"), (2, "y")).toDF("id", "v")
    Tables.saveTable(df, "orc_t", dirPath, format = "orc")
    val meta = spark.sql("DESCRIBE EXTENDED graft_test_db.orc_tbl")
      .filter(col("col_name") === "Provider")
      .collect()
    assert(meta.nonEmpty && meta(0).getString(1).toLowerCase.contains("orc"))
    checkRows(
      Tables.loadTable(spark, "orc_t", dirPath).orderBy("id"),
      Seq(Row(1, "x"), Row(2, "y"))
    )
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val dirPath = s"$tmp/table_directory3.json"
    JsonUtils.writeJsonFile(
      Map(
        "facts" -> Map("database" -> "graft_test_db", "table_name" -> "facts_b"),
        "dims" -> Map("database" -> "graft_test_db", "table_name" -> "dims_b")
      ),
      dirPath
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_test_db")
    val facts = (1 to 1000).map(i => (i.toLong % 100, s"f$i")).toDF("key", "payload")
    val dims = (0L until 100L).map(i => (i, s"d$i")).toDF("key", "label")
    Tables.saveTable(facts, "facts", dirPath, bucketBy = Some((8, Seq("key"))))
    Tables.saveTable(dims, "dims", dirPath, bucketBy = Some((8, Seq("key"))))

    val joined = spark
      .table("graft_test_db.facts_b")
      .join(spark.table("graft_test_db.dims_b").hint("merge"), Seq("key"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() == 1000)
  }

  test("resolvePath: absolute, project-relative, repo-relative modes") {
    import graft.sources.{Paths => GPaths}
    assert(GPaths.resolvePath("/abs/x.csv") == "/abs/x.csv")
    assert(
      GPaths.resolvePath("./cfg/x.json", projectFolder = Some("/proj")) ==
        "/proj/cfg/x.json"
    )
    assert(
      GPaths.resolvePath("data/x.csv", repoRoot = Some("/repo")) ==
        "/repo/data/x.csv"
    )
    intercept[IllegalArgumentException] {
      GPaths.resolvePath("./x", projectFolder = None)
    }
  }

  test("findProjectFolder walks up to the marker") {
    import graft.sources.{Paths => GPaths}
    val root = Files.createTempDirectory("graft-proj")
    val nested = root.resolve("a/b/c")
    Files.createDirectories(nested)
    Files.writeString(root.resolve(".dbxproj"), "")
    assert(
      GPaths.findProjectFolder(nested.toString) ==
        Some(root.toRealPath().toString) ||
        GPaths.findProjectFolder(nested.toString) == Some(root.toString)
    )
    assert(GPaths.findProjectFolder("/tmp", "no-such-marker-xyz").isEmpty)
  }

  test("standardise gdppr renames person id and cleans names") {
    val raw = Seq((1L, "x")).toDF("NHS_NUMBER_DEID", "Some Col!")
    val got = Tables.standardiseTable(raw, "gdppr")
    assert(got.columns.toSeq == Seq("person_id", "some_col_"))
  }

  test("standardise vaccine_status parses packed dates and timestamps") {
    val raw = Seq(
      (1L, "20240115", "20250115", "20240115T12300000")
    ).toDF("PERSON_ID_DEID", "recorded_date", "expiry_date", "date_and_time")
    val got = Tables.standardiseTable(raw, "vaccine_status")
    val row = got.collect()(0)
    assert(row.getDate(1).toString == "2024-01-15")
    assert(row.getDate(2).toString == "2025-01-15")
    assert(row.getTimestamp(3).toString.startsWith("2024-01-15 12:30:00"))
  }

  test("standardise unknown method raises") {
    intercept[IllegalArgumentException] {
      Tables.standardiseTable(Seq((1, 2)).toDF("a", "b"), "nope")
    }
  }

  test("upsertArchive: newest version wins, update side wins ties") {
    val existing = Seq(
      (1L, "old", 10), // updated with a NEWER version -> replaced
      (2L, "keep", 30), // existing is newer than the update -> kept
      (3L, "tie-old", 40) // same version in both -> update wins
    ).toDF("k", "v", "ver")
    val updates = Seq(
      (1L, "new", 20),
      (2L, "stale", 25),
      (3L, "tie-new", 40),
      (4L, "insert", 5) // brand-new key -> inserted
    ).toDF("k", "v", "ver")
    val got = Tables
      .upsertArchive(existing, updates, Seq("k"), "ver")
      .orderBy("k")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(
      got.toSeq == Seq(
        (1L, "new", 20),
        (2L, "keep", 30),
        (3L, "tie-new", 40),
        (4L, "insert", 5)
      )
    )
    intercept[IllegalArgumentException] {
      Tables.upsertArchive(existing, updates.drop("v"), Seq("k"), "ver")
    }
  }

  test("snapshotDiff labels added/removed/changed/unchanged, null-safely") {
    val oldSnap = Seq(
      (1L, Option("a")),  // unchanged
      (2L, Option("b")),  // changed (value)
      (3L, Option.empty[String]), // unchanged (NULL == NULL)
      (4L, Option("d")),  // changed (value -> NULL)
      (5L, Option("e"))   // removed
    ).toDF("k", "v")
    val newSnap = Seq(
      (1L, Option("a")),
      (2L, Option("B")),
      (3L, Option.empty[String]),
      (4L, Option.empty[String]),
      (6L, Option("f"))   // added
    ).toDF("k", "v")
    val got = Tables
      .snapshotDiff(oldSnap, newSnap, Seq("k"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(got == Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "unchanged",
      4L -> "changed", 5L -> "removed", 6L -> "added"
    ), s"$got")
    // no shared non-key columns -> everything present on both sides is
    // unchanged by definition
    val keysOnly = Tables
      .snapshotDiff(oldSnap.select("k"), newSnap.select("k"), Seq("k"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(keysOnly(1L) == "unchanged" && keysOnly(5L) == "removed"
      && keysOnly(6L) == "added")
    intercept[IllegalArgumentException] {
      Tables.snapshotDiff(oldSnap, newSnap, Seq("missing"))
    }
    intercept[IllegalArgumentException] {
      Tables.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("nope"))
    }
  }

  test("retainArchiveVersions keeps only the newest k snapshots") {
    val archive = Seq(
      (1L, "2024-01-01"), (2L, "2024-01-01"),
      (3L, "2024-02-01"), (4L, "2024-03-01"), (5L, "2024-04-01")
    ).toDF("id", "archived_on")
    val kept = Tables
      .retainArchiveVersions(archive, 2)
      .collect()
      .map(_.getAs[Long]("id"))
      .sorted
    assert(kept.toSeq == Seq(4L, 5L))
    // k larger than the snapshot count keeps everything
    assert(Tables.retainArchiveVersions(archive, 10).count() == 5)
    intercept[IllegalArgumentException] {
      Tables.retainArchiveVersions(archive, 0)
    }
  }
}
