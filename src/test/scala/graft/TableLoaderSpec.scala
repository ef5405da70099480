package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `QueryShared.t`, the table loader every `SparkEntry` query reads
  * through: the schema is inferred once per file version, and a new
  * version or a new parquet reader setting infers it again. */
class TableLoaderSpec extends SparkSpec {

  /** Spark jobs launched by `body`, counted with a SparkListener. A
    * barrier job in a second group marks the end: the listener sees
    * events in the order they were posted, so once the barrier starts,
    * every job of `body` has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"loader-${java.util.UUID.randomUUID}"
    val started = new AtomicInteger
    val barrier = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(g) if g == s"$group-end" => barrier.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs during", interruptOnCancel = false)
      body
      sc.setJobGroup(s"$group-end", "barrier", interruptOnCancel = false)
      sc.parallelize(Seq(1), 1).count()
      assert(barrier.await(60, TimeUnit.SECONDS), "listener never saw the barrier job")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Writes `df` as the single parquet file `$dir/$name.parquet`, the
    * layout of the test tables. */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val staging = Files.createTempDirectory("graft-loader-staging")
    df.coalesce(1).write.mode("overwrite").parquet(s"$staging/out")
    val file = staging.resolve("out").toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(file.toPath, new java.io.File(s"$dir/$name.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def tempDir(): String = Files.createTempDirectory("graft-loader").toString

  test("t reads an unchanged file a second time without a Spark job") {
    val dir = tempDir()
    writeFile(spark.range(5).select(col("id"), (col("id") * 2).as("twice")), dir, "tbl")
    var first: DataFrame = null
    assert(jobsDuring { first = QueryShared.t(spark, dir, "tbl") } >= 1,
      "the first read infers the schema with a Spark job")
    var second: DataFrame = null
    assert(jobsDuring { second = QueryShared.t(spark, dir, "tbl") } == 0)
    assert(second.schema == first.schema)
    checkAnswer(second, first)
  }

  test("t infers again after a file is overwritten with a different schema") {
    val dir = tempDir()
    writeFile(spark.range(3).select(col("id").cast("int").as("a")), dir, "tbl")
    assert(QueryShared.t(spark, dir, "tbl").columns.toSeq == Seq("a"))
    writeFile(spark.range(4).select(col("id").cast("string").as("b"), col("id").as("c")),
      dir, "tbl")
    val got = QueryShared.t(spark, dir, "tbl")
    assert(got.columns.toSeq == Seq("b", "c"))
    checkRows(got, (0 until 4).map(i => Row(i.toString, i.toLong)))
  }

  test("t infers again after a Spark-written directory is overwritten with a different schema") {
    val dir = tempDir()
    spark.range(6).repartition(3).select(col("id").cast("int").as("a"))
      .write.mode("overwrite").parquet(s"$dir/tbl.parquet")
    assert(QueryShared.t(spark, dir, "tbl").columns.toSeq == Seq("a"))
    assert(jobsDuring { QueryShared.t(spark, dir, "tbl") } == 0)
    spark.range(2).select(col("id").as("x"), lit("y").as("y"))
      .write.mode("overwrite").parquet(s"$dir/tbl.parquet")
    val got = QueryShared.t(spark, dir, "tbl")
    assert(got.columns.toSeq == Seq("x", "y"))
    checkRows(got, Seq(Row(0L, "y"), Row(1L, "y")))
  }

  test("spark.sql.parquet.binaryAsString changes the schema t returns") {
    // written with parquet's own writer: a Spark-written file carries its
    // Spark schema in the footer, and inference prefers that to the setting
    val dir = tempDir()
    val fileSchema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$dir/tbl.parquet"),
        spark.sparkContext.hadoopConfiguration))
      .withType(fileSchema)
      .build()
    val groups = new SimpleGroupFactory(fileSchema)
    try Seq("0", "1", "2").foreach(v => writer.write(groups.newGroup().append("b", v)))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(QueryShared.t(spark, dir, "tbl").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = QueryShared.t(spark, dir, "tbl")
      assert(asString.schema("b").dataType == StringType)
      checkRows(asString, Seq("0", "1", "2").map(Row(_)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("building each cohort-tail query a second time launches no Spark job") {
    val cohortTail = Seq("q_inclusion", "q_first_row", "q_redact_string", "q_clean_names",
      "q_date_dsl", "q_archive_retention", "q1_pricing")
    cohortTail.foreach(q => SparkEntry.queries(q)(spark, sfDir))
    val jobs = cohortTail.map(q => q -> jobsDuring { SparkEntry.queries(q)(spark, sfDir) })
    assert(jobs.forall(_._2 == 0), s"build jobs per query: $jobs")
  }
}
