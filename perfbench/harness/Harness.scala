package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random

/** Closed-loop benchmark harness: one client thread submits one operation
  * at a time to `local[N]`.
  *
  * A run sets up the session (and the workload's amplified input), warms up
  * with untimed passes at the measured scale, then times whole passes in a
  * seed-permuted order until `--seconds` have gone by, at least two. Every
  * operation is timed cold: whatever it leaves persisted is counted as
  * leaked and released before the next one starts, so no operation is
  * served from an earlier one's cache. Outputs are fingerprinted after each operation and
  * compared with the oracle after the timed loop.
  *
  * Usage: perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --table-rows T=N,... --queries Q,... --oracle DIR --expected FILE
  *   --out FILE --launch-ms EPOCH_MS --local-dir DIR [--cpus N]
  */
object Harness {
  final case class Sample(
      op: String,
      pass: Int,
      latencyS: Double,
      buildS: Double,
      planS: Double,
      execS: Double,
      cpuS: Double,
      leakedRdds: Int,
      leakedMb: Double,
      heldMb: Double,
      spans: Map[String, Double],
      layers: Map[String, Double],
      tables: Set[String],
      fingerprint: Option[Fingerprint],
      error: Option[String]
  )

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val dataDir = args("data")
    val cpus = args.getOrElse("cpus", "4")

    val spark = session(cpus, args("local-dir"))
    val sc = spark.sparkContext

    // the listeners run through warm-up in every run: the first warm-up
    // pass, cold in a fresh JVM, is the reference the self-test compares
    // every timed pass with
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)

    val sessionMs = System.currentTimeMillis()
    val queries = args.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq
    val workload = Workloads(workloadName, spark, dataDir, queries, seed)
    val inputMs = System.currentTimeMillis()
    val rng = new Random(seed)

    // warm-up: untimed passes at the measured scale
    val cold = (1 to workload.warmupPasses).flatMap { w =>
      rng.shuffle(workload.ops).map(op => runOp(spark, op, -w, Some(tracer)))
    }.filter(_.pass == -1)
    if (!trace) {
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }
    // input rows of a pass: the amplified input, or the stored row counts of
    // the tables each query reads; neither depends on how the program plans
    val tableRows = args.getOrElse("table-rows", "").split(",").filter(_.nonEmpty).map { kv =>
      val Array(t, n) = kv.split("=", 2)
      t -> n.toDouble
    }.toMap
    val rowsPerPass = workload.inputRows.map(_.toDouble)
      .getOrElse(cold.map(_.tables.toSeq.map(tableRows).sum).sum)

    val firstOpMs = System.currentTimeMillis()
    val samples = mutable.ArrayBuffer.empty[Sample]
    var pass = 0
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (pass < 2 || elapsed < seconds) {
      rng.shuffle(workload.ops).foreach { op =>
        samples += runOp(spark, op, pass, if (trace) Some(tracer) else None)
      }
      pass += 1
    }

    // output checks, outside the timed loop
    val expected = readExpected(args.get("expected"))
    val oracleFp = mutable.Map.empty[String, Option[String]]
    def want(op: Op): Option[String] =
      if (op.oracle) oracleFp.getOrElseUpdate(op.name, {
        val path = s"${args("oracle")}/${op.name}.parquet"
        if (!Files.exists(Paths.get(path))) None
        else {
          val df = spark.read.parquet(path)
          Some(Canon.fingerprint(df.columns.toSeq, df.collect().iterator).render)
        }
      })
      else expected.get(op.name)
    val opsByName = workload.ops.map(o => o.name -> o).toMap
    val mismatches = samples.filter { s =>
      s.error.isDefined || s.fingerprint.map(_.render) != want(opsByName(s.op))
    }

    val launchMs = args("launch-ms").toLong
    val setup = Seq(
      "session_s" -> (sessionMs - launchMs) / 1e3,
      "input_s" -> (inputMs - sessionMs) / 1e3,
      "warmup_s" -> (firstOpMs - inputMs) / 1e3)
    val report = Report(workloadName, seed, trace, setup, rowsPerPass, samples.toSeq, cold,
      mismatches.map(s => s.op -> s.error.getOrElse(
        s"output ${s.fingerprint.map(_.render).getOrElse("-")} != " +
          want(opsByName(s.op)).getOrElse("no reference"))).toSeq)
    Files.writeString(Paths.get(args("out")), report.json)
    spark.stop()
  }

  /** The session every run uses: the settings of `graft.Bench`, with all
    * scratch space under `localDir`. */
  def session(cpus: String, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", localDir + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cachedData(spark: SparkSession): Seq[CachedData] = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val m = cm.getClass.getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(cm).asInstanceOf[scala.collection.immutable.IndexedSeq[CachedData]]
  }

  /** Times one operation cold, counts and releases what it left behind. */
  def runOp(spark: SparkSession, op: Op, pass: Int, tracer: Option[Tracer]): Sample = {
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val cacheBefore = cachedData(spark)
    tracer.foreach { t => Tracer.drain(sc); t.swap() }
    val spans = new Spans
    var rows: Array[Row] = null
    var df: DataFrame = null
    var columns: Seq[String] = Nil
    var error: Option[String] = None
    val startMs = System.currentTimeMillis()
    val cpu0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    var t1, t2 = t0
    try {
      sc.setLocalProperty(Tracer.Phase, "build")
      df = op.build(spark, spans)
      t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.Phase, "plan")
      df.queryExecution.executedPlan
      t2 = System.nanoTime()
      sc.setLocalProperty(Tracer.Phase, "exec")
      columns = df.columns.toSeq
      rows = df.collect()
    } catch {
      case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    } finally sc.setLocalProperty(Tracer.Phase, null)
    val t3 = System.nanoTime()
    val cpu1 = osBean.getProcessCpuTime
    val endMs = System.currentTimeMillis()
    if (t1 == t0) t1 = t3
    if (t2 == t0) t2 = t3
    // the parquet tables the query reads, from its analyzed plan
    val tables = Option(df).toSeq.flatMap(_.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }).flatMap {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
      case _                   => Nil
    }.toSet

    // what the operation left persisted: count it, then release only that
    val info = sc.getRDDStorageInfo
    val leaked = info.filterNot(r => rddsBefore.contains(r.id))
    val heldMb = info.map(_.memSize).sum / Tracer.Mb
    cachedData(spark).filterNot(c => cacheBefore.exists(_ eq c)).foreach { c =>
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
        .uncacheQuery(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], c.plan,
          cascade = false, blocking = true)
    }
    sc.getPersistentRDDs.filter { case (id, _) => !rddsBefore.contains(id) }
      .foreach { case (_, rdd) => rdd.unpersist(blocking = true) }

    val fingerprint = Option(rows).map(r => Canon.fingerprint(columns, r.iterator))
    val layers = tracer.map { t =>
      Tracer.drain(sc)
      val c = t.swap()
      val s = c.sums
      Map(
        "queries.build_s" -> (t1 - t0) / 1e9,
        "queries.build_jobs" -> s("build.jobs"),
        "plans.plan_s" -> (t2 - t1) / 1e9,
        "exec.run_s" -> (t3 - t2) / 1e9,
        "exec.jobs" -> s("exec.jobs"),
        "exec.stages" -> s("exec.stages"),
        "exec.tasks" -> s("exec.tasks"),
        "exec.empty_tasks" -> s("empty_tasks"),
        "exec.all_tasks" -> s("all_tasks"),
        "exec.cpu_s" -> s("cpu_s"),
        "exec.task_s" -> s("task_s"),
        "exec.gc_s" -> s("gc_s"),
        "exec.peak_mem_mb" -> c.peakMemMb,
        "exec.idle_s" -> Tracer.idleMs(startMs, endMs, c.busy.toSeq) / 1e3,
        "sources.files_mb" -> s("files_mb"),
        "sources.rows" -> s("scan_rows"),
        "sources.block_read_mb" -> s("block_read_mb"),
        "shuffle.write_mb" -> s("shuffle_write_mb"),
        "shuffle.read_mb" -> s("shuffle_read_mb"),
        "shuffle.fetch_wait_s" -> s("fetch_wait_s"),
        "shuffle.spill_mb" -> s("spill_mb"),
        "materialize.put_mb" -> s("put_mb")
      )
    }.getOrElse(Map.empty)

    Sample(op.name, pass, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      (cpu1 - cpu0) / 1e9, leaked.length, leaked.map(r => r.memSize + r.diskSize).sum / Tracer.Mb,
      heldMb, spans.sums.toMap, layers, tables, fingerprint, error)
  }

  /** Stored fingerprints, one `operation<TAB>fingerprint` per line. */
  private def readExpected(path: Option[String]): Map[String, String] =
    path.filter(p => Files.exists(Paths.get(p))).map { p =>
      scala.io.Source.fromFile(p).getLines().filter(_.contains("\t")).map { line =>
        val Array(name, fp) = line.split("\t", 2)
        name -> fp
      }.toMap
    }.getOrElse(Map.empty)
}
