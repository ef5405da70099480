package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** Per-operation layer counters, filled from outside the program by a
  * SparkListener (jobs, stages, tasks, block puts) and a
  * QueryExecutionListener (parquet scan-node metrics).
  *
  * Every job the harness submits carries the local property [[Phase]]:
  * `build` inside the query closure, `plan` while forcing the executed
  * plan, `exec` for the final materialization. Jobs without it (output
  * checks, leak release) are ignored. Events that carry no properties
  * (block puts, finished SQL executions) go to the current operation; the
  * harness drains the listener bus before it moves to the next one.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  final class Counters {
    val sums: mutable.Map[String, Double] = mutable.LinkedHashMap.empty.withDefaultValue(0.0)
    var peakMemMb = 0.0
    val busy = mutable.ArrayBuffer.empty[(Long, Long)]
    def add(k: String, v: Double): Unit = sums(k) += v
  }

  @volatile private var current = new Counters
  private val stagePhase = mutable.Map.empty[Int, String]

  /** Starts a fresh set of counters and returns the previous one. */
  def swap(): Counters = synchronized {
    val done = current
    current = new Counters
    stagePhase.clear()
    done
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Phase)))
    phase.foreach { ph =>
      e.stageIds.foreach(stagePhase(_) = ph)
      current.add(s"$ph.jobs", 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagePhase.get(e.stageInfo.stageId).foreach(ph => current.add(s"$ph.stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ph = stagePhase.get(e.stageId)
    val m = e.taskMetrics
    if (ph.isDefined && m != null) {
      val c = current
      c.add(s"${ph.get}.tasks", 1)
      val in = m.inputMetrics
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      val out = m.outputMetrics
      if (in.recordsRead == 0 && sr.recordsRead == 0 && sw.recordsWritten == 0 &&
        out.recordsWritten == 0 && in.bytesRead == 0)
        c.add("empty_tasks", 1)
      c.add("all_tasks", 1)
      c.add("cpu_s", m.executorCpuTime / 1e9)
      c.add("task_s", m.executorRunTime / 1e3)
      c.add("gc_s", m.jvmGCTime / 1e3)
      c.add("block_read_mb", in.bytesRead / Mb)
      c.add("shuffle_write_mb", sw.bytesWritten / Mb)
      c.add("shuffle_read_mb", (sr.remoteBytesRead + sr.localBytesRead) / Mb)
      c.add("fetch_wait_s", sr.fetchWaitTime / 1e3)
      c.add("spill_mb", m.diskBytesSpilled / Mb)
      c.peakMemMb = math.max(c.peakMemMb, m.peakExecutionMemory / Mb)
      c.busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isInstanceOf[RDDBlockId] && info.storageLevel.isValid)
      current.add("put_mb", (info.memSize + info.diskSize) / Mb)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
      def visit(p: SparkPlan): Unit = if (seen.add(p)) p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec        => visit(q.plan)
        case _: ReusedExchangeExec    => ()
        case s: FileSourceScanExec =>
          s.metrics.get("filesSize").foreach(m => current.add("files_mb", m.value / Mb))
          s.metrics.get("numOutputRows").foreach(m => current.add("scan_rows", m.value.toDouble))
        case other =>
          other.children.foreach(visit)
          other.subqueries.foreach(visit)
      }
      visit(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val Phase = "perfbench.phase"
  val Mb: Double = 1024.0 * 1024.0

  /** Blocks until every event posted so far has been delivered. The bus is
    * package-private in Spark, so it is reached by reflection. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Milliseconds of `[start, end)` covered by no interval in `busy`. */
  def idleMs(start: Long, end: Long, busy: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    busy.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) {
          covered += b - math.max(a, reach)
          reach = b
        }
      }
    math.max(0L, end - start - covered)
  }
}
