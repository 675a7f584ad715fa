package graft.bench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark-side counters for a window of wall time, read from a
  * `SparkListener` and a `QueryExecutionListener` the harness registers.
  * Counting is on only while `active`; the untraced run never enables it. */
final class SparkProbe(spark: SparkSession, cores: Int) {
  @volatile var active = false

  private final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var planMs = 0L; var shuffleW = 0L; var shuffleR = 0L; var spill = 0L
    var taskRunMs = 0L; var rowsScanned = 0L; var filesScanned = 0L
    val taskIntervals = mutable.ArrayBuffer[(Long, Long)]() // epoch ms
  }
  private var acc = new Acc

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (active) SparkProbe.this.synchronized { acc.jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) SparkProbe.this.synchronized { acc.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (active) SparkProbe.this.synchronized {
        acc.tasks += 1
        val info = e.taskInfo
        acc.taskIntervals += ((info.launchTime, info.finishTime))
        Option(e.taskMetrics).foreach { m =>
          acc.taskRunMs += m.executorRunTime
          acc.shuffleW += m.shuffleWriteMetrics.bytesWritten
          acc.shuffleR += m.shuffleReadMetrics.totalBytesRead
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) {
        val plan = qe.tracker.phases.values.map(_.durationMs).sum
        val (rows, files) = scanCounts(qe.executedPlan)
        SparkProbe.this.synchronized {
          acc.planMs += plan
          acc.rowsScanned += rows; acc.filesScanned += files
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** (rows out of scan nodes, files read) summed over the executed plan,
    * through adaptive query stages. */
  private def scanCounts(p: SparkPlan): (Long, Long) = {
    var rows = 0L; var files = 0L
    def walk(n: SparkPlan): Unit = {
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
          if (n.nodeName.contains("Scan")) {
            rows += n.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
            files += n.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }
          n.children.foreach(walk)
          n.subqueries.foreach(walk)
      }
    }
    walk(p)
    (rows, files)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.benchbridge.Buses.drain(spark)

  /** Counters for the window since the last `reset`, whose wall time ran
    * from `t0Ms` to `t1Ms` (epoch ms). */
  def take(t0Ms: Long, t1Ms: Long): Map[String, Double] = synchronized {
    val a = acc
    acc = new Acc
    val wall = math.max(1L, t1Ms - t0Ms).toDouble
    val busy = Stats.unionLength(a.taskIntervals.toSeq.map { case (s, e) =>
      (math.max(s, t0Ms), math.min(e, t1Ms)) }).toDouble
    Map(
      "jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble,
      "tasks" -> a.tasks.toDouble, "plan_ms" -> a.planMs.toDouble,
      "sched_gap_ms" -> (wall - busy),
      "task_busy_ratio" -> a.taskRunMs / (wall * cores),
      "shuffle_write_bytes" -> a.shuffleW.toDouble,
      "shuffle_read_bytes" -> a.shuffleR.toDouble,
      "spill_bytes" -> a.spill.toDouble,
      "rows_scanned" -> a.rowsScanned.toDouble,
      "files_scanned" -> a.filesScanned.toDouble)
  }

  def reset(): Unit = synchronized { acc = new Acc }
}

object SparkProbe {
  /** The nine counters reported per query or job under `<layer>.spark.*`. */
  val counters: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "plan_ms" -> "ms", "sched_gap_ms" -> "ms", "task_busy_ratio" -> "ratio",
    "shuffle_write_bytes" -> "B", "shuffle_read_bytes" -> "B",
    "spill_bytes" -> "B")
}
