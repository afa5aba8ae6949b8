package bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: `parent` is the id of the span that caused it, `op` the
  * id shared by every span of one op. Times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Long, endMs: Long)

/** Counts and spans recorded at the scheduler and Catalyst boundaries,
  * from the outside: a public `SparkListener` for jobs, stages and
  * tasks, a `QueryExecutionListener` for the planning phases of each
  * action. Attached only while a traced pass runs. The harness drains
  * the listener bus after each op, so every event is filed under the
  * op that caused it (`op`), and jobs carry the op phase they were
  * submitted in as a local property.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var op: Long = 0L
  private var nextId = 1L << 40
  private def newId(): Long = { nextId += 1; nextId }

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Summed per-pass counters, by per-layer metric name. */
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Job intervals of the current op, for the no-job-running gap. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private val jobStart = mutable.Map.empty[Int, (Long, Long, String)]
  private val stageJob = mutable.Map.empty[Int, Long]

  private def add(k: String, v: Double): Unit = counts(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.PhaseKey))).getOrElse("other")
    val id = newId()
    jobStart(e.jobId) = (id, e.time, phase)
    e.stageIds.foreach(stageJob(_) = id)
    add("jobs", 1)
    if (phase == "construct") add("construct_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (id, t0, phase) =>
      spans += Span(id, op, op, s"job:$phase", t0, e.time)
      jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      add("stages", 1)
      spans += Span(newId(), stageJob.getOrElse(si.stageId, op), op,
        s"stage:${si.stageId}", si.submissionTime.getOrElse(0L),
        si.completionTime.getOrElse(0L))
      val m = si.taskMetrics
      if (m != null) {
        add("exec_run_s", m.executorRunTime / 1e3)
        add("exec_cpu_s", m.executorCpuTime / 1e9)
        add("exec_gc_s", m.jvmGCTime / 1e3)
        add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add("input_mb", m.inputMetrics.bytesRead / 1e6)
        add("input_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    Seq("analysis" -> "analysis_s", "optimization" -> "optimizer_s",
      "planning" -> "planning_s").foreach { case (phase, key) =>
      qe.tracker.phases.get(phase).foreach { p =>
        add(key, p.durationMs / 1e3)
        spans += Span(newId(), op, op, s"catalyst:$phase", p.startTimeMs,
          p.endTimeMs)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    Tracer.drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Seconds of `[t0, t1]` during which no job of the op ran. */
  def gapSeconds(t0: Long, t1: Long): Double = synchronized {
    var covered = 0L
    var end = t0
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, end)
      val to = math.min(e, t1)
      if (to > from) covered += to - from
      end = math.max(end, e)
    }
    jobIntervals.clear()
    math.max(0L, (t1 - t0) - covered) / 1e3
  }

  def addSpan(s: Span): Unit = synchronized { spans += s }
  def addCount(k: String, v: Double): Unit = synchronized { add(k, v) }
  def span(parent: Long, name: String, t0: Long, t1: Long): Long =
    synchronized { val id = newId(); spans += Span(id, parent, op, name, t0, t1); id }
}

object Tracer {
  val PhaseKey = "bench.phase"

  /** Blocks until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)
}
