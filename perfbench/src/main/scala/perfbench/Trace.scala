package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around layer calls plus the Spark counters under them, held in
  * memory until [[toMap]]. Registers its own `SparkListener` (jobs and
  * task metrics, aggregated per job) and `QueryExecutionListener`
  * (QueryPlanningTracker phases). Times are epoch milliseconds; span
  * times come from `nanoTime` anchored to the wall clock once, so span
  * arithmetic is exact and still lines up with listener event times.
  * Attribution to spans is done afterwards by time (spans.py).
  */
final class Trace(spark: SparkSession) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private final class Job(val id: Int, val submitMs: Long) {
    var endMs = -1L
    var tasks, failures = 0
    var cpuNs, runMs, schedDelayMs, shuffleRead, shuffleWrite = 0L
    var spillDisk, spillMem, bytesWritten = 0L
    def toMap: Map[String, Any] = Map("id" -> id, "submit_ms" -> submitMs,
      "end_ms" -> endMs, "tasks" -> tasks, "failures" -> failures,
      "cpu_ns" -> cpuNs, "run_ms" -> runMs, "sched_delay_ms" -> schedDelayMs,
      "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite,
      "spill_disk" -> spillDisk, "spill_mem" -> spillMem,
      "bytes_written" -> bytesWritten)
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val phases = mutable.ArrayBuffer.empty[Map[String, Any]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = new Job(e.jobId, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        val info = e.taskInfo
        j.tasks += 1
        if (!info.successful) j.failures += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spillDisk += m.diskBytesSpilled
          j.spillMem += m.memoryBytesSpilled
          j.bytesWritten += m.outputMetrics.bytesWritten
          // Spark UI's scheduler delay: task duration not spent running,
          // (de)serializing or fetching the result
          val duration = info.finishTime - info.launchTime
          val fetching =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          j.schedDelayMs += math.max(0L, duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetching)
        }
      }
    }
  }

  private val planning = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      for ((phase, p) <- qe.tracker.phases)
        phases += Map("phase" -> phase, "start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(planning)

  private val spans = mutable.ArrayBuffer.empty[Trace.Span]
  private var stack = List.empty[Trace.Span]
  private var wall = (0.0, 0.0)

  def start(): Unit = wall = (nowMs(), 0.0)
  def stop(): Unit = wall = (wall._1, nowMs())

  def span[T](name: String)(body: => T): T = {
    val s = Trace.Span(name, stack.headOption.map(_.name).orNull, nowMs(), 0.0)
    spans += s
    stack = s :: stack
    try body finally {
      s.t1 = nowMs()
      stack = stack.tail
    }
  }

  /** Wait for every queued listener event, then detach. */
  def close(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(planning)
    spark.sparkContext.removeSparkListener(listener)
  }

  def toMap: Map[String, Any] = synchronized {
    Map("t0_ms" -> wall._1, "t1_ms" -> wall._2,
      "spans" -> spans.toSeq.map(s => Map("name" -> s.name, "parent" -> s.parent,
        "t0_ms" -> s.t0, "t1_ms" -> s.t1)),
      "jobs" -> jobs.values.toSeq.map(_.toMap),
      "phases" -> phases.toSeq)
  }
}

object Trace {
  private final case class Span(name: String, parent: String, t0: Double, var t1: Double)
}
