package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: an op execution, a job, a stage or a micro-batch. */
final case class Span(name: String, startMs: Long, endMs: Long, parent: String, op: String)

/** Per-layer recorder built on Spark's public listener APIs: a
  * `SparkListener` for jobs, stages and tasks, a `QueryExecutionListener`
  * for Catalyst phases and a `StreamingQueryListener` for micro-batch
  * phases and state stores. Jobs carry the op id in the local property
  * [[Trace.OpKey]], so scheduler work is attributed to the op exactly;
  * planning and streaming callbacks are counted while the recorder is
  * attached. Everything is summed in memory; spans are kept for the
  * artifact. */
final class Trace {
  val sums: mutable.Map[String, Double] = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  val spans = mutable.ArrayBuffer.empty[Span]
  /** op id -> (start, end) of each of its jobs */
  val jobsByOp = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val jobOp = mutable.HashMap.empty[Int, (String, Long)]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val reduceStages = mutable.HashSet.empty[Int]
  private val stateRows = mutable.HashMap.empty[java.util.UUID, Long]
  val lastEvent = new AtomicLong(System.currentTimeMillis())

  private def add(k: String, v: Double): Unit = sums(k) += v
  private def max(k: String, v: Double): Unit = sums(k) = math.max(sums(k), v)
  private def touch(): Unit = lastEvent.set(System.currentTimeMillis())

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      touch()
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpKey))).getOrElse("-")
      jobOp(e.jobId) = (op, e.time)
      e.stageInfos.foreach(si => stageOp(si.stageId) = op)
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      touch()
      jobOp.remove(e.jobId).foreach { case (op, t0) =>
        jobsByOp.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((t0, e.time))
        spans += Span(s"job ${e.jobId}", t0, e.time, op, op)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      touch()
      if (e.stageInfo.parentIds.nonEmpty) reduceStages += e.stageInfo.stageId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      touch()
      val si = e.stageInfo
      add("exec.stages", 1)
      val op = stageOp.getOrElse(si.stageId, "-")
      for (s <- si.submissionTime; c <- si.completionTime)
        spans += Span(s"stage ${si.stageId}", s, c, op, op)
      for (s <- si.submissionTime; f <- firstLaunch.remove(si.stageId))
        add("exec.sched_wait_s", math.max(0L, f - s) / 1000.0)
    }
    private val firstLaunch = mutable.HashMap.empty[Int, Long]
    override def onTaskStart(e: SparkListenerTaskStart): Unit = Trace.this.synchronized {
      touch()
      if (!firstLaunch.contains(e.stageId)) firstLaunch(e.stageId) = e.taskInfo.launchTime
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      touch()
      add("exec.tasks", 1)
      if (e.reason != Success) add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_s", m.executorRunTime / 1000.0)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1000.0)
        max("exec.peak_mem_mb", m.peakExecutionMemory / 1048576.0)
        add("scan.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
        add("spill.mem_mb", m.memoryBytesSpilled / 1048576.0)
        add("spill.disk_mb", m.diskBytesSpilled / 1048576.0)
        if (reduceStages.contains(e.stageId)) {
          add("shuffle.reduce_tasks", 1)
          if (m.shuffleReadMetrics.recordsRead > 0) add("shuffle.nonempty_tasks", 1)
        }
      }
    }
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Trace.this.synchronized {
      touch()
      add("plan.actions", 1)
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(s"plan.${p}_s", s.durationMs / 1000.0))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized { touch(); add("stream.queries", 1) }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        touch()
        val p = e.progress
        add("mb.batches", 1)
        if (p.numInputRows > 0) add("mb.data_batches", 1)
        val d = p.durationMs
        Seq("latestOffset" -> "mb.latest_offset_s", "getBatch" -> "mb.get_batch_s",
          "queryPlanning" -> "mb.query_planning_s", "addBatch" -> "mb.add_batch_s",
          "walCommit" -> "mb.wal_commit_s", "commitOffsets" -> "mb.commit_s",
          "triggerExecution" -> "mb.trigger_s").foreach { case (k, m) =>
          if (d.containsKey(k)) add(m, d.get(k).longValue / 1000.0)
        }
        var rows = 0L
        p.stateOperators.foreach { so =>
          rows += so.numRowsTotal
          max("state.mem_mb", so.memoryUsedBytes / 1048576.0)
          add("state.commit_s", so.commitTimeMs / 1000.0)
          add("state.rows_dropped_late", so.numRowsDroppedByWatermark.toDouble)
        }
        stateRows(p.id) = rows
        val end = System.currentTimeMillis()
        val trig = if (d.containsKey("triggerExecution")) d.get("triggerExecution").longValue else 0L
        spans += Span(s"batch ${p.batchId} of ${p.name}", end - trig, end, p.name, Trace.currentOp)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Trace.this.synchronized {
        touch()
        // state rows a query still held when it ended
        stateRows.remove(e.id).foreach(r => add("state.rows_total", r.toDouble))
      }
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(sql)
    s.streams.addListener(streams)
  }

  def detach(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(spark)
    s.listenerManager.unregister(sql)
    s.streams.removeListener(streams)
  }

  /** Waits until no listener event arrived for `quietMs` (bounded). */
  def drain(quietMs: Long = 300L, maxMs: Long = 10000L): Unit = {
    val t0 = System.currentTimeMillis()
    while (System.currentTimeMillis() - lastEvent.get < quietMs &&
      System.currentTimeMillis() - t0 < maxMs) Thread.sleep(50L)
  }

  /** Op wall time during which none of the op's jobs ran. */
  def driverOnlyMs(op: String, startMs: Long, endMs: Long): Long = synchronized {
    val iv = jobsByOp.getOrElse(op, mutable.ArrayBuffer.empty)
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (endMs - startMs) - covered)
  }
}

object Trace {
  val OpKey = "graftbench.op"
  @volatile var currentOp: String = "-"
}
