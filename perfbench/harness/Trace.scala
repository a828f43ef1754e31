package graft.perfbench

import java.io.PrintWriter
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.graftperf.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's instrumentation: scheduler, streaming-query and
  * query-execution listeners that attribute events to the timed call
  * whose job group is active, plus in-memory spans written once at exit.
  *
  * Spans share their call's id (the key, `copy` or `repair`)
  * and name their parent: call → build / execute (keys) or sink.write
  * per unit / verify (copy and repair), planning phases, jobs → stages,
  * streaming queries → batches.
  */
final class Trace(spark: SparkSession) {
  import Harness.secs
  Trace.active = this

  private val sc = spark.sparkContext
  // Epoch-ns clock shared by nanoTime measurements and listener ms times.
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def epochNs(nano: Long): Long = base + nano
  private def msToNs(ms: Long): Long = ms * 1000000L

  final class Agg {
    var jobs, stages, tasks, taskFailures = 0L
    var taskOverheadMs, runMs, gcMs = 0L
    var cpuNs, shuffleWriteNs = 0L
    var peakMem = 0L
    var scanBytes, scanRows = 0L
    var shWriteBytes, shReadBytes, shRecords, fetchWaitMs = 0L
    var spillBytes, spillDisk = 0L
    var queries, batches = 0L
    var triggerMs, walMs, qPlanMs, addBatchMs, stateRows = 0L
    var queryWallMs = 0L
    var analysisMs, optimizationMs, planningMs = 0L
  }

  private val lock = new Object
  private val aggs = mutable.LinkedHashMap.empty[String, Agg]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  // (group, name, start ns, end ns, parent name)
  private val spans = mutable.ArrayBuffer.empty[(String, String, Long, Long, String)]
  private val stageIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val streamStart = mutable.Map.empty[java.util.UUID, (String, Long)]
  @volatile private var current: String = null
  /** Events are ignored until the timed pass begins. */
  @volatile var enabled = false
  private val stateFinal = mutable.Map.empty[java.util.UUID, Long]
  // Streaming micro-batch jobs carry the query's run id as job group.
  private val runKey = mutable.Map.empty[String, String]

  private def agg(g: String): Agg = aggs.getOrElseUpdate(g, new Agg)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) lock.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .map(g => runKey.getOrElse(g, g)).getOrElse("<untimed>")
      e.stageIds.foreach { s =>
        stageGroup.getOrElseUpdate(s, g); stageJob.getOrElseUpdate(s, e.jobId)
      }
      agg(g).jobs += 1
      spans += ((g, s"job ${e.jobId}", msToNs(e.time), -1L, "call"))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) lock.synchronized {
      val name = s"job ${e.jobId}"
      val i = spans.lastIndexWhere(_._2 == name)
      if (i >= 0) spans(i) = spans(i).copy(_4 = msToNs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) lock.synchronized {
      val info = e.stageInfo
      val g = stageGroup.getOrElse(info.stageId, "<untimed>")
      agg(g).stages += 1
      for (s <- info.submissionTime; c <- info.completionTime) {
        stageIntervals += ((g, msToNs(s), msToNs(c)))
        spans += ((g, s"stage ${info.stageId}.${info.attemptNumber()}", msToNs(s), msToNs(c),
          s"job ${stageJob.getOrElse(info.stageId, -1)}"))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) lock.synchronized {
      val a = agg(stageGroup.getOrElse(e.stageId, "<untimed>"))
      a.tasks += 1
      if (e.reason != Success) a.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskOverheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.scanBytes += m.inputMetrics.bytesRead
        a.scanRows += m.inputMetrics.recordsRead
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shRecords += m.shuffleWriteMetrics.recordsWritten
        a.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.memoryBytesSpilled
        a.spillDisk += m.diskBytesSpilled
      }
    }
  })

  def queryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = if (enabled) lock.synchronized {
    val g = Option(current).getOrElse("<untimed>")
    streamStart(e.runId) = (g, java.time.Instant.parse(e.timestamp).toEpochMilli)
    runKey(e.runId.toString) = g
    agg(g).queries += 1
  }

  def queryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (enabled) lock.synchronized {
    val p = e.progress
    val g = streamStart.get(p.runId).map(_._1).getOrElse("<untimed>")
    val a = agg(g)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    a.batches += 1
    a.triggerMs += d.getOrElse("triggerExecution", 0L)
    a.walMs += d.getOrElse("walCommit", 0L)
    a.qPlanMs += d.getOrElse("queryPlanning", 0L)
    a.addBatchMs += d.getOrElse("addBatch", 0L)
    val t0 = msToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    spans += ((g, s"batch ${p.batchId}", t0, t0 + msToNs(d.getOrElse("triggerExecution", 0L)),
      s"query ${p.runId}"))
    // State rows held after the query's final batch (overwritten per batch).
    stateFinal(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
  }

  def queryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    if (enabled) lock.synchronized {
      streamStart.get(e.runId).foreach { case (g, t0) =>
        val now = System.currentTimeMillis()
        agg(g).queryWallMs += now - t0
        agg(g).stateRows += stateFinal.getOrElse(e.runId, 0L)
        spans += ((g, s"query ${e.runId}", msToNs(t0), msToNs(now), "call"))
      }
    }

  /** Planning phases of a query execution inside a traced call: every
    * one that completes (the family constructor's eager actions, the
    * landing write, the copier's writes and audits) and a key's result
    * frame, whose analysis ran when it was built.
    */
  def planned(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    if (enabled) lock.synchronized {
      val g = Option(current).getOrElse("<untimed>")
      val a = agg(g)
      qe.tracker.phases.foreach { case (phase, p) =>
        phase match {
          case "analysis" => a.analysisMs += p.durationMs
          case "optimization" => a.optimizationMs += p.durationMs
          case "planning" => a.planningMs += p.durationMs
          case _ =>
        }
        spans += ((g, phase, msToNs(p.startTimeMs), msToNs(p.endTimeMs), "call"))
      }
    }

  /** Stage-active time inside [t0, t1] (epoch ns) for one group: the
    * length of the union of its stage intervals clipped to the window.
    */
  private def stageCover(g: String, t0: Long, t1: Long): Long = {
    val iv = stageIntervals.filter(_._1 == g)
      .map { case (_, s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered, end = 0L
    var start = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > end || start == Long.MinValue) {
        if (start != Long.MinValue) covered += end - start
        start = s; end = e
      } else end = math.max(end, e)
    }
    if (start != Long.MinValue) covered += end - start
    covered
  }

  /** Trace one timed call. `body` runs with the call's id current and
    * returns its inner spans as (name, start, end) in `System.nanoTime`;
    * a `build` span marks the family constructor, and the scheduler
    * residue is measured over the `execute` span (or the whole call).
    * Layer figures are read once the listener bus has drained.
    */
  def call(id: String)(body: => Seq[(String, Long, Long)])
      : mutable.LinkedHashMap[String, Any] = {
    val cgNs0 = CodeGenerator.compileTime
    val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    current = id
    val t0 = System.nanoTime()
    val res = scala.util.Try(body)
    val t1 = System.nanoTime()
    BusDrain(sc)
    val drained = System.nanoTime()
    current = null
    val inner = res.getOrElse(Nil)
    val (e0, e1) = (epochNs(t0), epochNs(t1))
    lock.synchronized {
      spans += ((id, "call", e0, e1, ""))
      inner.foreach { case (n, s, e) => spans += ((id, n, epochNs(s), epochNs(e), "call")) }
    }
    val (x0, x1) = inner.find(_._1 == "execute")
      .map { case (_, s, e) => (epochNs(s), epochNs(e)) }.getOrElse((e0, e1))
    val rec = mutable.LinkedHashMap[String, Any](
      "wall_s" -> secs(t0, t1),
      "error" -> res.failed.toOption.map(Harness.errText),
      "trace.drain_s" -> secs(t1, drained))
    inner.find(_._1 == "build").foreach { case (_, s, e) =>
      val (b0, b1) = (epochNs(s), epochNs(e))
      rec("ops.build_s") = secs(s, e)
      rec("ops.build_driver_s") = ((b1 - b0) - stageCover(id, b0, b1)) / 1e9
      rec("ops.build_jobs") = lock.synchronized {
        spans.count(x => x._1 == id && x._2.startsWith("job ") && x._3 <= b1)
      }
    }
    rec("codegen.compile_s") = (CodeGenerator.compileTime - cgNs0) / 1e9
    rec("codegen.compiles") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0
    rec ++= schedulerFields(id, e0, e1, x0, x1)
    rec
  }

  /** Scheduler, executor, scan, shuffle and streaming figures of one
    * call; `residue_s` is the [x0, x1] execute window not covered by
    * any active stage of the call.
    */
  private def schedulerFields(id: String, w0: Long, w1: Long, x0: Long, x1: Long)
      : Seq[(String, Any)] = lock.synchronized {
    val a = aggs.getOrElse(id, new Agg)
    val active = stageCover(id, w0, w1)
    Seq(
      "catalyst.analysis_s" -> a.analysisMs / 1e3,
      "catalyst.optimization_s" -> a.optimizationMs / 1e3,
      "catalyst.planning_s" -> a.planningMs / 1e3,
      "scheduler.jobs" -> a.jobs,
      "scheduler.stages" -> a.stages,
      "scheduler.tasks" -> a.tasks,
      "scheduler.task_failures" -> a.taskFailures,
      "scheduler.task_overhead_s" -> a.taskOverheadMs / 1e3,
      "scheduler.residue_s" -> ((x1 - x0) - stageCover(id, x0, x1)) / 1e9,
      "stage_active_s" -> active / 1e9,
      "executor.run_s" -> a.runMs / 1e3,
      "executor.cpu_s" -> a.cpuNs / 1e9,
      "executor.gc_s" -> a.gcMs / 1e3,
      "executor.peak_mem_mib" -> a.peakMem / 1048576.0,
      "scan.bytes" -> a.scanBytes,
      "scan.rows" -> a.scanRows,
      "shuffle.write_bytes" -> a.shWriteBytes,
      "shuffle.read_bytes" -> a.shReadBytes,
      "shuffle.records" -> a.shRecords,
      "shuffle.write_s" -> a.shuffleWriteNs / 1e9,
      "shuffle.fetch_wait_s" -> a.fetchWaitMs / 1e3,
      "spill.bytes" -> a.spillBytes,
      "spill.disk_bytes" -> a.spillDisk,
      "streaming.queries" -> a.queries,
      "streaming.batches" -> a.batches,
      "streaming.startup_s" -> math.max(0L, a.queryWallMs - a.triggerMs) / 1e3,
      "streaming.trigger_s" -> a.triggerMs / 1e3,
      "streaming.wal_commit_s" -> a.walMs / 1e3,
      "streaming.query_planning_s" -> a.qPlanMs / 1e3,
      "streaming.add_batch_s" -> a.addBatchMs / 1e3,
      "streaming.state_rows" -> a.stateRows)
  }

  def writeSpans(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try lock.synchronized {
      spans.sortBy(_._3).foreach { case (g, n, s, e, parent) =>
        w.println(Harness.json(mutable.LinkedHashMap("id" -> g, "span" -> n,
          "parent" -> parent, "start_ns" -> s, "end_ns" -> e)))
      }
    } finally w.close()
  }
}

object Trace {
  @volatile var active: Trace = null
  /** Both listeners are registered through session confs so that they
    * also hear the child sessions graft's stateful streams run in; a
    * stream's started event arrives on the thread that starts it, while
    * the current call is still set.
    */
  val listenerConfs = Map(
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamTap].getName,
    "spark.sql.queryExecutionListeners" -> classOf[PlanTap].getName)
}

final class PlanTap extends org.apache.spark.sql.util.QueryExecutionListener {
  def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
    Option(Trace.active).foreach(_.planned(qe))
  def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
      e: Exception): Unit = Option(Trace.active).foreach(_.planned(qe))
}

final class StreamTap extends StreamingQueryListener {
  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    Option(Trace.active).foreach(_.queryStarted(e))
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(Trace.active).foreach(_.queryProgress(e))
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    Option(Trace.active).foreach(_.queryTerminated(e))
}
