package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener events of traced passes, kept in memory as JSON lines and
  * written out when the run ends. Every event carries epoch-millisecond
  * times; the runner attributes it to the query whose span contains its
  * start. All listeners here are Spark's public listener interfaces,
  * registered from the benchmark's own code.
  */
object Trace {
  @volatile private var active = false
  private val events = new ConcurrentLinkedQueue[String]()
  private val jobs = new JobListener
  private var drains = 0

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def record(kind: String, fields: (String, Any)*): Unit =
    if (active) events.add(Json(Map("kind" -> kind) ++ fields))

  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    active = true
  }

  /** Waits until the listener buses have delivered every event of the
    * pass, then stops recording.
    */
  def stop(spark: SparkSession): Unit = {
    drains += 1
    val group = s"perfbench-drain-$drains"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "drain the listener bus")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    waitUntil(jobs.lastGroupEnded == group)
    waitUntil(StreamListener.started.get == StreamListener.terminated.get)
    active = false
    sc.removeSparkListener(jobs)
  }

  private def waitUntil(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def writeEvents(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, events.asScala.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Bytes this process handed to write(2) so far (/proc/self/io wchar). */
  def ioWritten(): Long = procField("/proc/self/io", "wchar:")

  /** Process CPU, garbage-collection and JIT-compilation milliseconds so far. */
  def jvmCounters(): Seq[(String, Long)] = {
    import java.lang.management.ManagementFactory
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Seq("cpu_ms" -> os.getProcessCpuTime / 1000000,
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  /** Peak resident set of this JVM in MiB (/proc/self/status VmHWM). */
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:") / 1024.0

  private def procField(file: String, key: String): Long =
    try Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key))
      .map(_.drop(key.length).trim.split("\\s+").head.toLong).getOrElse(0L)
    catch { case _: java.io.IOException => 0L }

  /** Catalyst phase times and the executed plan's shape of one SQL execution. */
  def recordPlan(qe: QueryExecution, ok: Boolean): Unit = if (active) {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    // a failed execution may have no physical plan
    val nodes = try planNodes(qe.executedPlan).toSeq catch { case NonFatal(_) => Seq.empty }
    record("sql_plan",
      "start_ms" -> (if (phases.isEmpty) nowMs() else phases.values.map(_.startTimeMs).min),
      "ok" -> ok,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"),
      "shuffle_exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcast_exchanges" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "bhj" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  /** Every node of a physical plan, through adaptive plans, query stages
    * and subqueries.
    */
  def planNodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Iterator(a) ++ planNodes(a.executedPlan)
    case s: QueryStageExec => Iterator(s) ++ planNodes(s.plan)
    case other => Iterator(other) ++
      (other.children ++ other.subqueries).iterator.flatMap(planNodes)
  }
}

/** Jobs, stages and task metrics, aggregated per stage. */
class JobListener extends SparkListener {
  @volatile var lastGroupEnded: String = ""
  private val jobStarts = TrieMap.empty[Int, (Long, Seq[Int], String)]
  private val stageSubmitted = TrieMap.empty[Int, Long]
  private val stageTotals = TrieMap.empty[(Int, Int), Array[Long]]
  private val Fields = Seq("tasks", "failed_tasks", "launch_wait_ms", "run_ms", "cpu_ns",
    "gc_ms", "deser_ms", "shuffle_write_bytes", "shuffle_write_records",
    "shuffle_read_bytes", "shuffle_read_records", "spill_memory_bytes",
    "spill_disk_bytes", "input_bytes", "input_records", "output_bytes", "output_records")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobStarts(e.jobId) = (e.time, e.stageIds, group)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { case (t0, stageIds, group) =>
      // a stage not submitted since the job started was skipped: its
      // shuffle output already existed
      val skipped = stageIds.count(s => stageSubmitted.get(s).forall(_ < t0))
      Trace.record("job", "id" -> e.jobId, "start_ms" -> t0, "end_ms" -> e.time,
        "stages" -> stageIds.size, "skipped_stages" -> skipped,
        "ok" -> (e.jobResult == JobSucceeded))
      if (group != null) lastGroupEnded = group
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = stageTotals.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](Fields.size))
    val m = e.taskMetrics
    val wait = stageSubmitted.get(e.stageId).map(s => math.max(0L, e.taskInfo.launchTime - s))
    val values: Seq[Long] = Seq(1L, if (e.reason == TaskSuccess) 0L else 1L, wait.getOrElse(0L)) ++
      (if (m == null) Seq.fill(Fields.size - 3)(0L) else Seq(
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.memoryBytesSpilled, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    t.synchronized { values.indices.foreach(i => t(i) += values(i)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val totals = stageTotals.remove((s.stageId, s.attemptNumber())).getOrElse(new Array[Long](Fields.size))
    val end = s.completionTime.getOrElse(System.currentTimeMillis())
    Trace.record("stage", (Seq("id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "start_ms" -> s.submissionTime.getOrElse(end), "end_ms" -> end,
      "ok" -> s.failureReason.isEmpty) ++ Fields.zip(totals.toSeq)): _*)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      Trace.record("sql_start", "id" -> s.executionId, "start_ms" -> s.time)
    case s: SparkListenerSQLExecutionEnd =>
      Trace.record("sql_end", "id" -> s.executionId, "end_ms" -> s.time)
    case _ =>
  }
}

/** Registered through `spark.sql.queryExecutionListeners`. */
class CatalystListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.recordPlan(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.recordPlan(qe, ok = false)
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`; one
  * instance per session, so the counters are shared.
  */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = StreamListener.started.incrementAndGet()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    StreamListener.terminated.incrementAndGet()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    Trace.record("trigger", "start_ms" -> start,
      "end_ms" -> (start + d.getOrElse("triggerExecution", 0L)),
      "stream" -> p.runId.toString, "batch_id" -> p.batchId, "input_rows" -> p.numInputRows,
      "duration_ms" -> d.toMap,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
      "state_memory_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
  }
}

object StreamListener {
  val started = new AtomicInteger
  val terminated = new AtomicInteger
}
