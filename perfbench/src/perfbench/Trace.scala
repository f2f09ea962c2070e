package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `trace` is shared by every span
  * of one face or one trigger; `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    kind: String, startMs: Double, endMs: Double, attrs: Map[String, Any])

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]

  def add(parent: Long, trace: String, name: String, kind: String,
      startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty): Long =
    synchronized {
      val id = ids.incrementAndGet()
      buf += Span(id, parent, trace, name, kind, startMs, endMs, attrs)
      id
    }

  /** Reserves an id for a span whose interval is known only later. */
  def reserve(): Long = ids.incrementAndGet()

  def put(s: Span): Unit = synchronized { buf += s }

  def size: Int = synchronized(buf.size)

  /** Hangs root spans of `kind` under the span that owns their trace. */
  def adopt(kind: String, owners: Map[String, Long]): Unit = synchronized {
    for (i <- buf.indices) {
      val s = buf(i)
      if (s.parent == 0L && s.kind == kind) owners.get(s.trace).foreach(p => buf(i) = s.copy(parent = p))
    }
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try buf.foreach { s =>
      w.write(Json.write(Map("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)))
      w.newLine()
    } finally w.close()
  }
}

/** Totals of the Spark scheduler, shuffle, scan and planning layers over
  * one window (a pass, or a streaming run). */
final class LayerTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuMs = 0.0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [t0, t1] covered by at least one job. */
  def jobUnionMs(t0: Long, t1: Long): Long = {
    var covered = 0L
    var reach = t0
    jobIntervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered
  }
}

/** Listener-side tracing of the layers under the program: Spark jobs,
  * stages and tasks (`SparkListener`) and Catalyst phases
  * (`QueryExecutionListener`). Attached only in traced runs.
  *
  * Jobs carry the span id of the face that submitted them through the
  * `perfbench.span` local property, so job and stage spans hang under
  * their face. */
final class SparkTrace(spark: SparkSession, spans: Spans) extends SparkListener
    with QueryExecutionListener {
  private var cur = new LayerTotals
  private val jobStarted = mutable.Set.empty[Int]
  private val jobEnded = mutable.Set.empty[Int]
  private val sqlStarted = mutable.Set.empty[Long]
  private val sqlEnded = mutable.Set.empty[Long]
  private val jobInfo = mutable.Map.empty[Int, (Long, Long, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Long]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Starts a new window and returns the previous one. */
  def swap(): LayerTotals = synchronized { val t = cur; cur = new LayerTotals; t }

  /** Blocks until every job and SQL execution seen starting has its end
    * event. Both are posted before the action that caused them returns, so
    * once they agree the listener has seen everything up to now. */
  def drain(timeoutMs: Long = 60000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized(jobStarted.size == jobEnded.size && sqlStarted.size == sqlEnded.size)
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(5)
    settled
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val parent = prop("perfbench.span").map(_.toLong).getOrElse(0L)
    val trace = prop("perfbench.trace").orElse(for {
      q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId")
    } yield SparkTrace.batchTrace(q, b.toLong)).getOrElse("")
    jobStarted += e.jobId
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobInfo(e.jobId) = (e.time, parent, trace)
    jobSpan(e.jobId) = spans.reserve()
    cur.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobStarted(e.jobId)) jobEnded += e.jobId
    jobInfo.remove(e.jobId).foreach { case (start, parent, trace) =>
      cur.jobIntervals += ((start, e.time))
      spans.put(Span(jobSpan.getOrElse(e.jobId, spans.reserve()), parent, trace,
        s"job ${e.jobId}", "job", start.toDouble, e.time.toDouble,
        Map("result" -> e.jobResult.toString)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    cur.stages += 1
    cur.tasks += si.numTasks
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuMs += m.executorCpuTime / 1e6
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      cur.spillBytes += m.diskBytesSpilled
      cur.inputRows += m.inputMetrics.recordsRead
      cur.inputBytes += m.inputMetrics.bytesRead
    }
    val job = stageJob.remove(si.stageId)
    val parent = job.flatMap(jobSpan.get).getOrElse(0L)
    val trace = job.flatMap(jobInfo.get).map(_._3).getOrElse("")
    spans.add(parent, trace, s"stage ${si.stageId}", "stage",
      si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
      Map("tasks" -> si.numTasks, "run_ms" -> Option(m).map(_.executorRunTime).getOrElse(0L)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStarted += s.executionId }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized { if (sqlStarted(s.executionId)) sqlEnded += s.executionId }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    cur.analysisMs += ms("analysis")
    cur.optimizationMs += ms("optimization")
    cur.planningMs += ms("planning")
  }
}

object SparkTrace {
  /** The trace id of one micro-batch of one streaming query. */
  def batchTrace(queryId: String, batchId: Long): String = s"${queryId.take(8)}-batch-$batchId"
}

/** JVM-wide readings: GC time, heap pool peaks, codegen compiles. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of per-pool peaks since the last reset, in MB. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
