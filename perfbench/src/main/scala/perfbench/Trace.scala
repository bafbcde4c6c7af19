package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level counters from a `SparkListener`, summed over every task
  * the session runs. Always registered: `cpu_s` is an end-to-end metric.
  * Per-task shuffle-read sizes (for partition skew) are kept only while
  * `keepTaskSizes` is on, i.e. in the traced run. */
final class TaskProbe extends SparkListener {
  private val names = Seq("cpu_ns", "run_ms", "gc_ms", "tasks", "jobs",
    "stages", "sched_delay_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "shuffle_records", "spill_bytes", "fetch_wait_ms", "input_bytes",
    "input_records", "output_bytes", "output_records")
  private val c: Map[String, AtomicLong] = names.map(_ -> new AtomicLong).toMap
  @volatile var keepTaskSizes = false
  private val readSizes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val info = e.taskInfo
    c("tasks").incrementAndGet()
    c("cpu_ns").addAndGet(m.executorCpuTime)
    c("run_ms").addAndGet(m.executorRunTime)
    c("gc_ms").addAndGet(m.jvmGCTime)
    val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - info.gettingResultTime
    c("sched_delay_ms").addAndGet(math.max(0L, delay))
    c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
    val read = m.shuffleReadMetrics.totalBytesRead
    c("shuffle_read_bytes").addAndGet(read)
    c("shuffle_records").addAndGet(m.shuffleWriteMetrics.recordsWritten)
    c("spill_bytes").addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    c("fetch_wait_ms").addAndGet(m.shuffleReadMetrics.fetchWaitTime)
    c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
    c("input_records").addAndGet(m.inputMetrics.recordsRead)
    c("output_bytes").addAndGet(m.outputMetrics.bytesWritten)
    c("output_records").addAndGet(m.outputMetrics.recordsWritten)
    if (keepTaskSizes && read > 0) synchronized {
      readSizes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += read
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }

  /** Largest over median shuffle-read bytes per task, for each stage
    * with at least two reducing tasks; the median over those stages. */
  def partitionSkew(): Double = synchronized {
    val perStage = readSizes.values.filter(_.size >= 2).map { xs =>
      val s = xs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.toSeq.sorted
    readSizes.clear()
    if (perStage.isEmpty) 1.0 else perStage(perStage.size / 2)
  }
}

object Stats {
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  /** Median; the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** SQL metrics from the final (post-AQE) physical plan of every action,
  * via `QueryExecutionListener`: files opened by scans, and the largest
  * join output (the candidate volume of a similarity join). */
final class PlanProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private var joinRowsMax = 0L
  private var files = 0L

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = collectWithSubqueries(qe.executedPlan) { case n => n }
    val joins = nodes.filter(_.nodeName.contains("Join")).map(rows)
    val read = nodes.flatMap(_.metrics.get("numFiles")).map(_.value).sum
    synchronized {
      files += read
      if (joins.nonEmpty) joinRowsMax = math.max(joinRowsMax, joins.max)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Files opened by file scans since the last call. */
  def takeFiles(): Long = synchronized { val f = files; files = 0L; f }

  /** Files opened and the largest join output since the last call. */
  def take(): Map[String, Long] = synchronized {
    val r = Map("files_read" -> files, "join_rows" -> joinRowsMax)
    files = 0L; joinRowsMax = 0L
    r
  }
}

/** `StreamingQueryProgress` totals for the micro-batch run path. */
final class StreamProbe extends StreamingQueryListener {
  private val t = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    synchronized {
      t("batches") += 1
      t("trigger_ms") += ms("triggerExecution")
      t("addbatch_ms") += ms("addBatch")
      t("commit_ms") += ms("commitOffsets") + ms("walCommit")
      t("state_rows") = math.max(t("state_rows"), p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      t("state_bytes") = math.max(t("state_bytes"), p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
    }
  }

  def take(): Map[String, Double] = synchronized {
    val r = t.toMap
    t.clear()
    r
  }
}

/** Spans around each call the benchmark makes into a layer: name,
  * start, end and the enclosing span. Kept in memory and written once
  * with the run record. When disabled, `span` only runs its body. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0
  private val origin = System.nanoTime()

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, name, t0, System.nanoTime())
    }
  }

  /** Per name: count, total seconds and self seconds (duration minus
    * the part its child spans cover; children never overlap here since
    * the benchmark makes its calls one at a time). */
  def summary(): Map[String, Map[String, Double]] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map(
        "count" -> ss.size.toDouble,
        "total_s" -> ss.map(_.seconds).sum,
        "self_s" -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum)
    }
  }

  def records: Seq[Map[String, Any]] = spans.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9)
  }.toSeq
}
