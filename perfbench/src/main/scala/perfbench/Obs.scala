package perfbench

import java.lang.management.ManagementFactory
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark's own task, stage and job events, summed per benchmark item. The
  * item is named by the job property the driver sets before each call, and
  * tasks are attributed through their stage. */
final class SparkCounters extends SparkListener {
  val Fields = Seq("jobs", "stages", "tasks", "task_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "gc_ms", "input_rows")
  private val byItem = mutable.Map[String, mutable.Map[String, Long]]()
  private val stageItem = mutable.Map[Int, String]()

  private def add(item: String, field: String, v: Long): Unit = synchronized {
    val m = byItem.getOrElseUpdate(item, mutable.Map[String, Long]().withDefaultValue(0L))
    m(field) += v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val item = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.ItemKey)))
      .getOrElse("(none)")
    synchronized(e.stageIds.foreach(stageItem(_) = item))
    add(item, "jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(itemOf(e.stageInfo.stageId), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val item = itemOf(e.stageId)
    add(item, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(item, "task_ms", m.executorRunTime)
      add(item, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(item, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add(item, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add(item, "gc_ms", m.jvmGCTime)
      add(item, "input_rows", m.inputMetrics.recordsRead)
    }
  }

  private def itemOf(stage: Int): String = synchronized(stageItem.getOrElse(stage, "(none)"))

  /** Per-item sums since the last call, then reset. */
  def drain(): Map[String, Map[String, Long]] = synchronized {
    val out = byItem.map { case (k, v) => k -> v.toMap }.toMap
    byItem.clear(); stageItem.clear()
    out
  }
}

object SparkCounters { val ItemKey = "perfbench.item" }

/** One finished micro-batch, as its progress event reports it. */
final case class Batch(
    queryId: String, startMs: Long, durMs: Map[String, Long], stateRows: Long,
    stateMemBytes: Long, stateCommitMs: Long, droppedByWatermark: Long)

/** Structured Streaming progress events: per-batch durations, the start of
  * each query, and its first completed batch. Registered on every run,
  * because the batch latencies are end-to-end metrics. */
final class StreamCounters extends StreamingQueryListener {
  private val started = mutable.Map[String, Long]()
  private val batches = mutable.ArrayBuffer[Batch]()

  private def ms(iso: String): Long = Instant.parse(iso).toEpochMilli

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized(started(e.id.toString) = ms(e.timestamp))

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // a progress event without addBatch reports an idle trigger, not a batch
    if (d.contains("addBatch")) {
      val ops = p.stateOperators.toSeq
      synchronized(batches += Batch(p.id.toString, ms(p.timestamp), d,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum))
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Batches and query starts since the last call, then reset. */
  def drain(): (Seq[Batch], Map[String, Long]) = synchronized {
    val out = (batches.toList, started.toMap)
    batches.clear(); started.clear()
    out
  }
}

/** A span: name, start and end (ns, `System.nanoTime` base), and the span
  * that caused it (-1 for a root). */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** Spans kept in memory and written when the run ends. Off in untraced
  * runs, where `span` only runs its body. */
final class Tracer {
  var on = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  // epoch-ms → nanoTime, for spans that Spark reports in wall-clock time
  private val nanoMinusEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def fromEpochMs(ms: Long): Long = ms * 1000000L + nanoMinusEpoch

  def add(parent: Int, name: String, start: Long, end: Long): Int = {
    val id = spans.size
    spans += Span(id, parent, name, start, end)
    id
  }

  private def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = add(current, name, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime())
      }
    }

  /** Innermost span named `name` whose interval holds `t`. */
  def enclosing(name: String, t: Long): Int =
    spans.filter(s => s.name == name && s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(-1)
}

object Heap {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Old-generation bytes in use right after a full collection: the live
    * heap the driver is holding (memory-sink tables, cached relations,
    * local state stores). */
  def liveAfterGc(): Long = {
    System.gc()
    oldGen.map(_.getUsage.getUsed).getOrElse(
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
}
