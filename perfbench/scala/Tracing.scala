package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One recorded span, in graft's span-relation schema (tags flattened
  * to a JSON string when written). */
final case class BenchSpan(
    traceId: String, spanId: Long, parentSpanId: Option[Long],
    service: String, operation: String, startUs: Long, durationUs: Long,
    tags: Map[String, String])

/** In-memory span recorder. `op` opens a trace (one per benchmark
  * operation); `span` records a child of the innermost open span on the
  * calling thread. Disabled recorders run the body and record nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[BenchSpan]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = new ThreadLocal[List[(String, Long)]] {
    override def initialValue(): List[(String, Long)] = Nil
  }

  private def nowUs: Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000L
  }

  def op[T](opId: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val saved = stack.get
      stack.set(Nil)
      try record(opId, "perfbench", name, Map("op_id" -> opId))(body)
      finally stack.set(saved)
    }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled || stack.get.isEmpty) body
    else record(stack.get.head._1, layer, name, Map.empty)(body)

  /** A span whose times are known after the fact (streaming batches
    * reported by the query progress). Returns its id. */
  def add(traceId: String, parent: Long, layer: String, name: String,
      startUs: Long, durationUs: Long, tags: Map[String, String]): Long = {
    val id = nextId.getAndIncrement()
    if (enabled) spans.add(BenchSpan(traceId, id, Some(parent), layer, name,
      startUs, durationUs, tags))
    id
  }

  /** Id of the innermost open span, for `add` children. */
  def current: Option[(String, Long)] = stack.get.headOption

  private def record[T](traceId: String, layer: String, name: String,
      tags: Map[String, String])(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = stack.get.headOption.map(_._2)
    stack.set((traceId, id) :: stack.get)
    val t0 = nowUs
    val n0 = System.nanoTime()
    try body
    finally {
      val dur = (System.nanoTime() - n0) / 1000L
      stack.set(stack.get.tail)
      spans.add(BenchSpan(traceId, id, parent, layer, name, t0, dur, tags))
    }
  }

  def all: Seq[BenchSpan] = spans.asScala.toSeq

  /** Mean duration (ms) of the spans with this layer and name, over the
    * operations in `ops`; None when there is no such span. */
  def meanMs(layer: String, name: String, ops: Set[String]): Option[Double] = {
    val d = all.filter(s => s.service == layer && s.operation == name && ops(s.traceId))
    if (d.isEmpty) None else Some(d.map(_.durationUs).sum / 1000.0 / d.size)
  }
}

/** Scheduler totals collected while `Layers.measuring` is on. */
final class JobCounters {
  var jobs = 0L
  var stages = 0L
  var singleTaskStages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var executorRunMs = 0L
  val jobsByGroup = scala.collection.mutable.Map[String, Long]()
}

/** SparkListener attributing scheduler work. Each benchmark operation
  * runs under its own job group (its op id), so jobs are also counted
  * per operation; jobs started on streaming threads carry the stream's
  * group instead and count only in the totals. */
final class JobListener extends SparkListener {
  val c = new JobCounters
  override def onJobStart(e: SparkListenerJobStart): Unit = if (Layers.measuring) synchronized {
    c.jobs += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    c.jobsByGroup(g) = c.jobsByGroup.getOrElse(g, 0L) + 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Layers.measuring) synchronized {
      c.stages += 1
      if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Layers.measuring) synchronized {
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.executorRunMs += m.executorRunTime
    }
  }
}

/** One micro-batch as the query progress reports it. */
final case class BatchReport(
    batchId: Long, timestampMs: Long, inputRows: Long,
    durations: Map[String, Long], stateCommitMs: Long, stateRows: Long,
    stateBytes: Long)

/** Streaming listener registered through the static
  * `spark.sql.streaming.streamingQueryListeners` conf, so it also sees
  * queries started on cloned sessions. Reports land in a global queue. */
class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    Layers.batches.add(BatchReport(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum))
  }
}

object Layers {
  @volatile var measuring = false
  val batches = new ConcurrentLinkedQueue[BatchReport]()

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Heap in use after a full collection, in MiB: the least of three
    * collections 200 ms apart, so blocks Spark's ContextCleaner frees
    * only after the first collection do not count. */
  def retainedHeapMb: Double =
    (1 to 3).map { _ =>
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      Thread.sleep(200)
      used / 1048576.0
    }.min
}
