package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One closed span. `startMs`/`endMs` are wall-clock milliseconds, the
  * clock Spark stamps its scheduler events with, so jobs can be placed in
  * spans; `wallNs` is the monotonic duration. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Long, endMs: Long, wallNs: Long, blocksHeldAfter: Long)

final class JobRec(val startMs: Long) {
  @volatile var endMs: Long = -1L
}

final case class TaskRec(stageId: Int, launchMs: Long, runMs: Long,
    shuffleBytes: Long, spillBytes: Long, ioBytes: Long)

/** One streaming micro-batch: trigger start and trigger-execution time. */
final case class BatchRec(startMs: Long, triggerMs: Long)

/** Records scheduler jobs, task metrics and streaming progress. With
  * `jobsToo = false` only streaming progress is kept: that is the mode
  * of an untraced run, which still reports micro-batch times. Streaming
  * progress of child sessions reaches this listener through
  * `onOtherEvent`, because all sessions share one SparkContext bus. */
final class SpanListener(jobsToo: Boolean) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageToJob = new ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (jobsToo) {
    jobs.put(e.jobId, new JobRec(e.time))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (jobsToo) {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (jobsToo && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val d = p.progress.durationMs.get("triggerExecution")
      if (d != null)
        batches.add(BatchRec(java.time.Instant.parse(p.progress.timestamp).toEpochMilli, d.longValue))
    case _ => ()
  }
}

/** Spans around the benchmark's calls into the product's layers. Spans
  * are kept in memory; `enabled = false` makes `span` a plain call. */
final class Tracer(spark: SparkSession, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  var enabled = false
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = System.nanoTime() - t0
        val endMs = System.currentTimeMillis()
        stack = stack.tail
        val held = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
        spans += Span(id, name, parent, runId, startMs, endMs, wall, held)
      }
    }

  /** Self time of a span: its wall minus the wall of its direct children. */
  def selfNs(s: Span): Long =
    s.wallNs - spans.iterator.filter(_.parent == s.id).map(_.wallNs).sum
}

/** Per-span counters from the recorded spans and listener events. */
object SpanStats {
  val Generic: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "task_run_s" -> "s", "driver_s" -> "s", "shuffle_mb" -> "MB",
    "spill_mb" -> "MB", "io_mb" -> "MB", "blocks_held_after" -> "count")

  /** Counters of every leaf span, keyed by span name and then counter
    * name, averaged over the spans of that name. Also returns the batch
    * records that fell inside each span name. */
  def compute(spark: SparkSession, tr: Tracer, l: SpanListener)
      : (Map[String, Map[String, Double]], Map[String, Seq[BatchRec]]) = {
    ListenerBusBridge.drain(spark.sparkContext)
    val leaves = tr.spans.filter(s => !tr.spans.exists(_.parent == s.id)).toSeq
    def owner(ms: Long): Option[Span] =
      leaves.find(s => ms >= s.startMs && ms <= s.endMs)
    val jobs = l.jobs.asScala.toSeq
    val jobOwner: Map[Int, Int] = jobs.flatMap { case (id, j) =>
      owner(j.startMs).map(s => id -> s.id) }.toMap
    val tasks = l.tasks.asScala.toSeq
    val perSpan = leaves.map { s =>
      val myJobs = jobs.filter { case (id, _) => jobOwner.get(id).contains(s.id) }
      val myTasks = tasks.filter { t =>
        Option(l.stageToJob.get(t.stageId)) match {
          case Some(j) => jobOwner.get(j).contains(s.id)
          case None => owner(t.launchMs).exists(_.id == s.id)
        }
      }
      // wall covered by at least one running job, clipped to the span
      val intervals = myJobs.map { case (_, j) =>
        val end = if (j.endMs < 0) s.endMs else j.endMs
        (math.max(j.startMs, s.startMs), math.min(end, s.endMs))
      }.filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      intervals.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      val wallS = s.wallNs / 1e9
      s.name -> Map(
        "wall_s" -> wallS,
        "jobs" -> myJobs.size.toDouble,
        "tasks" -> myTasks.size.toDouble,
        "task_run_s" -> myTasks.map(_.runMs).sum / 1e3,
        "driver_s" -> math.max(0.0, wallS - covered / 1e3),
        "shuffle_mb" -> myTasks.map(_.shuffleBytes).sum / 1e6,
        "spill_mb" -> myTasks.map(_.spillBytes).sum / 1e6,
        "io_mb" -> myTasks.map(_.ioBytes).sum / 1e6,
        "blocks_held_after" -> s.blocksHeldAfter.toDouble)
    }
    val averaged = perSpan.groupBy(_._1).map { case (name, xs) =>
      name -> xs.head._2.keys.map(k => k -> xs.map(_._2(k)).sum / xs.size).toMap
    }
    val batches = l.batches.asScala.toSeq
    val batchesBySpan = leaves.groupBy(_.name).map { case (name, ss) =>
      name -> batches.filter(b => ss.exists(s => b.startMs >= s.startMs && b.startMs <= s.endMs))
    }
    (averaged, batchesBySpan)
  }
}
