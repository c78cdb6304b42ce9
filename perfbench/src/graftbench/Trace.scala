package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One timed interval of the benchmark's own span tree. Times are
  * nanoseconds on the JVM's monotonic clock; `attrs` holds the counters
  * recorded at the span (Spark task metrics for a stage, row counts for
  * a micro-batch).
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, var endNs: Long = -1L,
    attrs: mutable.Map[String, Double] = mutable.Map.empty)

/** In-memory span recorder. Disabled, every method is a no-op and
  * `span` runs its body directly, so the untraced run pays nothing.
  *
  * Enabled, `span` sets the Spark local property [[Trace.Prop]] for the
  * calling thread; the [[SparkTrace]] listener reads it back from each
  * job's properties and hangs the job (and its stages) under that span.
  * Spark reports job and stage times in wall-clock milliseconds; they are
  * mapped onto the monotonic clock through [[wallToNs]].
  */
final class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val nsAtEpoch = System.nanoTime() -
    System.currentTimeMillis() * 1000000L
  @volatile var persistTarget: Int = -1
  @volatile private var sc: SparkContext = _

  def wallToNs(ms: Long): Long = ms * 1000000L + nsAtEpoch

  def open(layer: String, name: String, parent: Int, startNs: Long): Int =
    synchronized {
      val s = Span(spans.size, parent, layer, name, startNs)
      spans += s
      s.id
    }

  def close(id: Int, endNs: Long): Unit = synchronized {
    spans(id).endNs = endNs
  }

  def add(id: Int, key: String, v: Double): Unit = synchronized {
    val a = spans(id).attrs
    a(key) = a.getOrElse(key, 0.0) + v
  }

  def current: Int = stack.get.headOption.getOrElse(-1)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = open(layer, name, current, System.nanoTime())
      stack.set(id :: stack.get)
      try within(id)(body)
      finally {
        close(id, System.nanoTime())
        stack.set(stack.get.tail)
      }
    }

  /** Run `body` with jobs tagged to span `id`; threads it starts (a
    * stream's execution thread) inherit the tag. */
  def within[T](id: Int)(body: => T): T =
    if (!enabled) body
    else {
      val ctx = Option(sc).filterNot(_.isStopped)
      val prev = ctx.map(_.getLocalProperty(Trace.Prop))
      ctx.foreach(_.setLocalProperty(Trace.Prop, id.toString))
      try body finally ctx.foreach(_.setLocalProperty(Trace.Prop, prev.orNull))
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit =
    if (enabled) org.apache.spark.graftbench.Bus.waitUntilEmpty(sc)

  /** Follow a new SparkContext: tag its jobs and listen to it. */
  def attach(context: SparkContext): Unit =
    if (enabled) {
      sc = context
      context.addSparkListener(new SparkTrace(this))
    }
}

object Trace {
  val Prop = "graftbench.span"
}

/** Attaches each Spark job and stage to the span that launched it, with
  * the stage's task metrics as span attributes, and adds RDD block bytes
  * written by persist / localCheckpoint to [[Trace.persistTarget]].
  */
final class SparkTrace(t: Trace) extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[(Int, Int), Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val owner = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.Prop))).map(_.toInt)
    owner.foreach { o =>
      val id = t.open("spark.job", s"job ${e.jobId}", o, t.wallToNs(e.time))
      synchronized {
        jobSpan(e.jobId) = id
        e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = id)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobSpan.remove(e.jobId)).foreach { id =>
      t.close(id, t.wallToNs(e.time))
      if (!e.jobResult.isInstanceOf[JobSucceeded.type]) t.add(id, "failed", 1)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    synchronized(stageJob.get(info.stageId)).foreach { job =>
      val start = info.submissionTime.getOrElse(System.currentTimeMillis())
      val id = t.open("spark.stage", s"stage ${info.stageId}", job,
        t.wallToNs(start))
      synchronized(stageSpan((info.stageId, info.attemptNumber())) = id)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    synchronized(stageSpan.remove((info.stageId, info.attemptNumber())))
      .foreach { id =>
        t.close(id, t.wallToNs(
          info.completionTime.getOrElse(System.currentTimeMillis())))
        val m = info.taskMetrics
        t.add(id, "tasks", info.numTasks)
        if (m != null) {
          t.add(id, "task_run_s", m.executorRunTime / 1e3)
          t.add(id, "task_cpu_s", m.executorCpuTime / 1e9)
          t.add(id, "gc_s", m.jvmGCTime / 1e3)
          t.add(id, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          t.add(id, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          t.add(id, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          t.add(id, "output_bytes", m.outputMetrics.bytesWritten)
        }
        if (info.failureReason.isDefined) t.add(id, "failed", 1)
      }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    val target = t.persistTarget
    if (target >= 0 && b.blockId.isInstanceOf[RDDBlockId] &&
        b.storageLevel.isValid)
      t.add(target, "persist_bytes", (b.memSize + b.diskSize).toDouble)
  }
}
