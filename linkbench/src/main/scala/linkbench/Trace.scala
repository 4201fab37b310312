package linkbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerDrain, SparkContext, Success}
import org.apache.spark.scheduler._

/** Engine work attributed to one span through its Spark job group. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskFailures += o.taskFailures
    runMs += o.runMs; gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** One call into a layer (or one workload round, the parent of its calls). */
final case class Span(id: Int, name: String, layer: String, parent: Int, runId: String,
    startNs: Long, endNs: Long, counters: Counters, heapPeakMb: Double) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Heap high-water mark of the driver JVM, summed over the heap pools. */
object Heap {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetPeak(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

/** Spark listener that sums job, stage and task metrics per job group. The
  * benchmark sets a fresh job group around every traced call, so each
  * count lands on exactly one span.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()

  private def counters(group: String): Counters = byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null) {
      e.stageIds.foreach(s => stageGroup.put(s, group))
      val c = counters(group); c.synchronized { c.jobs += 1 }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val c = counters(g); c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = counters(g)
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Counters of `group`, complete once the bus has drained. */
  def take(sc: SparkContext, group: String): Counters = {
    ListenerDrain(sc)
    Option(byGroup.remove(group)).getOrElse(new Counters)
  }
}

/** In-memory span log of one benchmark process; written out at the end. */
final class Tracer(runId: String) {
  val spans = ArrayBuffer.empty[Span]
  private var listener: GroupListener = _
  private var sc: SparkContext = _
  private var nextId = 0

  /** Attach to a new SparkContext (each session gets its own listener). */
  def attach(context: SparkContext): Unit = {
    sc = context
    listener = new GroupListener
    sc.addSparkListener(listener)
  }

  /** Open a round span; calls traced inside it become its children. */
  def openRound(): Int = { nextId += 1; nextId }

  def closeRound(id: Int, name: String, startNs: Long, endNs: Long): Span = {
    val kids = spans.filter(_.parent == id)
    val c = new Counters
    kids.foreach(k => c.add(k.counters))
    val s = Span(id, name, "round", 0, runId, startNs, endNs, c,
      if (kids.isEmpty) 0.0 else kids.map(_.heapPeakMb).max)
    spans += s
    s
  }

  /** Run `body` as one call span of `layer` under round `parent`. */
  def call[T](name: String, layer: String, parent: Int)(body: => T): T = {
    nextId += 1
    val id = nextId
    val group = s"linkbench-$runId-$id"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    Heap.resetPeak()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val heap = Heap.peakMb
      sc.clearJobGroup()
      spans += Span(id, name, layer, parent, runId, t0, t1, listener.take(sc, group), heap)
    }
  }

  def toJsonLines: Seq[String] = spans.sortBy(_.id).map { s =>
    val c = s.counters
    s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},""" +
      s""""run_id":"${s.runId}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""wall_s":${s.wallS},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
      s""""task_failures":${c.taskFailures},"task_run_ms":${c.runMs},"gc_ms":${c.gcMs},""" +
      s""""shuffle_read_bytes":${c.shuffleRead},"shuffle_write_bytes":${c.shuffleWrite},""" +
      s""""spill_bytes":${c.spill},"heap_peak_mb":${s.heapPeakMb}}"""
  }.toSeq
}
