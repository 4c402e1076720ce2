package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task metrics of one stage, summed over its tasks, plus the per-task
  * figures that partition balance and task tails are read from. */
final class StageStats(val stageId: Int, val tag: String) {
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  val taskRunMs = mutable.ArrayBuffer[Long]()
  val taskReadRecords = mutable.ArrayBuffer[Long]()
  val taskReadBytes = mutable.ArrayBuffer[Long]()
}

/** Collects stage metrics for every job whose submitting thread set the
  * local property [[StageListener.tagKey]]; the tag names the layer or pass
  * the job belongs to. */
final class StageListener extends SparkListener {
  private val stageTag = mutable.Map[Int, String]()
  private val stats = mutable.LinkedHashMap[Int, StageStats]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(StageListener.tagKey)))
    tag.foreach(t => e.stageIds.foreach(id => stageTag(id) = t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageTag.get(e.stageId).foreach { tag =>
      val s = stats.getOrElseUpdate(e.stageId, new StageStats(e.stageId, tag))
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputRecords += m.inputMetrics.recordsRead
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      s.taskRunMs += m.executorRunTime
      s.taskReadRecords += m.shuffleReadMetrics.recordsRead
      s.taskReadBytes += m.shuffleReadMetrics.totalBytesRead
    }
  }

  /** Stages recorded under `tag`, in submission order. */
  def stages(sc: SparkContext, tag: String): Seq[StageStats] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(stats.values.filter(_.tag == tag).toList)
  }
}

object StageListener {
  val tagKey = "perfbench.tag"

  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    sc.setLocalProperty(tagKey, tag)
    try body finally sc.setLocalProperty(tagKey, null)
  }
}

/** Peak heap in use right after a collection, over a window the caller opens
  * with [[reset]]; fed by the JVM's GC notifications. */
object HeapWatch extends NotificationListener {
  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter => em.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  def reset(): Unit = synchronized { peak = 0L }
  def peakBytes: Long = synchronized(peak)
}

/** Bytes allocated, JVM-wide and by the calling thread; process CPU time. */
object Alloc {
  private val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val os =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def total: Long = mx.getTotalThreadAllocatedBytes
  def thread: Long = mx.getCurrentThreadAllocatedBytes
  def processCpuNs: Long = os.getProcessCpuTime
}

/** In-memory spans and counts; written out once, when the run ends. A span
  * has a name, a trace id (one per pass), its parent span and its interval. */
final class Tracer {
  final case class Span(id: Int, trace: Int, parent: Int, name: String,
                        startNs: Long, var endNs: Long, counts: mutable.LinkedHashMap[String, Double])

  private val spans = mutable.ArrayBuffer[Span]()
  private var current = -1
  private var trace = 0

  def newTrace(): Unit = { trace += 1; current = -1 }

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, trace, current, name, System.nanoTime(), 0L, mutable.LinkedHashMap())
    spans += s
    val saved = current
    current = s.id
    try body finally { s.endNs = System.nanoTime(); current = saved }
  }

  /** Attach a count to the innermost open span. */
  def count(name: String, v: Double): Unit =
    if (current >= 0) spans(current).counts(name) = v

  def durationS(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** A span's duration minus the part of it its children cover. */
  def selfS(s: Span): Double =
    durationS(s) - spans.filter(_.parent == s.id).map(durationS).sum

  def lines: Seq[String] = spans.toSeq.map { s =>
    Json.render(Json.obj("trace" -> s.trace, "span" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfS(s),
      "counts" -> Json.Obj(s.counts.toSeq)))
  }
}
