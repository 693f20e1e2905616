package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory spans, written out with the run record when the run ends.
  * Times are milliseconds since the run started. A span's parent is the
  * span that caused it; spans of one query execution share its `exec`
  * attribute. */
final class Tracer(val enabled: Boolean) {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0

  def nowMs: Double = (System.nanoTime() - originNs) / 1e6

  /** Run-relative milliseconds of an epoch-millisecond timestamp. */
  def fromEpochMs(epochMs: Long): Double = (epochMs - originEpochMs).toDouble

  def epochMsOf(runMs: Double): Long = originEpochMs + math.round(runMs)

  /** Records a finished span; returns its id (-1 when tracing is off). */
  def add(name: String, parent: Int, startMs: Double, endMs: Double,
      attrs: Map[String, Any] = Map.empty): Int =
    if (!enabled) -1
    else synchronized {
      val id = nextId
      nextId += 1
      spans += Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
      id
    }

  /** Reserves an id for a span whose end is not known yet. */
  def reserve(): Int = if (!enabled) -1 else synchronized {
    nextId += 1; nextId - 1
  }

  def addReserved(id: Int, name: String, parent: Int, startMs: Double,
      endMs: Double, attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) synchronized {
      spans += Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
    }

  def all: Seq[Map[String, Any]] = synchronized(spans.toList)
}

/** Process-wide counters read around each execution. */
object Ambient {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean

  def gcMs: Long = gcs.map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = jit.getTotalCompilationTime
  def load1: Double = os.getSystemLoadAverage

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after full collections, in MiB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var last = Long.MaxValue
    var i = 0
    // Collect until the figure stops falling (at most five times):
    // finalizers and reference queues can free more on a second pass.
    var used = 0L
    while (i < 5) {
      System.gc()
      used = mem.getHeapMemoryUsage.getUsed
      if (used >= last) i = 5 else { last = used; i += 1 }
    }
    math.min(used, last) / 1048576.0
  }
}
