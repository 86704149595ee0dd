package genbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Live heap after garbage collection, read from the heap pools'
  * collection usage (not the sampled "used" heap, which follows GC timing).
  */
object Heap {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null).toSeq

  private val CleanerWaitMs = 300L

  @volatile private var peak = 0L
  @volatile private var recording = false

  /** Record the peak from now on; set-up rounds, whose stopped sessions
    * may still be reachable, are not part of it.
    */
  def startRecording(): Unit = recording = true

  /** Collect, then record the live heap; returns it in bytes. Between the
    * two collections Spark's context cleaner gets time to drop the blocks
    * (broadcasts, shuffle state) whose driver handles the first one freed.
    */
  def collect(): Long = {
    System.gc()
    Thread.sleep(CleanerWaitMs)
    System.gc()
    val live = pools.map(_.getCollectionUsage.getUsed).sum
    if (recording && live > peak) peak = live
    live
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
