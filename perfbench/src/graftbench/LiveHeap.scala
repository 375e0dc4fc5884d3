package graftbench

import java.lang.management.{ManagementFactory, MemoryType, MemoryUsage}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The most heap the program kept live in the watched region: the highest
  * heap use the collector left behind after any collection, from the JVM's
  * garbage-collection notifications. Unlike resident memory, it does not
  * follow how far the collector chose to grow the heap, which depends on
  * timing. */
object LiveHeap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var watching = false
  @volatile private var peak = 0L

  private def used(m: java.util.Map[String, MemoryUsage]): Long =
    m.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum

  private val listener: NotificationListener = (n: Notification, _: Any) =>
    if (watching &&
        n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = used(info.getGcInfo.getMemoryUsageAfterGc)
      synchronized { peak = math.max(peak, after) }
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def start(): Unit = { peak = 0L; watching = true }

  /** Ends the region with one full collection, so a region in which the
    * collector never ran still reports what it left live, and returns the
    * peak in MB. */
  def stopMb(): Double = {
    System.gc()
    Thread.sleep(200) // notifications arrive on a JMX thread
    watching = false
    peak.toDouble / 1048576.0
  }
}
