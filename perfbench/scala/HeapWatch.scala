package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Heap occupancy right after each garbage collection, taken from the
  * collectors' notifications while an op runs. That is the driver's live
  * set at that moment, plus whatever garbage the collection left, so the
  * largest value inside an op includes everything the op held while it
  * ran (a 10^6-row `LocalRelation` too), not just what it returned.
  */
final class HeapWatch {
  private val collectors =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** heap bytes in use after each collection */
  private val samples = new ConcurrentLinkedQueue[Long]
  /** collections whose notification has arrived, counted from start-up */
  private val delivered =
    new AtomicLong(collectors.map(_.getCollectionCount).sum)

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = gc.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        samples.add(used)
        delivered.incrementAndGet()
      }
  }
  collectors.foreach(_.asInstanceOf[NotificationEmitter]
    .addNotificationListener(listener, null, null))

  /** Collections so far; their notifications may still be in flight. */
  def collections: Long = collectors.map(_.getCollectionCount).sum

  /** Waits until every collection so far has been delivered. */
  private def settle(): Unit = {
    val upTo = collections
    val deadline = System.nanoTime() + 2000000000L
    while (delivered.get < upTo && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Forgets every collection so far. */
  def reset(): Unit = { settle(); samples.clear() }

  /** Largest post-GC heap occupancy, in MB, of the collections since the
    * last `reset`; 0 if there was none.
    */
  def peakMb(): Double = {
    settle()
    samples.asScala.maxOption.getOrElse(0L) / 1048576.0
  }
}
