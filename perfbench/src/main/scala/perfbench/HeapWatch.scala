package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** The program's heap use: the highest heap occupancy left after any
  * garbage collection since [[reset]]. The heap is fixed and
  * pre-touched (so resident memory reads the same whatever the program
  * does); what survives a collection is what the program holds on to.
  * Full collections run before every timed call ([[Ctx.call]]), so a
  * collection inside a call sees only what that call made and kept.
  */
object HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakBytes = 0L
  /** Collector time spent in [[collect]]. */
  @volatile var explicitGcMs = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapWatch.synchronized { peakBytes = math.max(peakBytes, used) }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peakBytes = 0L }

  /** A full collection, outside any timed step. The heap held at this
    * point is sampled even when no collection runs inside a call.
    */
  def collect(): Unit = {
    val g0 = gcMs
    System.gc()
    explicitGcMs += gcMs - g0
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { peakBytes = math.max(peakBytes, used) }
  }

  def peakMb: Double = peakBytes / (1024.0 * 1024.0)

  /** Collector time since the JVM started, in ms. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Collector time the program caused: all of it but [[collect]]'s. */
  def programGcMs: Long = gcMs - explicitGcMs
}
