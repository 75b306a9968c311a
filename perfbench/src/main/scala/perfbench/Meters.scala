package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of the whole JVM: task threads, GC and JIT included. */
  def processNs: Long = os.getProcessCpuTime

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def threadAllocatedBytes: Long = threads.getCurrentThreadAllocatedBytes
}

/** Heap in use right after each collection, from GC notifications.
  *
  * The JVM runs with a fixed pre-touched heap, so resident memory says
  * nothing; the live heap after a collection is what a smaller executor
  * would have to hold. */
object Heap {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val usedAfter = new ArrayBuffer[Long]
  private val base = collections

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        Heap.synchronized { usedAfter += used; Heap.notifyAll() }
      }
  }
  collectors.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  private def collections: Long = collectors.map(_.getCollectionCount).sum

  /** Waits until every collection so far has been notified; returns how
    * many notifications have arrived. */
  private def delivered(): Int = synchronized {
    val target = collections - base
    val deadline = System.nanoTime() + 2000000000L
    while (usedAfter.length < target && System.nanoTime() < deadline) wait(20)
    usedAfter.length
  }

  /** Runs `body` between two full collections and returns the highest heap
    * in use, in bytes, after any collection inside that window, the closing
    * one included, so the value is defined even when no collection falls
    * inside a short call. */
  def peakDuring[T](body: => T): (T, Long) = {
    System.gc()
    val from = delivered()
    val r = body
    System.gc()
    val to = delivered()
    val peak = synchronized { usedAfter.slice(from, to).maxOption.getOrElse(0L) }
    (r, peak)
  }
}

/** Single-thread host calibrations, recorded with every run so a slow run
  * can be told apart from a throttled host. */
object Host {
  private def rate(rounds: Int, roundNs: Long)(step: Long => Long): Double = {
    val rates = (0 to rounds).map { _ =>
      var n = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < roundNs) { n += step(1 << 14); t = System.nanoTime() }
      n / ((t - t0) / 1e9)
    }
    Stats.median(rates.tail) // round 0 warms the JIT
  }

  private var sink = 0L

  /** Zero-allocation xorshift steps per second. */
  def spinPerS(): Double = rate(3, 50000000L) { n =>
    var x = sink | 1L
    var i = 0
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    n
  }

  /** GiB per second of 4 KB arrays allocated and dropped. */
  def allocGibPerS(): Double = {
    val ring = new Array[Array[Byte]](256)
    rate(3, 50000000L) { n =>
      var i = 0
      while (i < n) { ring(i & 255) = new Array[Byte](4096); i += 1 }
      n * 4096L
    } / (1L << 30)
  }
}

/** Per-task metrics of the jobs run under each Spark job group. */
final class TaskLog extends SparkListener {
  import TaskLog.Task

  private val groupOfStage = new ConcurrentHashMap[Int, String]
  private val tasks = new ArrayBuffer[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(group => e.stageIds.foreach(groupOfStage.put(_, group)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val group = groupOfStage.get(e.stageId)
    if (m != null && group != null) synchronized {
      tasks += Task(group, e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
        m.jvmGCTime, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    }
  }

  def of(group: String): Seq[Task] = synchronized(tasks.filter(_.group == group).toSeq)
}

object TaskLog {
  final case class Task(group: String, launchMs: Long, finishMs: Long, runMs: Long,
                        gcMs: Long, bytesOut: Long, recordsOut: Long)

  /** Runs `body` under job group `group`. Its task events reach the log
    * only after a `drain`. */
  def inGroup[T](sc: SparkContext, group: String)(body: => T): T = {
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)
}

/** Just enough JSON for the benchmark's own output lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite value $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Iterable[_] if m.headOption.exists(_.isInstanceOf[(_, _)]) || m.isInstanceOf[collection.Map[_, _]] =>
      m.asInstanceOf[Iterable[(Any, Any)]].map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
