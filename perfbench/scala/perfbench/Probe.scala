package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters seen from outside the program: a listener the benchmark
  * registers itself (jobs, stages, tasks, task run/CPU/GC time, shuffle,
  * spill, per-stage task durations), a sampler of the bytes of cached RDD
  * blocks, and a GC notification hook for the heap occupancy after each
  * collection.
  *
  * Counters only grow; callers take a [[Counters]] snapshot before and after
  * an interval and subtract. Snapshots drain the listener bus first so every
  * event of the finished actions is counted.
  */
final class Probe(sc: SparkContext) extends SparkListener {

  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, gcMs = 0L
  private var shuffleWrite, shuffleRead, spillDisk = 0L
  // stage id -> (shuffle bytes read + written, task run times in ms)
  private val stageTasks = mutable.Map.empty[Int, (Long, mutable.ArrayBuffer[Long])]
  private var cachedPeak = 0L
  @volatile private var heapPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      val sw = m.shuffleWriteMetrics.bytesWritten
      val sr = m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += sw
      shuffleRead += sr
      spillDisk += m.diskBytesSpilled
      val (b, times) = stageTasks.getOrElse(e.stageId, (0L, mutable.ArrayBuffer.empty[Long]))
      times += m.executorRunTime
      stageTasks(e.stageId) = (b + sw + sr, times)
    }
  }

  /** Bytes of cached RDD blocks in the block store, and their count. */
  def storedBlocks(): (Long, Int) = {
    val infos = sc.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum, infos.map(_.numCachedPartitions).sum)
  }

  // block-store usage is sampled: the removal of an RDD's blocks reaches no
  // listener
  private val sampler = new Thread("perfbench-block-sampler") {
    override def run(): Unit =
      while (!sc.isStopped) {
        try {
          val bytes = storedBlocks()._1
          Probe.this.synchronized { cachedPeak = math.max(cachedPeak, bytes) }
        } catch { case scala.util.control.NonFatal(_) => () }
        Thread.sleep(50)
      }
  }
  sampler.setDaemon(true)

  // Heap occupancy after each collection, summed over every heap pool: the
  // old generation alone jumps by tens of MB between identical runs with
  // what a young collection happens to promote rather than keep in survivor
  // space.
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val gcHook = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, usage) if heapPools(pool) => usage.getUsed }.sum
        heapPeak = math.max(heapPeak, used)
      }
  }

  sc.addSparkListener(this)
  sampler.start()
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcHook, null, null)
    case _ =>
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = {
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(60000L))
  }

  /** Restart the heap and block-store peaks at the current level. */
  def resetPeaks(): Unit = synchronized {
    cachedPeak = storedBlocks()._1
    heapPeak = 0L
  }

  def snapshot(): Counters = {
    drain()
    synchronized {
      Counters(jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead,
        spillDisk, stageTasks.map { case (k, (b, t)) => k -> (b, t.toVector) }.toMap,
        cachedPeak, heapPeak)
    }
  }
}

/** A point-in-time reading of the [[Probe]]; `-` gives an interval. */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spillDisk: Long,
    stageTasks: Map[Int, (Long, Vector[Long])], cachedPeak: Long, heapPeak: Long) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, runMs - o.runMs,
    cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spillDisk - o.spillDisk,
    stageTasks -- o.stageTasks.keySet, cachedPeak, heapPeak)

  /** Max over median task run time in the stage that moved the most
    * shuffle bytes; 1.0 when no stage shuffled.
    */
  def taskSkew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val (bytes, times) = stageTasks.values.maxBy(_._1)
      if (bytes == 0L || times.isEmpty) 1.0
      else {
        val s = times.sorted
        val med = s(s.size / 2).toDouble
        s.last / math.max(med, 1.0)
      }
    }

  def toMap(wallS: Double, cores: Int): Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "busy_share" -> (if (wallS > 0) runMs / 1e3 / (wallS * cores) else 0.0),
    "shuffle_write_mb" -> shuffleWrite / 1048576.0,
    "shuffle_read_mb" -> shuffleRead / 1048576.0,
    "spill_mb" -> spillDisk / 1048576.0, "task_skew" -> taskSkew,
    "cache_peak_mb" -> cachedPeak / 1048576.0,
    "heap_peak_mb" -> heapPeak / 1048576.0)
}
