package graftbench

import java.lang.management.{ManagementFactory, MemoryType, MemoryUsage}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counts the benchmark collects from outside the engine: a SparkListener for
 * stage/task/shuffle/spill/input counts and a QueryExecutionListener for the
 * broadcast sizes of every executed plan. */
final class Counters extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val broadcastBytes = new AtomicLong

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val b = collectWithSubqueries(qe.executedPlan) {
      case e: BroadcastExchangeExec => e.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum
    broadcastBytes.addAndGet(b)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One reading of every counter at a boundary; deltas between two readings give
 * the work of the interval between them. */
final case class Snap(
    wallNs: Long, cpuNs: Long, gcMs: Long, stages: Long, tasks: Long, taskRunMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long, broadcastBytes: Long,
    stealTicks: Long, totalTicks: Long, load1: Double) {

  def minus(o: Snap): Snap = Snap(wallNs - o.wallNs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    stages - o.stages, tasks - o.tasks, taskRunMs - o.taskRunMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes, broadcastBytes - o.broadcastBytes,
    stealTicks - o.stealTicks, totalTicks - o.totalTicks, load1)

  def wallS: Double = wallNs / 1e9
  def cpuS: Double = cpuNs / 1e9
  def stealFrac: Double = if (totalTicks > 0) stealTicks.toDouble / totalTicks else 0.0
}

final class Probe(spark: SparkSession, val counters: Counters) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def snap(): Snap = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val (steal, total) = Probe.procStat()
    Snap(System.nanoTime(), os.getProcessCpuTime, gcs.map(_.getCollectionTime).sum,
      counters.stages.get, counters.tasks.get, counters.taskRunMs.get,
      counters.shuffleWriteBytes.get, counters.spillBytes.get, counters.inputBytes.get,
      counters.broadcastBytes.get, steal, total, Probe.load1())
  }

  // Heap allocation: the heap grows only by allocation and shrinks only in a
  // collection, so what a stretch of time allocated is the growth of the heap
  // over it plus what each collection in it freed. The collectors report the
  // heap before and after each collection in notifications, which arrive on a
  // JVM thread some time after the collection; each is kept with its collector
  // and number and assigned to a pass at the end, by the collectors' counts at
  // the pass boundaries. Only heap pools count; the notifications also carry
  // Metaspace and code cache.
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  require(heapPools.nonEmpty, "no heap memory pools found")
  private val mem = ManagementFactory.getMemoryMXBean
  private val readings = new ConcurrentLinkedQueue[Seq[Any]]
  gcs.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          def heap(m: java.util.Map[String, MemoryUsage]) =
            m.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          val gc = info.getGcInfo
          readings.add(Seq(info.getGcName, gc.getId,
            heap(gc.getMemoryUsageBeforeGc), heap(gc.getMemoryUsageAfterGc)))
        }, null, null)
    case _ =>
  }

  /** (heap bytes used, collections so far per collector), read with no collection
   * in between; the n-th collection of a collector reports number n. */
  def heapState(): (Long, Seq[(String, Long)]) = {
    def counts = gcs.map(g => g.getName -> g.getCollectionCount)
    var before = counts
    var used = mem.getHeapMemoryUsage.getUsed
    var after = counts
    while (after != before) {
      before = after
      used = mem.getHeapMemoryUsage.getUsed
      after = counts
    }
    (used, after)
  }

  /** (collector, number, heap bytes before, heap bytes after) of every
   * collection reported so far. */
  def collections: Seq[Seq[Any]] = readings.asScala.toSeq
}

object Probe {
  def attach(spark: SparkSession): Probe = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    new Probe(spark, c)
  }

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat; zeros where
   * the file does not exist. */
  def procStat(): (Long, Long) = {
    val p = Paths.get("/proc/stat")
    if (!Files.isReadable(p)) return (0L, 0L)
    val f = Files.readAllLines(p).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    val steal = if (f.length > 7) f(7) else 0L
    (steal, f.take(8).sum)
  }

  def load1(): Double = {
    val p = Paths.get("/proc/loadavg")
    if (!Files.isReadable(p)) -1.0 else Files.readString(p).trim.split("\\s+")(0).toDouble
  }
}
