package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One finished task as the listener saw it. Times are epoch millis. */
final case class TaskRec(stageId: Int, launch: Long, finish: Long,
    cpuNs: Long, runMs: Long, gcMs: Long, shuffleWrite: Long, spill: Long)

/** One job: submit time, its stages, the job group it ran under. */
final case class JobRec(submit: Long, stageIds: Seq[Int], group: String)

/** Everything the benchmark learns about the scheduler and executors,
  * from Spark's public listener events alone. Records are kept raw and
  * aggregated afterwards over a time window or a job group, so one
  * listener serves every workload.
  */
final class SchedulerProbe extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  /** stage id -> names of the RDD operation scopes it ran. */
  val stageScopes = new java.util.concurrent.ConcurrentHashMap[Int, Seq[String]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.add(JobRec(e.time, e.stageIds, group))
    e.stageInfos.foreach(si => stageScopes.put(si.stageId,
      si.rddInfos.flatMap(_.scope.map(_.name))))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m == null) tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0))
    else
      tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
        m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }

  def jobsIn(t0: Long, t1: Long): Seq[JobRec] =
    jobs.asScala.filter(j => j.submit >= t0 && j.submit <= t1).toSeq

  def tasksIn(t0: Long, t1: Long): Seq[TaskRec] =
    tasks.asScala.filter(t => t.launch >= t0 && t.finish <= t1).toSeq

  /** Scheduler totals for tasks and jobs inside [t0, t1]. */
  def window(t0: Long, t1: Long): Window = {
    val ts = tasksIn(t0, t1)
    val js = jobsIn(t0, t1)
    val firstStart = ts.groupBy(_.stageId).map { case (s, g) => s -> g.map(_.launch).min }
    // job queue: submit -> first task of any of its stages
    val queueMs = js.flatMap { j =>
      val starts = j.stageIds.flatMap(firstStart.get)
      if (starts.isEmpty) None else Some(math.max(0L, starts.min - j.submit))
    }
    Window(js.size, ts.size, ts.map(_.cpuNs).sum / 1e9, ts.map(_.runMs).sum / 1e3,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.shuffleWrite).sum / 1048576.0,
      ts.map(_.spill).sum / 1048576.0, queueMs.sum.toDouble,
      (t1 - t0) / 1e3 - Probe.covered(ts.map(t => (t.launch, t.finish)), t0, t1) / 1e3)
  }
}

/** Scheduler totals over one window: counts, task CPU/run/GC seconds,
  * shuffle-write and spill MB, summed job queue ms and driver-only seconds
  * (wall time in the window during which no task was running).
  */
final case class Window(jobs: Int, tasks: Int, cpuS: Double, runS: Double,
    gcS: Double, shuffleMb: Double, spillMb: Double, queueMs: Double,
    driverOnlyS: Double)

/** A traced interval: name, layer, start/end (nanoTime), parent span id,
  * and the run it belongs to.
  */
final case class Span(id: Long, name: String, layer: String, start: Long,
    end: Long, parent: Long, run: String)

/** In-memory span recorder. With tracing off `span` only runs its body,
  * so untraced runs measure the engine alone; spans are written out once,
  * when the run ends, and run.py derives per-layer self times from them.
  */
final class Tracer(val on: Boolean, run: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, layer, t0, System.nanoTime(), parent, run))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"run":"${s.run}"}""")
    } finally w.close()
  }
}

object Probe {

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Host-wide /proc/stat jiffies (10 ms each): busy (user+nice+system+
    * irq+softirq), system (system+irq+softirq), steal.
    */
  def hostJiffies(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
    Array(f(0) + f(1) + f(2) + f(5) + f(6), f(2) + f(5) + f(6), f(7))
  }

  /** This process's own CPU (user+system), in jiffies. */
  def selfJiffies(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    val s = try src.mkString finally src.close()
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong + f(13).toLong + f(14).toLong
  }

  /** Heap in use after full collections, in MB: what the run keeps live.
    * Two collections a moment apart, so that what Spark's ContextCleaner
    * releases after the first (unreferenced RDDs, broadcasts) is gone too.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  /** VmHWM of this JVM in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Whole-stage codegen compile count and an estimate of the time spent
    * compiling (count × mean of the sampled compile times).
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}

/** The highest heap occupancy right after a collection, over every
  * collection since `install()`: what the workload keeps live, which does
  * not depend on how far the collector let the heap grow between
  * collections (VmHWM does).
  */
object HeapAfterGc {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }, null, null)
    case _ =>
  }

  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}

/** Host CPU deltas across the measured region and its checks: steal,
  * system and foreign-busy ms (host busy time not spent by this JVM; the
  * chemistry bridge's worker processes count as foreign).
  */
final class HostWindow {
  private val h0 = Probe.hostJiffies()
  private val s0 = Probe.selfJiffies()
  def close(): Map[String, Double] = {
    val h1 = Probe.hostJiffies()
    val own = Probe.selfJiffies() - s0
    Map("host.steal_ms" -> (h1(2) - h0(2)) * 10.0,
      "host.sys_ms" -> (h1(1) - h0(1)) * 10.0,
      "host.foreign_busy_ms" -> math.max(0L, h1(0) - h0(0) - own) * 10.0)
  }
}
