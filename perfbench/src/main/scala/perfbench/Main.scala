package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftx.GraftCacheBridge

import graft.graph.GraphTables

/** Command-line options passed down from run.py. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, out: String, cores: Int,
    requests: Long)

/** What a workload hands back: end-to-end and per-layer numbers, and the
  * outputs run.py checks against the DuckDB oracles (`checks`, a JSON
  * object body) after the run. `attempted`/`failed` count operations,
  * JVM-side check failures included.
  */
final class Result {
  val metrics = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L
  /** Wall-clock windows (epoch ms) of the measured intervals, and the
    * codegen compiles and estimated compile ms inside them.
    */
  val windows = mutable.ArrayBuffer[(Long, Long)]()
  var compiles = 0L
  var compileMs = 0.0
  def put(kv: (String, Double)*): Unit = kv.foreach(metrics += _)

  /** Run one measured interval; the scheduler and codegen metrics cover
    * exactly these intervals (not set-up, warm-up or output checks).
    */
  def measured[T](body: => T): T = {
    val (c0, ms0) = Probe.codegen()
    val t0 = System.currentTimeMillis()
    try body
    finally {
      windows += ((t0, System.currentTimeMillis()))
      val (c1, ms1) = Probe.codegen()
      compiles += c1 - c0
      compileMs += ms1 - ms0
    }
  }
}

/** Benchmark JVM entry point: one workload, one result file.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE [--cores N]
  *   [--requests N]   (dashboard: exactly N requests instead of --seconds)
  */
object Main {

  def main(args: Array[String]): Unit = {
    HeapAfterGc.install()
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = kv.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("out"), cores,
      kv.get("requests").map(_.toLong).getOrElse(0L))
    val w: Workload = o.workload match {
      case "pipeline"   => new PipelineWorkload(o)
      case "dashboard"  => new DashboardWorkload(o)
      case "graph_iter" => new GraphIterWorkload(o)
      case other        => sys.error(s"unknown workload '$other'")
    }
    val res = Harness.run(o, w)
    // the oracle SQL of every registered query this workload's outputs
    // are checked against; run.py evaluates them in DuckDB
    res.checks += "oracles" -> Json.obj(graft.SparkEntry.all
      .filter(q => w.oracles.contains(q.name))
      .map(q => q.name -> Json.str(q.oracle.get)))
    Json.writeResult(o.out, res)
    sys.exit(0)
  }
}

/** One benchmark workload: preparation on a fresh session (timed as
  * set-up), then the measured region.
  */
trait Workload {
  /** Registered queries whose DuckDB oracles check this workload. */
  def oracles: Seq[String]
  /** Preparation after session start, timed with it as set-up. */
  def prepare(s: SparkSession, probe: SchedulerProbe, res: Result): Unit
  /** Untimed, after set-up and before the measured region; operations it
    * attempts and fails count in `res`.
    */
  def warmup(s: SparkSession, res: Result): Unit = ()
  /** The measured region; records its metrics into `res`. */
  def measure(s: SparkSession, tr: Tracer, probe: SchedulerProbe, res: Result): Unit
}

object Harness {

  def session(o: Opts, probe: SchedulerProbe): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toLong)
      // the generated tables are single-digit-MB parquet files: size the
      // split so scans use every core (the same setting graft.Bench uses)
      .config("spark.sql.files.maxPartitionBytes", 2097152L)
      .config("spark.sql.files.openCostInBytes", 262144L)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.GraftSession.IcuCaseMappingsKey, "false")
      .config(graft.sources.FastLocalFileSystem.confKey,
        graft.sources.FastLocalFileSystem.confValue)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(probe)
    s
  }

  private val t00 = System.nanoTime()
  /** A progress line on stderr (run.py forwards these). */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%.2f s: $what")

  /** Set up once, cold (session start and preparation: setup_s), then
    * warm up and run the measured region on that session.
    */
  def run(o: Opts, w: Workload): Result = {
    val res = new Result
    val t0 = System.nanoTime()
    val probe = new SchedulerProbe
    val s = session(o, probe)
    val tr = new Tracer(o.trace, s"${o.workload}-${o.seed}")
    w.prepare(s, probe, res)
    res.put("setup_s" -> (System.nanoTime() - t0) / 1e9)
    mark("setup done")
    w.warmup(s, res)
    mark("warm-up done")
    val host = new HostWindow
    w.measure(s, tr, probe, res)
    mark("measured region and checks done")
    res.put(host.close().toSeq: _*)
    // events still queued for the listeners would count as live heap
    GraftCacheBridge.drainListenerBus(s)
    res.put("spark.heap_after_gc_peak_mb" -> HeapAfterGc.peakMb,
      "live_heap_mb" -> Probe.liveHeapMb())
    val ws = res.windows.map { case (a, b) => probe.window(a, b) }
    def total(f: Window => Double) = ws.map(f).sum
    res.put(
      "spark.jobs" -> total(_.jobs), "spark.tasks" -> total(_.tasks),
      "spark.task_cpu_s" -> total(_.cpuS), "spark.shuffle_write_mb" -> total(_.shuffleMb),
      "spark.spill_mb" -> total(_.spillMb), "spark.gc_s" -> total(_.gcS),
      "spark.job_queue_ms" -> total(_.queueMs), "spark.driver_only_s" -> total(_.driverOnlyS),
      "plans.codegen_compiles" -> res.compiles.toDouble,
      "plans.codegen_ms_est" -> res.compileMs)
    res.put("host.peak_rss_mb" -> Probe.peakRssMb())
    if (o.trace) tr.writeJsonl(s"${o.work}/spans.jsonl")
    s.stop()
    mark("session stopped")
    res
  }

  /** Materialize the registry's persisted tables phase by phase, tables of
    * one phase concurrently (they are independent by construction).
    */
  def materialize(g: GraphTables, only: String => Boolean = _ => true): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sc = g.entries.sparkSession.sparkContext
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try g.registryTablePhasesNamed.foreach { phase =>
      Await.result(Future.sequence(phase.filter(t => only(t._1)).map { case (name, df) => Future {
        sc.setJobGroup(s"reg:$name", s"registry table $name")
        try df.queryExecution.toRdd.count() finally sc.clearJobGroup()
      }}), Duration.Inf)
    } finally pool.shutdown()
  }

  /** Build a registry (driver side) and materialize it, recording both
    * times and the materialization's task CPU.
    */
  def registry(s: SparkSession, probe: SchedulerProbe, res: Result,
      only: String => Boolean = _ => true)(build: => GraphTables): GraphTables = {
    val t0 = System.currentTimeMillis()
    val g = build
    val t1 = System.currentTimeMillis()
    materialize(g, only)
    val t2 = System.currentTimeMillis()
    GraftCacheBridge.drainListenerBus(s)
    res.put("graph.registry_build_s" -> (t1 - t0) / 1e3,
      "graph.registry_materialize_s" -> (t2 - t1) / 1e3,
      "graph.registry_task_cpu_s" -> probe.window(t1, t2).cpuS)
    g
  }

  /** Persist the registry's three base tables the way GraphTables.cached
    * does, for a registry built with GraphTables.build.
    */
  def persisted(g: GraphTables): GraphTables =
    g.copy(boundEntities = g.boundEntities.persist(),
      interacts = g.interacts.persist(), similarity = g.similarity.persist())

  /** Mean residency over the registry's persisted tables. */
  def residency(g: GraphTables, only: String => Boolean = _ => true): Double = {
    val s = g.entries.sparkSession
    val rs = g.registryTablePhasesNamed.flatten.filter(t => only(t._1)).flatMap {
      case (_, df) => GraftCacheBridge.residency(s, df) }
    if (rs.isEmpty) 0.0 else rs.sum / rs.size
  }

  /** Run `body` under a deadline: on expiry the job group is cancelled and
    * the call fails with a TimeoutException.
    */
  def withDeadline[T](s: SparkSession, group: String, seconds: Double)(body: => T): T = {
    val sc = s.sparkContext
    val expired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val timer = Deadlines.timer.schedule(new Runnable {
      def run(): Unit = { expired.set(true); sc.cancelJobGroup(group) }
    }, (seconds * 1000).toLong, java.util.concurrent.TimeUnit.MILLISECONDS)
    sc.setJobGroup(group, group, interruptOnCancel = true)
    try {
      val r = body
      if (expired.get()) throw new java.util.concurrent.TimeoutException(group)
      r
    } catch {
      case e: Throwable if expired.get() =>
        throw new java.util.concurrent.TimeoutException(s"$group: ${e.getMessage}")
    } finally { timer.cancel(false); sc.clearJobGroup() }
  }

  /** Bytes of the four input tables the registry is derived from. */
  def inputBytes(data: String): Long =
    Seq("lineitem", "orders", "supplier", "part")
      .map(t => new java.io.File(s"$data/$t.parquet").length).sum

  def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rmrf)
    f.delete()
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).getOrElse(Array.empty[java.io.File]).map(dirBytes).sum
}

object Deadlines {
  val timer = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
    (r: Runnable) => { val t = new Thread(r, "deadline"); t.setDaemon(true); t })
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val v = xs.sorted
    val r = p / 100.0 * (v.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, v.size - 1)
    v(lo) + (v(hi) - v(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def writeResult(path: String, r: Result): Unit = {
    val body = obj(Seq(
      "attempted" -> r.attempted.toString, "failed" -> r.failed.toString,
      "metrics" -> obj(r.metrics.map { case (k, v) => k -> num(v) }),
      "checks" -> obj(r.checks)))
    val tmp = new java.io.File(path + ".tmp")
    val w = new java.io.PrintWriter(tmp, "UTF-8")
    try w.println(body) finally w.close()
    tmp.renameTo(new java.io.File(path))
  }
}

/** Canonical digest of a collected result: rows rendered field by field,
  * sorted, hashed. Equal results give equal digests in any row order.
  */
object Digest {
  def rows(rs: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rs.map(_.toSeq.map(v => if (v == null) "\u0000" else v.toString).mkString("\u0001"))
      .sorted.foreach { line => md.update(line.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

/** Row counts the leaves of an executed plan produced — rows, not cached
  * batches: the `numOutputRows` SQL metric of every scan-side leaf,
  * looking through adaptive query stages.
  */
object PlanRows {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

  def leafRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => leafRows(a.executedPlan)
    case q: QueryStageExec        => leafRows(q.plan)
    case _: ReusedExchangeExec    => 0L
    case leaf if leaf.children.isEmpty =>
      leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L) +
        leaf.subqueries.map(leafRows).sum
    case other => other.children.map(leafRows).sum + other.subqueries.map(leafRows).sum
  }

  def of(df: DataFrame): Long = leafRows(df.queryExecution.executedPlan)
}
