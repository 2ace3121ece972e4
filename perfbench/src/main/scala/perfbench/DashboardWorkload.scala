package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftx.GraftCacheBridge
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MapType

import graft.graph.GraphTables
import graft.query.ProCogQueries
import graft.query.ProCogQueries.{AnyCognate, Best, CognateMode}

/** One dashboard request: its class, a stable key (template + parameters),
  * the registered p-query it reproduces exactly (if it is one of those
  * fixed points), the row cap, and the plan-builder call.
  */
final case class Req(cls: String, key: String, fixed: Option[String], cap: Int)(
    val build: GraphTables => DataFrame)

/** The request stream: entry i is a pure function of (seed, i). With
  * `withFixed`, every sixth entry is a fixed parameter point of a
  * registered p-query (their order is a seeded permutation; 120 requests
  * send each of the 20 once); the rest follow a fixed template cycle with
  * Zipf-distributed parameters, so a few parameter sets repeat and most do
  * not. Cognate mode alternates between Best and Any. The mix is a
  * synthetic choice, not taken from observed dashboard traffic.
  */
final class RequestStream(seed: Long, withFixed: Boolean = true) {
  private def mode(m: CognateMode) = if (m == Best) "Best" else "Any"

  private def autocomplete(sub: String) =
    Req("lookup", s"autocomplete($sub,5)", None, 5)(ProCogQueries.autocomplete(_, sub, 5))
  private def search(sub: String, c: Double, m: CognateMode) =
    Req("lookup", s"searchEntries($sub,$c,${mode(m)})", None, 1000)(
      ProCogQueries.searchEntries(_, sub, c, m))
  private def cognateSearch(q: String) =
    Req("lookup", s"cognateSearch($q)", None, 1000)(ProCogQueries.cognateSearch(_, q))
  private def cognateById(id: Long) =
    Req("lookup", s"cognateSearchById(id:$id)", None, 1000)(
      ProCogQueries.cognateSearchById(_, s"id:$id"))
  private def entryView(k: Long, c: Double) =
    Req("page", s"entryGraphView($k,$c)", None, 1000)(ProCogQueries.entryGraphView(_, k, c))
  private def ecPage(k: Long, c: Double) =
    Req("page", s"ecPage($k,$c)", None, 1000)(ProCogQueries.ecPage(_, k, c))
  private def similarity(k: Long, c: Double, m: CognateMode) =
    Req("page", s"ligandSimilarity($k,$c,${mode(m)})", None, 1000)(
      ProCogQueries.ligandSimilarity(_, k, c, m))
  private def interactions(k: Long, t: Option[String]) =
    Req("page", s"domainInteractions($k,${t.getOrElse("all")})", None, 1000)(
      ProCogQueries.domainInteractions(_, k, t))
  private def promiscuity(c: Double, m: CognateMode) =
    Req("analysis", s"superfamilyPromiscuity($c,${mode(m)})", None, 1000)(
      ProCogQueries.superfamilyPromiscuity(_, c, m))
  private def compare(a: Long, b: Long, c: Double, m: CognateMode) =
    Req("analysis", s"compareDomains($a,$b,$c,${mode(m)})", None, 1000)(
      ProCogQueries.compareDomains(_, a, b, c, m))
  private def cognateSummary(c: Double) =
    Req("analysis", s"cognateSummary($c)", None, 1000)(ProCogQueries.cognateSummary(_, c))

  private def fix(rq: String, r: Req) = r.copy(fixed = Some(rq))(r.build)

  /** The registered p-queries' parameter points (ProCogQueryDefs). */
  val fixedPoints: IndexedSeq[Req] = IndexedSeq(
    fix("p9_autocomplete", autocomplete("1")),
    fix("p2_search_entries", search("42", 0.9, Best)),
    fix("p23_search_any", search("42", 0.95, AnyCognate)),
    fix("p26_cognate_search_namedb", cognateSearch("ose,CHEBI:10")),
    fix("p28_cognate_search_id", cognateById(42L)),
    fix("p13_entry_graph_view", entryView(20L, 0.9)),
    fix("p14_ec_page", ecPage(3L, 0.9)),
    fix("p20_ec_page_cutoff", ecPage(3L, 0.95)),
    fix("p4_ligand_similarity_best", similarity(20L, 0.9, Best)),
    fix("p5_ligand_similarity_any", similarity(20L, 0.97, AnyCognate)),
    fix("p17_similarity_cutoff", similarity(20L, 0.95, Best)),
    fix("p3_domain_interactions", interactions(20L, None)),
    fix("p16_interactions_cath", interactions(20L, Some("CATH"))),
    fix("p21_interactions_scop", interactions(20L, Some("SCOP"))),
    fix("p22_interactions_pfam", interactions(20L, Some("Pfam"))),
    fix("p6_superfamily_promiscuity", promiscuity(0.95, Best)),
    fix("p15_promiscuity_any", promiscuity(0.95, AnyCognate)),
    fix("p8_compare_domains", compare(1L, 2L, 0.9, Best)),
    fix("p24_compare_domains_alt", compare(1L, 3L, 0.9, Best)),
    fix("p12_cognate_ambiguity", cognateSummary(0.9)))

  val fixedKeys: Set[String] = fixedPoints.map(_.key).toSet

  private val order: IndexedSeq[Int] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val a = fixedPoints.indices.toArray
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq
  }

  private val words = Seq("blue", "old", "small", "new", "large", "hot", "cold",
    "red", "widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil",
    "ose", "ing", "ol", "ar")

  /** Zipf(s = 1.1) rank in [1, n]. */
  private def zipf(r: SplittableRandom, n: Int): Int = {
    val cdf = RequestStream.cdf(n)
    val u = r.nextDouble() * cdf(n - 1)
    val i = java.util.Arrays.binarySearch(cdf, u)
    (if (i >= 0) i else -i - 1) + 1
  }

  /** The template cycle: 9 lookups, 8 page views and 3 analyses per 20
    * non-fixed requests, the same for every seed, so the class mix of a
    * run does not depend on the seed; the seed drives the parameters.
    */
  private val cycle: IndexedSeq[Int] = IndexedSeq(
    0, 4, 1, 5, 8, 2, 6, 3, 7, 9, 0, 4, 1, 5, 2, 6, 3, 7, 10, 0)

  def at(i: Long): Req =
    if (withFixed && i % 6 == 0) fixedPoints(order(((i / 6) % fixedPoints.size).toInt))
    else {
      val r = new SplittableRandom(seed * 1000003L + i)
      def cut(cs: Double*) = cs(r.nextInt(cs.size))
      val slot = if (withFixed) i - i / 6 - 1 else i
      // Best and Any alternate rather than being drawn, so that the share
      // of requests reading the full similarity table is the same in every
      // run, whatever the seed
      val m = if ((slot + slot / cycle.size) % 2 == 0) Best else AnyCognate
      cycle((slot % cycle.size).toInt) match {
        case 0 => autocomplete(zipf(r, 2000).toString)
        case 1 => search(zipf(r, 2000).toString, cut(0.9, 0.95), m)
        case 2 => cognateSearch(s"${words(zipf(r, words.size) - 1)},CHEBI:${zipf(r, 1000)}")
        case 3 => cognateById(zipf(r, 2000) - 1L)
        case 4 => entryView(zipf(r, 200), cut(0.9, 0.95))
        case 5 => ecPage(zipf(r, 25) - 1L, cut(0.9, 0.95))
        case 6 => similarity(zipf(r, 200), cut(0.9, 0.95, 0.97), m)
        case 7 => interactions(zipf(r, 200),
          Seq(None, Some("CATH"), Some("SCOP"), Some("Pfam"))(r.nextInt(4)))
        case 8 => promiscuity(cut(0.9, 0.95, 0.97), m)
        case 9 =>
          val a = zipf(r, 100) - 1L
          compare(a, (a + zipf(r, 99)) % 100, cut(0.9, 0.95), m)
        case _ => cognateSummary(cut(0.9, 0.95, 0.97))
      }
    }
}

object RequestStream {
  private val cdfs = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  def cdf(n: Int): Array[Double] = cdfs.computeIfAbsent(n, n => {
    val a = new Array[Double](n)
    var acc = 0.0
    for (k <- 1 to n) { acc += 1.0 / math.pow(k, 1.1); a(k - 1) = acc }
    a
  })
}

/** One completed (or failed) request. */
final case class Done(idx: Long, req: Req, ok: Boolean, latMs: Double,
    buildMs: Double, planMs: Double, execMs: Double, rowsRead: Long,
    rowsOut: Long, digest: String,
    rows: Array[org.apache.spark.sql.Row] = Array.empty,
    schema: org.apache.spark.sql.types.StructType = null)

/** The dashboard read path: a closed loop of client threads with zero
  * think time against a registry built once in set-up (FixtureChem).
  * Each request builds its plan through ProCogQueries, is ordered on all
  * of its columns and capped (LIMIT 1000, LIMIT 5 for autocomplete), and
  * its rows are fetched to the driver.
  */
object DashboardWorkload {
  val WarmupRequests = 50L
  /** Warm requests per second on a 4-core host (5.0–6.3 at sf0.001, set
    * a little below so the measured region stays near `--seconds`): a run
    * of `--seconds S` measures round(S × NominalRate) requests.
    */
  val NominalRate = 4.8
  /** Closed-loop clients (never more than the cores). */
  val Clients = 2
}

final class DashboardWorkload(o: Opts) extends Workload {
  private val deadline = 60.0
  private lazy val stream = new RequestStream(o.seed)
  def oracles: Seq[String] = stream.fixedPoints.flatMap(_.fixed)

  def prepare(s: SparkSession, probe: SchedulerProbe, res: Result): Unit =
    Harness.registry(s, probe, res)(GraphTables.cached(s, o.data))

  private def capped(df: DataFrame, cap: Int): DataFrame =
    df.orderBy(df.schema.fields.filterNot(_.dataType.isInstanceOf[MapType])
      .map(f => col(s"`${f.name}`")).toIndexedSeq: _*).limit(cap)

  def execute(s: SparkSession, g: GraphTables, r: Req, idx: Long, tr: Tracer): Done = {
    val t0 = System.nanoTime()
    try Harness.withDeadline(s, s"dash:$idx", deadline) {
      val df = tr.span("build", "query") { r.build(g) }
      val t1 = System.nanoTime()
      val q = capped(df, r.cap)
      tr.span("plan", "plans") { q.queryExecution.executedPlan }
      val t2 = System.nanoTime()
      val rows = tr.span("exec", "spark") { q.collect() }
      val t3 = System.nanoTime()
      // fixed points keep their rows for the oracle check after the run
      Done(idx, r, ok = true, (t3 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
        (t3 - t2) / 1e6, PlanRows.of(q), rows.length, Digest.rows(rows),
        if (stream.fixedKeys(r.key)) rows else Array.empty, q.schema)
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] request ${r.key} failed: $e")
      Done(idx, r, ok = false, (System.nanoTime() - t0) / 1e6, 0, 0, 0, 0, 0, "")
    }
  }

  /** Run the closed loop: `clients` threads take request indices from one
    * counter until `stop` says so; returns what completed.
    */
  private def loop(s: SparkSession, g: GraphTables, reqs: RequestStream, tr: Tracer,
      stop: Long => Boolean): Seq[Done] = {
    val next = new AtomicLong(0L)
    val done = new ConcurrentLinkedQueue[Done]()
    val clients = (0 until math.min(DashboardWorkload.Clients, o.cores)).map { c =>
      val t = new Thread(() => {
        var i = 0L
        while ({ i = next.getAndIncrement(); !stop(i) })
          done.add(tr.span("request", "op") { execute(s, g, reqs.at(i), i, tr) })
      }, s"client-$c")
      t.start(); t
    }
    clients.foreach(_.join())
    done.asScala.toSeq.sortBy(_.idx)
  }

  /** Keys of the warm-up's requests: a measured request with one of these
    * keys counts as a repeat.
    */
  private var warmKeys = Set.empty[String]

  /** Untimed warm-up of a fixed number of requests: a dashboard server is
    * long-running, so JIT and first-use costs are not its users' latency.
    * A count, not a time, so that every run enters its window after the
    * same work whatever the host's speed. Its failed requests count. It
    * draws from the same distribution under another seed, without the
    * fixed points, so popular parameter sets may already have been seen
    * when the measured loop starts (query.repeat_frac reports how many).
    * Skipped when a fixed request count is asked for.
    */
  override def warmup(s: SparkSession, res: Result): Unit =
    if (o.requests == 0) {
      val warm = loop(s, GraphTables.cached(s, o.data),
        new RequestStream(o.seed + 7919L, withFixed = false),
        new Tracer(false, ""), _ >= DashboardWorkload.WarmupRequests)
      warmKeys = warm.map(_.req.key).toSet
      res.attempted += warm.size
      res.failed += warm.count(!_.ok)
    }

  def measure(s: SparkSession, tr: Tracer, probe: SchedulerProbe, res: Result): Unit = {
    val g = GraphTables.cached(s, o.data)
    val start = System.nanoTime()
    val startMs = System.currentTimeMillis()
    // a fixed number of requests, not a deadline, so that every run of a
    // seed sends the same requests and leaves the same state behind,
    // whatever the host's speed
    val n = if (o.requests > 0) o.requests
      else math.max(1L, math.round(o.seconds * DashboardWorkload.NominalRate))
    val all = res.measured { loop(s, g, stream, tr, _ >= n) }
    val elapsed = (System.nanoTime() - start) / 1e9
    GraftCacheBridge.drainListenerBus(s)
    val jobs = probe.jobsIn(startMs, System.currentTimeMillis()).count(_.group.startsWith("dash:"))
    val ok = all.filter(_.ok)
    res.attempted += all.size
    res.failed += all.count(!_.ok)

    // share of requests whose (query, params) key was seen before, in the
    // warm-up or earlier in this run: what a plan or result cache could reuse
    val repeats = all.foldLeft((warmKeys, 0)) { case ((seen, n), d) =>
      (seen + d.req.key, if (seen(d.req.key)) n + 1 else n) }._2

    // response consistency (one digest per (query, params), within the run
    // and across runs) and the responses at registered p-query points are
    // checked by run.py, which counts each failing key's requests once
    val byKey = ok.groupBy(_.req.key)
    val fixedOut = s"${o.work}/dash_fixed"
    val fixedChecks = stream.fixedPoints.filter(r => byKey.contains(r.key)).map { r =>
      val first = byKey(r.key).head
      val path = s"$fixedOut/${r.fixed.get}"
      s.createDataFrame(java.util.Arrays.asList(first.rows: _*), first.schema)
        .coalesce(1).write.mode("overwrite").parquet(path)
      r.fixed.get -> Json.obj(Seq("key" -> Json.str(r.key),
        "cap" -> r.cap.toString, "path" -> Json.str(path)))
    }
    res.checks += "fixed" -> Json.obj(fixedChecks)
    // rows_read must count rows: a full scan of a cached registry table
    // reads exactly its row count (a batch count would be far smaller)
    val scan = g.interacts.filter(col("contactCount") >= 0).groupBy().count()
    scan.collect()
    res.checks += "rows_read_unit_ok" -> (PlanRows.of(scan) == g.interacts.count()).toString
    res.checks += "digests" -> Json.obj(byKey.toSeq.sortBy(_._1).map { case (k, ds) =>
      k -> Json.obj(Seq("digest" -> Json.str(ds.head.digest), "n" -> ds.size.toString,
        "consistent" -> (ds.map(_.digest).distinct.size == 1).toString)) })

    val cachedBytes = s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val lat = ok.map(_.latMs)
    res.put("latency_p50_ms" -> Stats.median(lat), "latency_p75_ms" -> Stats.pct(lat, 75),
      "ops_per_s" -> ok.size / elapsed,
      "output_bytes_per_input_byte" -> cachedBytes.toDouble / Harness.inputBytes(o.data))
    def p50(xs: Seq[Double]) = Stats.median(xs)
    res.put(
      "query.build_ms" -> p50(ok.map(_.buildMs)),
      "query.plan_ms" -> p50(ok.map(_.planMs)),
      "query.exec_ms" -> p50(ok.map(_.execMs)),
      "query.rows_read_per_row_returned" ->
        ok.map(_.rowsRead).sum.toDouble / math.max(1L, ok.map(_.rowsOut).sum),
      "query.lookup_p50_ms" -> p50(ok.filter(_.req.cls == "lookup").map(_.latMs)),
      "query.page_p50_ms" -> p50(ok.filter(_.req.cls == "page").map(_.latMs)),
      "query.analysis_p50_ms" -> p50(ok.filter(_.req.cls == "analysis").map(_.latMs)),
      "query.repeat_frac" -> repeats.toDouble / math.max(1, all.size),
      "ops.measured" -> ok.size.toDouble,
      "count.dash.rows_read" -> ok.map(_.rowsRead).sum.toDouble,
      "count.dash.rows_returned" -> ok.map(_.rowsOut).sum.toDouble,
      "count.dash.jobs" -> jobs.toDouble,
      "graph.registry_residency" -> Harness.residency(g))
  }
}
