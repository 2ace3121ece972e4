package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftx.GraftCacheBridge

import graft.graph.{GraphAnalytics, GraphTables}

/** The co-binding-graph analytics, in sequence, over a registry built and
  * materialized in set-up. One pass runs all five algorithms and writes
  * each result as parquet (checked against the x-family oracles after the
  * run); passes repeat while they are expected to end inside the run's
  * seconds, at least once.
  */
final class GraphIterWorkload(o: Opts) extends Workload {
  private val deadline = 60.0

  /** (metric name, oracle query name, algorithm). */
  val algos: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("cc_graphx", "x1_graph_components", GraphAnalytics.coBindingComponents(_, _)),
    ("cc_dataframe", "x6_dataframe_cc", GraphAnalytics.coBindingComponentsDF(_, _)),
    ("pagerank", "x5_pagerank_int", (s, d) => GraphAnalytics.pagerankInt(s, d)),
    ("label_propagation", "x7_label_propagation", (s, d) => GraphAnalytics.labelPropagation(s, d)),
    ("closeness", "x10_closeness", (s, d) => GraphAnalytics.closenessCentrality(s, d)))

  def oracles: Seq[String] = algos.map(_._2)

  /** The algorithms read the registry's interaction table and its
    * co-binding counts only; the rest of the registry stays unbuilt.
    */
  def prepare(s: SparkSession, probe: SchedulerProbe, res: Result): Unit =
    Harness.registry(s, probe, res, Set("interacts", "coBindCounts"))(
      GraphTables.cached(s, o.data))

  def measure(s: SparkSession, tr: Tracer, probe: SchedulerProbe, res: Result): Unit = {
    val walls = collection.mutable.ArrayBuffer[Double]()
    val per = collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val start = System.nanoTime()
    var pass = 0
    var jobs = 0L
    // another pass only when it is expected to end inside the window
    while (pass == 0 || (System.nanoTime() - start) / 1e9 + walls.last <= o.seconds) {
      val t0 = System.currentTimeMillis()
      res.measured { tr.span("pass", "op") {
        for ((name, rq, f) <- algos) {
          val a0 = System.nanoTime()
          res.attempted += 1
          try tr.span(name, "graph") {
            Harness.withDeadline(s, s"graph:$name", deadline) {
              f(s, o.data).write.mode("overwrite").parquet(s"${o.work}/graph_out/$pass/$rq")
            }
          } catch { case e: Exception =>
            res.failed += 1
            System.err.println(s"[perfbench] graph $name failed: $e")
          }
          per(name) += (System.nanoTime() - a0) / 1e9
        }
      }}
      val t1 = System.currentTimeMillis()
      walls += (t1 - t0) / 1e3
      GraftCacheBridge.drainListenerBus(s)
      jobs += probe.jobsIn(t0, t1).size
      res.checks += s"graph_pass_$pass" -> Json.str(s"${o.work}/graph_out/$pass")
      pass += 1
    }
    val g = GraphTables.cached(s, o.data)
    res.put("latency_p50_ms" -> Stats.median(walls.toSeq) * 1e3,
      "latency_p75_ms" -> Stats.pct(walls.toSeq, 75) * 1e3,
      "ops_per_s" -> walls.size / walls.sum,
      "output_bytes_per_input_byte" ->
        Harness.dirBytes(new java.io.File(s"${o.work}/graph_out/0")).toDouble /
          Harness.inputBytes(o.data))
    algos.foreach { case (name, _, _) => res.put(s"graph.${name}_s" -> per(name) / pass) }
    res.put("graph.superstep_jobs" -> jobs.toDouble / pass,
      "graph.registry_residency" -> Harness.residency(g, Set("interacts", "coBindCounts")),
      "ops.measured" -> pass.toDouble)
  }
}
