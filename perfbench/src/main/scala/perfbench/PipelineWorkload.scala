package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.GraftCacheBridge
import org.apache.spark.sql.functions._

import graft.chem.ProcessChemToolkit
import graft.etl.{ContactsStage, ExportStage}
import graft.graph.GraphTables

/** The database build: contacts stage over an arpeggio-shaped JSON
  * fixture, a registry build that scores every blocked pair through the
  * live chemistry bridge, registry materialization, and the Neo4j import
  * export (gzipped TSV). After an untimed warm-up build, the run measures
  * round(seconds / BuildSeconds) builds, at least one, so that the measured
  * region lasts about the run's seconds; each build's export is read back
  * (untimed), then deleted.
  */
final class PipelineWorkload(o: Opts) extends Workload {
  private val fixture = s"${o.work}/contacts_json"
  private val stageDeadline = 90.0
  val oracles = Seq("etl3_export_inventory", "etl1_contacts_stage")

  /** Import tables whose row counts are checked against the
    * etl3_export_inventory oracle (the subset it covers).
    */
  val readBack: Seq[String] = Seq("ec_id_nodes", "ec_nodes_class",
    "ec_class_subclass_rel", "cognate_ligands_ec", "pdb_protein_chain_nodes",
    "pdb_protein_rels", "protein_ec_rels", "cath_protein_rels",
    "cath_class_nodes", "cath_homologous_superfamily_domain_rels",
    "scop_family_nodes", "scop2_sf_nodes", "pfam_clans", "bound_descriptors",
    "be_bd_rels", "superfamily_domains_nodes", "superfamily_fold_rels",
    "gene3d_domains_nodes", "cath_topology_domain_rels", "procoggraph_node")

  /** Writes the contacts JSON-lines fixture: one arpeggio record per
    * lineitem row plus nation-derived failure envelopes — the same
    * derivation the etl1_contacts_stage oracle re-computes in SQL.
    */
  def prepare(s: SparkSession, probe: SchedulerProbe, res: Result): Unit = {
    val li = s.read.parquet(s"${o.data}/lineitem.parquet")
    val records = li.select(to_json(struct(
      concat(lit("pdb"), col("l_orderkey") % 50).as("pdb_id"),
      lit("success").as("status"),
      struct(col("l_returnflag").as("auth_asym_id"),
        col("l_linenumber").cast("long").as("auth_seq_id"),
        lit("").as("pdbx_PDB_ins_code")).as("bgn"),
      struct(concat(lit("C"), col("l_suppkey") % 20).as("auth_asym_id"),
        col("l_partkey").as("auth_seq_id")).as("end"),
      when(col("l_discount") >= 0.06, array(lit("proximal"), lit("hbond")))
        .when(col("l_discount") >= 0.03, array(lit("covalent")))
        .otherwise(array(lit("proximal"))).as("contact"),
      when(col("l_tax") > 0.04, "INTER").otherwise("INTRA").as("interacting_entities"),
      col("l_extendedprice").as("distance"),
      lit("atom-atom").as("type"))).as("value"))
    val k = col("n_nationkey")
    val envelopes = s.read.parquet(s"${o.data}/nation.parquet").select(to_json(struct(
      concat(lit("pdbx"), k).as("pdb_id"),
      when(k % 4 === 0, "timeout").when(k % 4 === 1, "arpeggio_failure")
        .otherwise("success").as("status"),
      when(k % 4 === 3, array(lit("proximal"))).as("contact"),
      when(k % 4 === 3, "INTER").as("interacting_entities"))).as("value"))
    records.unionByName(envelopes).write.mode("overwrite").text(fixture)
  }

  /** One database build into `out`: contacts stage, registry build scored
    * through the live chemistry bridge, materialization, export. Each
    * stage is an attempted operation under a deadline; a failed stage
    * counts in `res.failed` and the build goes on without its output.
    * `layer` accumulates each stage's wall seconds.
    */
  private def buildOnce(s: SparkSession, tr: Tracer, res: Result, out: String,
      layer: collection.mutable.Map[String, Double]): Built = {
    val sc = s.sparkContext
    def stage[T](name: String, lyr: String)(body: => T): Option[T] = {
      res.attempted += 1
      val t0 = System.currentTimeMillis()
      try Some(tr.span(name, lyr) { Harness.withDeadline(s, s"pipe:$name", stageDeadline)(body) })
      catch { case e: Exception =>
        res.failed += 1
        System.err.println(s"[perfbench] pipeline stage $name failed: $e")
        None
      } finally layer(name + "_s") += (System.currentTimeMillis() - t0) / 1e3
    }
    val contactRows = stage("contacts", "etl") {
      ContactsStage.aggregate(ContactsStage.readContacts(s, fixture))
        .queryExecution.toRdd.count()
    }
    val chem = ProcessChemToolkit.default().copy(inputIsDistinctPairs = true)
    val g = stage("registry_build", "graph") {
      Harness.persisted(GraphTables.build(s, o.data, chem))
    }
    val tm0 = System.currentTimeMillis()
    // the scored similarity table first, on its own: its materialization
    // is the chemistry bridge's work, so it gets the chem layer's span
    g.foreach(g => stage("score_similarity", "chem") {
      sc.setJobGroup("reg:similarity", "registry table similarity")
      try g.similarity.queryExecution.toRdd.count() finally sc.clearJobGroup()
    })
    g.foreach(g => stage("registry_materialize", "graph") {
      Harness.materialize(g, _ != "similarity")
    })
    val tm1 = System.currentTimeMillis()
    Built(contactRows, g, g.flatMap(g => stage("export", "etl") { ExportStage.run(g, out).toMap }),
      tm0, tm1)
  }

  /** Untimed: one whole build before the window, so that the JIT
    * compilation the first build in a JVM pays (it runs about twice as long
    * as later ones) falls outside it. Its stages count as attempted
    * operations, and a failed one as failed.
    */
  override def warmup(s: SparkSession, res: Result): Unit = {
    val out = s"${o.work}/export_warmup"
    buildOnce(s, new Tracer(false, ""), res, out,
      collection.mutable.Map[String, Double]().withDefaultValue(0.0))
    Harness.rmrf(new java.io.File(out))
    s.catalog.clearCache()
  }

  def measure(s: SparkSession, tr: Tracer, probe: SchedulerProbe, res: Result): Unit = {
    val walls = collection.mutable.ArrayBuffer[Double]()
    val layer = collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    var iter = 0
    var contactTotal = 0L
    // a fixed number of builds, not a deadline: with builds this long, a
    // deadline would make the count, and so the median and the state the
    // run leaves behind, depend on the host's speed
    val builds = math.max(1L, math.round(o.seconds / PipelineWorkload.BuildSeconds))
    while (iter < builds) {
      val out = s"${o.work}/export_$iter"
      val t0 = System.currentTimeMillis()
      val Built(contactRows, g, written, tm0, tm1) =
        res.measured { tr.span("pipeline_iter", "op") { buildOnce(s, tr, res, out, layer) } }
      val t1 = System.currentTimeMillis()
      Harness.mark(s"pipeline iteration $iter done")
      walls += (t1 - t0) / 1e3
      GraftCacheBridge.drainListenerBus(s)

      // layer attribution from the listener, per iteration
      val reg = probe.window(tm0, tm1)
      val exp = probe.window(tm1, t1)
      layer("graph.registry_task_cpu_s") += reg.cpuS
      layer("etl.export_jobs") += exp.jobs
      layer("etl.export_task_cpu_s") += exp.cpuS
      layer("etl.export_run_s") += exp.runS
      // the bridge's stages: MapPartitions scopes inside the similarity jobs
      val chemStages = probe.jobsIn(tm0, tm1).filter(_.group == "reg:similarity")
        .flatMap(_.stageIds).filter(id =>
          Option(probe.stageScopes.get(id)).exists(_.exists(_.startsWith("MapPartitions"))))
        .toSet
      val ct = probe.tasksIn(tm0, tm1).filter(t => chemStages(t.stageId))
      layer("chem.workers_spawned") += ct.size
      layer("chem.score_s") += Probe.covered(ct.map(t => (t.launch, t.finish)), tm0, tm1) / 1e3
      layer("chem.task_cpu_s") += ct.map(_.cpuNs).sum / 1e9
      layer("chem.task_run_s") += ct.map(_.runMs).sum / 1e3

      // untimed checks: contact rows, similarity digest, import row counts
      contactRows.foreach { n =>
        res.checks += s"contacts_rows_$iter" -> n.toString
        contactTotal += n
      }
      g.foreach { g =>
        val agg = g.similarity.agg(count(lit(1)), sum(round(col("parityScore") * 100).cast("long")),
          sum(when(col("bestCognate") === "Y", 1L).otherwise(0L))).collect()(0)
        layer("chem.pairs") += agg.getLong(0)
        res.checks += s"similarity_$iter" -> Json.obj(Seq(
          "n" -> agg.getLong(0).toString, "score_x100" -> agg.getLong(1).toString,
          "best" -> agg.getLong(2).toString))
        layer("graph.registry_residency") += Harness.residency(g)
      }
      written.foreach { w =>
        val (gz, raw, lines) = PipelineWorkload.importBytes(new java.io.File(out))
        res.checks += s"export_counts_$iter" -> Json.obj(readBack.map(f => f -> lines(f).toString))
        layer("sources.gz_bytes") += gz
        layer("sources.raw_bytes") += raw
        layer("sources.rows_written") += lines.values.sum
        layer("sources.files_written") += w.size
        Harness.rmrf(new java.io.File(out))
      }
      s.catalog.clearCache()
      iter += 1
    }
    val n = iter.toDouble
    res.put("latency_p50_ms" -> Stats.median(walls.toSeq) * 1e3,
      "latency_p75_ms" -> Stats.pct(walls.toSeq, 75) * 1e3,
      "ops_per_s" -> walls.size / walls.sum,
      "output_bytes_per_input_byte" -> layer("sources.gz_bytes") / n / Harness.inputBytes(o.data))
    val cpuRun = layer("chem.task_run_s")
    res.put(
      "etl.contacts_s" -> layer("contacts_s") / n,
      "etl.export_s" -> layer("export_s") / n,
      "etl.export_jobs" -> layer("etl.export_jobs") / n,
      "etl.export_task_cpu_s" -> layer("etl.export_task_cpu_s") / n,
      "etl.export_busy_frac" -> layer("etl.export_run_s") / (layer("export_s") * o.cores),
      "sources.gz_bytes" -> layer("sources.gz_bytes") / n,
      "sources.raw_bytes" -> layer("sources.raw_bytes") / n,
      "sources.rows_written" -> layer("sources.rows_written") / n,
      "sources.files_written" -> layer("sources.files_written") / n,
      "chem.score_s" -> layer("chem.score_s") / n,
      "chem.pairs" -> layer("chem.pairs") / n,
      "chem.pairs_per_s" -> layer("chem.pairs") / layer("chem.score_s"),
      "chem.workers_spawned" -> layer("chem.workers_spawned") / n,
      "chem.task_wait_frac" -> (if (cpuRun > 0) 1 - layer("chem.task_cpu_s") / cpuRun else 0.0),
      "graph.registry_build_s" -> layer("registry_build_s") / n,
      "graph.registry_materialize_s" ->
        (layer("score_similarity_s") + layer("registry_materialize_s")) / n,
      "graph.registry_task_cpu_s" -> layer("graph.registry_task_cpu_s") / n,
      "graph.registry_residency" -> layer("graph.registry_residency") / n,
      "ops.measured" -> n,
      "count.contacts_rows" -> contactTotal.toDouble / n)
  }
}

/** What one build produced, and when its registry phase ran (epoch ms). */
final case class Built(contactRows: Option[Long], g: Option[GraphTables],
    written: Option[Map[String, String]], tm0: Long, tm1: Long)

object PipelineWorkload {
  /** Nominal wall time of one warm build at sf0.001 on a 4-core host
    * (11–16 s), which sets how many builds a run measures.
    */
  val BuildSeconds = 15.0
  /** Reads an export directory back: (gzip bytes, uncompressed bytes,
    * data lines per table). Each table is header.tsv plus gzipped
    * data/part-* files of one TSV row per line.
    */
  def importBytes(root: java.io.File): (Long, Long, Map[String, Long]) = {
    var gz, raw = 0L
    val buf = new Array[Byte](1 << 16)
    val lines = root.listFiles.filter(_.isDirectory).map { t =>
      raw += new java.io.File(t, "header.tsv").length
      var n = 0L
      for (f <- Option(new java.io.File(t, "data").listFiles).getOrElse(Array.empty[java.io.File])
           if f.getName.endsWith(".gz")) {
        gz += f.length
        val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f), 1 << 16)
        try {
          var k = in.read(buf)
          while (k > 0) {
            raw += k
            var i = 0
            while (i < k) { if (buf(i) == '\n') n += 1; i += 1 }
            k = in.read(buf)
          }
        } finally in.close()
      }
      t.getName -> n
    }.toMap
    (gz, raw, lines)
  }
}

