package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** `queries`: one pass over two named sets of `SparkEntry.queries`, each
  * query written to the `noop` sink, with its DataFrame construction
  * timed apart from its execution. Read-only. */
object Queries {
  /** The eight r19 over-budget queries; most of their jobs launch while
    * the DataFrame is being built. */
  val Flagship: Seq[String] = Seq("q_curation_pipeline", "q_text_search_incr", "q_fuzzy_incr",
    "q_quality_signals", "q_multimodal_pipeline", "q_enrich_kpis", "q_lm_score5",
    "q_multilingual_neardup")
  /** The reference's own batch surface: scan-and-aggregate queries. */
  val Kpi: Seq[String] = graft.queries.KpiQueries.queries.keys.toSeq.sorted

  final case class Timing(name: String, construct: Double, execute: Double) {
    def total: Double = construct + execute
  }

  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** One pass: every query is built, then run to the noop sink, timed
    * apart; then, untimed, the same frame is written out for the oracle
    * check. Each query and phase gets a span its jobs are
    * charged to through a local property. */
  def pass(spark: SparkSession, sfDir: String, outDir: java.nio.file.Path, res: Result,
           spans: SpanLog): Seq[Timing] = {
    val fns = SparkEntry.queries
    (Flagship ++ Kpi).flatMap { name =>
      release(spark)
      val trace = s"q:$name"
      def phase(kind: String): String = {
        val id = s"$trace:$kind"
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, id)
        id
      }
      try {
        val t0 = Clock.ms
        val cId = phase("construct")
        val df = fns(name)(spark, sfDir)
        val t1 = Clock.ms
        val eId = phase("execute")
        df.write.format("noop").mode("overwrite").save()
        val t2 = Clock.ms
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
        df.write.mode("overwrite").parquet(outDir.resolve(name).toString)
        res.op(true)
        spans.add(Span(trace, trace, "workload", name, t0, t2))
        spans.add(Span(cId, trace, trace, "construct", t0, t1))
        spans.add(Span(eId, trace, trace, "execute", t1, t2))
        Some(Timing(name, (t1 - t0) / 1000.0, (t2 - t1) / 1000.0))
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e")
          res.op(false)
          None
      } finally spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
    }
  }

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val t0 = Clock.ms
    // --tables runs the queries on existing tables (such as the harness
    // testdata) instead of generated ones, to compare the two
    val tables = a.tables.map(java.nio.file.Paths.get(_)).getOrElse {
      val dir = a.work.resolve("tables")
      Inputs.writeTables(spark, a.seed, Inputs.Sf0001, dir.toString)
      dir
    }
    res.setup("gen_s") = (Clock.ms - t0) / 1000.0
    val sfDir = tables.toString
    res.inputs("tables") = a.tables.getOrElse(Inputs.Sf0001.toString)
    res.inputs("bytes") = Inputs.bytesUnder(tables)
    res.inputs("digest") = Inputs.digest(tables)
    res.extra("sf_dir") = sfDir
    if (a.genOnly) return

    // Each query is timed in its first run in the process, as a batch job
    // runs it: that includes building its fixtures and compiling its code.
    val outDir = a.work.resolve("results")
    val tracer = if (a.trace) Some(new Tracer) else None
    val probe = new JvmProbe
    val spans = new SpanLog
    var timings: Seq[Timing] = Nil
    val cpu0 = Clock.cpuS
    val wall = Main.measure(spark, tracer) { timings = pass(spark, sfDir, outDir, res, spans) }
    res.extra("pass_cpu_s") = Clock.cpuS - cpu0
    val oracles = SparkEntry.oracleSql
    res.extra("oracle") = (Flagship ++ Kpi).map(n =>
      n -> Map("result" -> outDir.resolve(n).toString, "sql" -> oracles.get(n))).toMap
    def setSum(set: Seq[String]) = timings.filter(t => set.contains(t.name)).map(_.total).sum
    val walls = timings.map(_.total)
    res.metrics("flagship_s") = setSum(Flagship)
    res.metrics("kpi_s") = setSum(Kpi)
    res.metrics("throughput_per_s") = timings.size / walls.sum
    res.metrics("op_geomean_s") = Main.geomean(walls)
    res.metrics("measured_s") = walls.sum
    res.extra("per_query_s") = timings.map(t => t.name -> t.total).toMap

    tracer.foreach { tr =>
      spans.add(Span("workload", "queries", "", "workload queries",
        spans.spans.map(_.start).min, spans.spans.map(_.end).max))
      Main.commonLayers(res, spark, tr, probe, spans, wall, "queries", _ => "workload")
      val jobs = tr.finishedJobs
      def jobsIn(name: String, kind: String) = jobs.filter(_.span.contains(s"q:$name:$kind"))
      val L = res.layers
      L("queries.construct_jobs") = (Flagship ++ Kpi).map(jobsIn(_, "construct").size).sum
      L("queries.construct_s") = timings.map(_.construct).sum
      L("queries.execute_s") = timings.map(_.execute).sum
      timings.foreach { t =>
        L(s"q.${t.name}.construct_s") = t.construct
        L(s"q.${t.name}.execute_s") = t.execute
        L(s"q.${t.name}.jobs") = (jobsIn(t.name, "construct") ++ jobsIn(t.name, "execute")).size
      }
      val phases = spans.spans.filter(s => s.name == "construct" || s.name == "execute")
      val covered = phases.map { s =>
        Tracer.covered(jobs.filter(_.span.contains(s.id)).map(j => (j.start, j.end)))
      }.sum
      L("trace.unattributed_ratio") = 1 - covered / phases.map(_.dur).sum
      spans.write(a.spans)
    }
  }
}
