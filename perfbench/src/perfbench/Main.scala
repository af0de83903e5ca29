package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, out: Path, spans: Path, launchedMs: Double, genOnly: Boolean,
                      tables: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")), Paths.get(need("spans")),
      m.get("launched-ms").map(_.toDouble).getOrElse(Clock.ms), m.get("gen-only").contains("1"),
      m.get("tables"))
  }
}

/** Everything one run reports; `run.py` turns it into the record. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val setup = mutable.LinkedHashMap[String, Any]()
  val inputs = mutable.LinkedHashMap[String, Any]()
  val extra = mutable.LinkedHashMap[String, Any]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  var attempted = 0L
  var failed = 0L

  /** Count one operation (a trigger, a call, a query) and whether it failed. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  /** An output check: counted as an operation, and listed with its detail. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    op(ok)
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
  }

  def json(a: Args): String = Json.obj(Seq(
    "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
    "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics, "layers" -> layers,
    "setup" -> setup, "inputs" -> inputs, "checks" -> checks, "extra" -> extra,
    "provenance" -> Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString)))
}

object Main {
  /** The session `graft.Bench` runs its queries in, with cores from the host. */
  def session(cores: Int, shufflePartitions: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        math.max(2, cores / 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  def median(xs: Seq[Double]): Double = Tracer.pct(xs, 50)

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    val cores = Runtime.getRuntime.availableProcessors
    // Enrich runs one task per shuffle partition; the reference's
    // operating point is one client process, so enrich_http uses one
    val spark = session(cores, if (a.workload == "enrich_http") 1 else cores, a.work)
    val res = new Result
    res.setup("session_s") = (Clock.ms - a.launchedMs) / 1000.0
    val ok = try {
      a.workload match {
        case "spine" => Spine.run(spark, a, res)
        case "enrich_http" => EnrichHttp.run(spark, a, res)
        case "queries" => Queries.run(spark, a, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ${a.workload} aborted: $e")
        e.printStackTrace()
        false
    }
    Files.createDirectories(a.out.getParent)
    Files.writeString(a.out, res.json(a) + "\n")
    // the run's files are discarded with its work directory, so skip the
    // orderly shutdown (about 2 s of a run) and end the process here
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }

  /** Runs `body`, with `tracer` attached if given, and returns its wall
    * seconds; every event of the body has reached the tracer on return. */
  def measure(spark: SparkSession, tracer: Option[Tracer])(body: => Unit): Double = {
    tracer.foreach(org.apache.spark.PerfbenchBus.add(spark.sparkContext, _))
    val t0 = Clock.ms
    try body
    finally tracer.foreach { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
    }
    (Clock.ms - t0) / 1000.0
  }

  /** Layer metrics every workload reports from its traced phase: Spark
    * runtime totals, jobs and job self time per source file, JVM. Job
    * spans are added under the span named by their local property, or
    * under `parentOf(job)`; scorer calls are added under the job whose
    * run covers their start. */
  def commonLayers(res: Result, spark: SparkSession, tracer: Tracer, probe: JvmProbe,
                   spans: SpanLog, wallS: Double, trace: String,
                   parentOf: Tracer#Job => String): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val jobs = tracer.finishedJobs
    val fileOf = tracer.files
    // a span shares the trace id of the trigger or query it runs under
    val traceOf = spans.spans.map(s => s.id -> s.trace).toMap.withDefaultValue(trace)
    val jobSpans = jobs.map { j =>
      val parent = j.span.getOrElse(parentOf(j))
      j -> spans.add(Span(s"job-${j.id}", traceOf(parent), parent, s"job ${fileOf(j.id)}", j.start, j.end))
    }
    val calls = ScorerLog.calls.toArray(Array.empty[ScorerCall]).toSeq
    val callSpans = calls.map { c =>
      val owner = jobSpans.filter { case (j, _) => j.start <= c.start && c.start <= j.end }
        .sortBy(-_._1.start).headOption.map(_._2).getOrElse(spans.spans.find(_.id == "workload").get)
      spans.add(Span(spans.newId("scorer"), owner.trace, owner.id,
        s"scorer batch ${c.bid} attempt ${c.attempt}", c.start, c.end))
    }
    val callsByJob = callSpans.groupBy(_.parent)
    val L = res.layers
    L("spark.jobs") = jobs.size
    L("spark.stages") = tracer.stages
    L("spark.tasks") = tracer.tasks
    L("spark.task_s") = tracer.taskMs / 1000.0
    L("spark.shuffle_read_mb") = tracer.shuffleRead / 1048576.0
    L("spark.shuffle_write_mb") = tracer.shuffleWrite / 1048576.0
    L("spark.spill_mb") = tracer.spill / 1048576.0
    L("spark.core_busy_ratio") = tracer.taskMs / 1000.0 / (wallS * cores)
    L(s"jobs.${Tracer.Unsampled}") = 0
    L(s"job_s.${Tracer.Unsampled}") = 0
    jobSpans.groupBy(j => fileOf(j._1.id)).toSeq.sortBy(_._1).foreach { case (file, js) =>
      L(s"jobs.$file") = js.size
      L(s"job_s.$file") = js.map { case (_, s) =>
        Tracer.selfTime(s, callsByJob.getOrElse(s.id, Nil)) }.sum / 1000.0
    }
    L("trace.unsampled_ratio") =
      if (jobs.isEmpty) 0.0 else L(s"jobs.${Tracer.Unsampled}") / jobs.size
    L("jvm.gc_s") = probe.gcSeconds
    L("jvm.peak_heap_mb") = probe.peakHeapMb
  }

  /** Scorer-layer metrics from the calls [[TimedScorer]] recorded. The
    * in-flight window is idle when a slot waits: `slots` is the window
    * times the enrich tasks, over the run time of the jobs that scored. */
  def scorerLayers(res: Result, tracer: Tracer, slots: Int): Unit = {
    val calls = ScorerLog.calls.toArray(Array.empty[ScorerCall]).toSeq
    val L = res.layers
    // a batch's attempts run back to back on one pool thread, and batch
    // ids repeat across micro-batches, so a batch is a run of attempts
    // on one thread that starts at attempt 1
    val batches = calls.groupBy(_.thread).values.toSeq.flatMap { cs =>
      var n = 0
      cs.sortBy(_.start).map { c => if (c.attempt == 1) n += 1; (c.thread, n) -> c }
    }.groupBy(_._1).values.map(_.map(_._2))
    val ms = calls.map(_.dur)
    L("scorer.calls") = calls.size
    L("scorer.failed_attempts") = calls.count(!_.ok)
    L("scorer.retry_ratio") = if (batches.isEmpty) 0.0 else calls.size.toDouble / batches.size
    L("scorer.useful_ratio") = if (calls.isEmpty) 0.0 else calls.count(_.ok).toDouble / calls.size
    L("scorer.call_p50_ms") = Tracer.pct(ms, 50)
    L("scorer.call_tail_ms") = Tracer.tail(ms).map(_._2).getOrElse(ms.maxOption.getOrElse(0.0))
    L("scorer.null_filled_rows") = batches.filter(!_.exists(_.ok)).map(_.head.items).sum
    val scoring = tracer.finishedJobs.filter(j => calls.exists(c => j.start <= c.start && c.start <= j.end))
    val scoringMs = scoring.map(j => j.end - j.start).sum
    L("enrich.window_idle_ratio") = if (scoringMs <= 0) 0.0 else 1.0 - ms.sum / (scoringMs * slots)
  }
}
