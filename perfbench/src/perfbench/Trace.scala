package perfbench

import graft.operators.Scorer
import org.apache.spark.scheduler._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructField

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Wall clock in fractional epoch milliseconds, on the same scale as
  * Spark's listener event times but with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this JVM has used, over all its threads. */
  def cpuS: Double = os.getProcessCpuTime / 1e9
}

final case class Span(id: String, trace: String, parent: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** One scorer attempt as seen by [[TimedScorer]]. */
final case class ScorerCall(bid: Long, attempt: Int, items: Int, ok: Boolean,
                            start: Double, end: Double, thread: Long) {
  def dur: Double = end - start
}

/** Calls recorded by every [[TimedScorer]] in this JVM (tasks run in
  * the driver JVM under `local[n]`). */
object ScorerLog {
  val calls = new ConcurrentLinkedQueue[ScorerCall]()
}

/** Timing decorator around the program's `Scorer` trait. An attempt is
  * useful when it answers every item of its batch exactly once, which is
  * the contract `Enrich` enforces before it accepts an answer. */
final case class TimedScorer(inner: Scorer) extends Scorer {
  def outputFields: Seq[StructField] = inner.outputFields
  def score(batchId: Long, batch: Seq[Row], attempt: Int): Try[Seq[(Long, Seq[Any])]] = {
    val t0 = Clock.ms
    val r = Try(inner.score(batchId, batch, attempt)).flatten
    val ids = batch.map(_.getAs[Long]("item_id")).sorted
    val ok = r.toOption.exists(_.map(_._1).sorted == ids)
    ScorerLog.calls.add(ScorerCall(batchId, attempt, batch.size, ok, t0, Clock.ms,
      Thread.currentThread().getId))
    r
  }
}

/** Charges Spark jobs, stages and tasks to the repo's layers from
  * outside the program. A job belongs to the innermost `graft.*` source
  * file on the stack of the driver thread that waits for it. Spark's own
  * call site cannot serve: a streaming query pins every job's call site
  * to the frame that started the stream.
  *
  * The stacks are read when the job's start event reaches the listener,
  * which is later than the job's submission. The sample is accepted only
  * if it was read before the job's end event was stamped: a thread that
  * runs a job is released after that stamp, and one that runs a query
  * waits for all of its stage jobs, so the submitter was still blocked
  * in this job or its query. It must also name one file: every thread
  * blocked in a Spark wait (a job, an adaptive query stage or a future),
  * other than task threads, that has a `graft.*` frame must name the
  * same one; with none, the job is `other`. A job whose sample fails takes the file of an accepted job
  * of the same SQL execution, and otherwise is charged to `unsampled`.
  *
  * The span a job belongs to comes from the local property the benchmark
  * sets around each query phase, or from the streaming batch id. */
final class Tracer extends SparkListener {
  final case class Job(id: Int, exec: Option[Long], sample: Option[String], sampledMs: Long,
                       span: Option[String], batch: Option[Long], start: Double,
                       var end: Double = Double.NaN) {
    /** The sample was read while the submitting thread still waited. */
    def accepted: Boolean = sample.isDefined && sampledMs < end
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskMs = 0L
  @volatile var shuffleRead = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spill = 0L

  /** The file every waiting driver thread agrees on, `other` when none
    * has a `graft.*` frame, None when they disagree or none waits. */
  private def sampleFile(): Option[String] = {
    val waiting = Thread.getAllStackTraces.asScala.toSeq.collect {
      case (t, st) if !t.getName.startsWith("Executor task launch") =>
        val g = st.indexWhere(f => f.getClassName.startsWith("graft.") && f.getFileName != null)
        val top = if (g < 0) st.toSeq else st.toSeq.take(g)
        if (!top.exists(Tracer.isWait)) None
        else Some(if (g < 0) None else Some(st(g).getFileName.stripSuffix(".scala")))
    }.flatten
    val files = waiting.flatten.distinct
    if (waiting.isEmpty || files.size > 1) None else Some(files.headOption.getOrElse("other"))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val sample = sampleFile()
    // the same clock as the end event's stamp, read after the stacks
    val sampledMs = System.currentTimeMillis()
    jobs.put(e.jobId, Job(e.jobId, prop("spark.sql.execution.id").map(_.toLong), sample,
      sampledMs, prop(Tracer.SpanKey), prop("streaming.sql.batchId").map(_.toLong),
      e.time.toDouble))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskMs += m.executorRunTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def finishedJobs: Seq[Job] = jobs.values.asScala.toSeq.filter(!_.end.isNaN).sortBy(_.start)

  /** Source file of each finished job, as the class comment describes. */
  def files: Map[Int, String] = {
    val done = finishedJobs
    val execFile = done.filter(_.accepted).groupBy(_.exec).collect {
      case (Some(x), js) => x -> js.minBy(_.start).sample.get
    }
    done.map { j =>
      j.id -> (if (j.accepted) j.sample.get
               else j.exec.flatMap(execFile.get).getOrElse(Tracer.Unsampled))
    }.toMap
  }
}

object Tracer {
  /** Local property naming the benchmark span a job runs under. */
  val SpanKey = "perfbench.span"

  /** Where a driver thread blocks until a job it started ends: class and
    * a part of the method name (which covers the method's closures). */
  private val WaitFrames: Seq[(String, String)] = Seq(
    "org.apache.spark.scheduler.DAGScheduler" -> "runJob",
    "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec" -> "withFinalPlanUpdate",
    "org.apache.spark.util.SparkThreadUtils$" -> "await",
    "org.apache.spark.util.ThreadUtils$" -> "await")

  def isWait(f: StackTraceElement): Boolean =
    WaitFrames.exists { case (c, m) => f.getClassName == c && f.getMethodName.contains(m) }

  /** The bucket of jobs whose stack sample was not accepted. */
  val Unsampled = "unsampled"

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of `span`: its duration minus what its children cover,
    * with the children clipped to the span. */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.dur - covered(children.map(c => (math.max(c.start, span.start), math.min(c.end, span.end))))

  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val rank = p / 100.0 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
  }

  /** The highest whole percentile that leaves at least 10 samples above
    * it, with its value; None when that percentile is below the median. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val p = math.floor(100.0 * (xs.size - 10) / math.max(1, xs.size)).toInt
    if (p < 50) None else Some(p -> pct(xs, p))
  }
}

/** JVM-wide counters sampled around the traced phase. */
final class JvmProbe {
  import java.lang.management.ManagementFactory
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val gc0 = gcs.map(_.getCollectionTime).sum
  heap.foreach(_.resetPeakUsage())
  def gcSeconds: Double = (gcs.map(_.getCollectionTime).sum - gc0) / 1000.0
  def peakHeapMb: Double = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Collects spans in memory and writes them as JSON lines at the end. */
final class SpanLog {
  val spans = mutable.ArrayBuffer[Span]()
  private var next = 0
  def newId(prefix: String): String = synchronized { next += 1; s"$prefix-$next" }
  def add(s: Span): Span = synchronized { spans += s; s }

  def write(path: java.nio.file.Path): Unit = {
    val byParent = spans.groupBy(_.parent)
    val lines = spans.sortBy(_.start).map { s =>
      val self = Tracer.selfTime(s, byParent.getOrElse(s.id, Nil).toSeq)
      Json.obj(Seq("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
