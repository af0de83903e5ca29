package perfbench

import graft.operators.{EnrichConfig, Scorer}
import graft.queries.SentimentScorer
import graft.streaming.EtlPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import java.nio.file.{Files, Path}

/** `spine`: one `EtlPipeline` drain (AvailableNow, 10 files per
  * trigger) over a bronze backlog drawn from the 150k orders of sf0.1,
  * scored by the in-process `SentimentScorer` with its planted faults,
  * served by JDBC MERGE into in-memory Derby. Triggers are small, so the
  * per-trigger machinery dominates. */
object Spine {
  /** Rows a trigger carries: ten files of 500 rows. */
  val TriggerRows = 5000L
  /** Measured triggers per second of --seconds; a small trigger takes
    * about 2.5 s on a quiet 4-core host. */
  val TriggersPerSecond = 0.4
  /** Leading triggers of the drain that warm the pipeline up (the first
    * compiles its plans, the second the upsert path of the gold table,
    * and trigger times fall for four more while the JIT settles); they
    * count as set-up. */
  val WarmTriggers = 6

  final case class Drain(wallS: Double, progress: Seq[StreamingQueryProgress], base: Path,
                         src: Path, url: String)

  private val Tables = Seq(
    "CREATE TABLE user_kpis (id VARCHAR(64) NOT NULL PRIMARY KEY, average_spent DOUBLE, " +
      "positive_reviews BIGINT, negative_reviews BIGINT, likeness_score DOUBLE, " +
      "normalized_likeness_score DOUBLE)",
    "CREATE TABLE shop_kpis (shop_id VARCHAR(64) NOT NULL PRIMARY KEY, average_profit DOUBLE, " +
      "positive_reviews BIGINT, negative_reviews BIGINT, likeness_score DOUBLE, " +
      "normalized_likeness_score DOUBLE)",
    "CREATE TABLE date_kpis (day VARCHAR(10) NOT NULL PRIMARY KEY, average_profit_per_day DOUBLE)")

  private def jdbc[T](url: String)(f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def column(url: String, sql: String): Set[String] = jdbc(url) { c =>
    val rs = c.createStatement().executeQuery(sql)
    val b = Set.newBuilder[String]
    while (rs.next()) b += rs.getString(1)
    b.result()
  }

  /** Drain the bronze files in `src` through a fresh pipeline under `base`. */
  def drain(spark: SparkSession, src: Path, base: Path, db: String, scorer: Scorer): Drain = {
    val url = s"jdbc:derby:memory:$db;create=true"
    jdbc(url)(c => Tables.foreach(c.createStatement().execute))
    val t0 = Clock.ms
    val q = EtlPipeline.start(spark, src.toString, base.resolve("archive").toString,
      base.resolve("silver").toString, base.resolve("gold").toString,
      base.resolve("ckpt").toString, scorer, EnrichConfig(), servingUrl = Some(url))
    q.awaitTermination()
    val wall = (Clock.ms - t0) / 1000.0
    Drain(wall, q.recentProgress.toSeq.filter(_.numInputRows > 0), base, src, url)
  }

  /** A copy of the backlog for the queue, which the drain empties; the
    * original stays for the checks. */
  private def copyDir(from: Path, to: Path): Path = {
    Files.createDirectories(to)
    Files.list(from).forEach { f =>
      val t = to.resolve(f.getFileName)
      Files.copy(f, t)
      Files.setLastModifiedTime(t, Files.getLastModifiedTime(f))
    }
    to
  }

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val measured = math.max(2, math.round(a.seconds * TriggersPerSecond).toInt)
    val rows = (WarmTriggers + measured) * TriggerRows
    val files = (WarmTriggers + measured) * 10
    val t0 = Clock.ms
    val pristine = a.work.resolve("bronze")
    Inputs.writeBronze(Inputs.bronzeLines(spark, a.seed, rows), files, pristine)
    res.setup("gen_s") = (Clock.ms - t0) / 1000.0
    res.inputs("bronze_rows") = rows
    res.inputs("bronze_files") = files
    res.inputs("bronze_bytes") = Inputs.bytesUnder(pristine)
    res.inputs("digest") = Inputs.digest(pristine)
    if (a.genOnly) return

    // with --trace 1 the same drain runs with the tracer attached and the
    // scorer behind the timing decorator
    val tracer = if (a.trace) Some(new Tracer) else None
    val probe = new JvmProbe
    ScorerLog.calls.clear()
    val scorer = if (a.trace) TimedScorer(SentimentScorer("signal")) else SentimentScorer("signal")
    var d: Drain = null
    val cpu0 = Clock.cpuS
    val wall = Main.measure(spark, tracer) {
      d = drain(spark, copyDir(pristine, a.work.resolve("queue")), a.work.resolve("main"),
        "perfbench_main", scorer)
    }
    res.extra("drain_cpu_s") = Clock.cpuS - cpu0
    d.progress.foreach(_ => res.op(true))
    val all = d.progress.map(_.durationMs.get("triggerExecution").toDouble / 1000.0)
    require(all.size == WarmTriggers + measured, s"${all.size} triggers, expected ${WarmTriggers + measured}")
    res.setup("warm_s") = d.wallS - all.drop(WarmTriggers).sum
    val trig = all.drop(WarmTriggers)
    val measuredRows = measured * TriggerRows
    res.metrics("spine_rows_per_s") = measuredRows / trig.sum
    res.metrics("trigger_p50_s") = Main.median(trig)
    Tracer.tail(trig).foreach { case (p, v) =>
      res.metrics("trigger_tail_s") = v
      res.extra("trigger_tail_percentile") = p
    }
    // rows per second of the median trigger, so one stalled trigger does
    // not move the run's figure
    res.metrics("throughput_per_s") = TriggerRows / Main.median(trig)
    res.metrics("op_geomean_s") = Main.geomean(trig)
    res.metrics("measured_s") = trig.sum
    res.extra("trigger_s") = all
    res.extra("drain_s") = d.wallS
    val c0 = Clock.ms
    check(spark, res, d, pristine, rows, files)
    res.extra("check_s") = (Clock.ms - c0) / 1000.0

    tracer.foreach { tr =>
      val spans = new SpanLog
      val root = spans.add(Span("workload", "spine", "", "workload spine", t0Of(d), t0Of(d) + wall * 1000))
      val trigSpans = d.progress.map { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        p.batchId -> spans.add(Span(s"trigger-${p.batchId}", s"trigger-${p.batchId}", root.id,
          s"trigger ${p.batchId}", s, s + p.durationMs.get("triggerExecution").toDouble))
      }.toMap
      Main.commonLayers(res, spark, tr, probe, spans, wall, "spine",
        j => j.batch.flatMap(trigSpans.get).map(_.id).getOrElse(root.id))
      streamLayers(res, d, tr, rows)
      Main.scorerLayers(res, tr, EnrichConfig().inflight * spark.sessionState.conf.numShufflePartitions)
      sinkLayers(spark, res, d)
      spans.write(a.spans)
    }
  }

  private def t0Of(d: Drain): Double =
    d.progress.headOption.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
      .getOrElse(Clock.ms)

  private def streamLayers(res: Result, d: Drain, tracer: Tracer, rows: Long): Unit = {
    def dur(k: String) = d.progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val n = math.max(1, d.progress.size)
    val L = res.layers
    val trig = dur("triggerExecution")
    L("filequeue.triggers") = d.progress.size
    // numInputRows counts a source row once per action on the batch,
    // so rows per trigger come from the backlog itself
    L("filequeue.rows_per_trigger") = rows.toDouble / n
    val book = Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
      "queryPlanning" -> "query_planning_ms", "walCommit" -> "wal_commit_ms",
      "commitOffsets" -> "commit_offsets_ms")
    book.foreach { case (k, name) => L(s"filequeue.$name") = dur(k).sum / n }
    L("filequeue.add_batch_ms") = dur("addBatch").sum / n
    L("filequeue.files_archived") = Inputs.filesUnder(d.base.resolve("archive"), ".json").size
    L("filequeue.overhead_ratio") = 1 - dur("addBatch").sum / trig.sum
    // what the trigger time is made of: bookkeeping phases plus the
    // union of the trigger's job runs; the rest is driver work no span covers
    val jobsByBatch = tracer.finishedJobs.groupBy(_.batch)
    val jobCover = d.progress.map { p =>
      Tracer.covered(jobsByBatch.getOrElse(Some(p.batchId), Nil).map(j => (j.start, j.end)))
    }.sum
    val bookMs = book.map(b => dur(b._1).sum).sum
    L("trace.unattributed_ratio") = 1 - (jobCover + bookMs) / trig.sum
  }

  private def sinkLayers(spark: SparkSession, res: Result, d: Drain): Unit = {
    val L = res.layers
    val silver = Inputs.filesUnder(d.base.resolve("silver"), ".json")
    val gold = Inputs.filesUnder(d.base.resolve("gold"), ".parquet")
    val goldRows = spark.read.parquet(d.base.resolve("gold/user_kpis").toString).count()
    L("sinks.silver_mb") = silver.map(Files.size).sum / 1048576.0
    L("sinks.silver_files") = silver.size
    L("sinks.gold_mb") = gold.map(Files.size).sum / 1048576.0
    L("sinks.gold_files") = gold.size
    L("sinks.gold_bytes_per_row") = gold.map(Files.size).sum.toDouble / math.max(1L, goldRows)
    L("sinks.jdbc_rows") = Seq("user_kpis", "shop_kpis", "date_kpis").map { t =>
      jdbc(d.url) { c =>
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next(); rs.getLong(1)
      }
    }.sum
  }

  /** Output checks, outside the timed drain. */
  private def check(spark: SparkSession, res: Result, d: Drain, pristine: Path, rows: Long,
                    files: Int): Unit = {
    val bronze = spark.read.schema(graft.sources.Bronze.productSchema).json(pristine.toString)
    val silverSchema = StructType(graft.sources.Bronze.productSchema.fields ++ Seq(
      StructField("item_id", LongType), StructField("sentiment", BooleanType)))
    val silver = spark.read.schema(silverSchema).json(
      Inputs.filesUnder(d.base.resolve("silver"), ".json").map(_.toString): _*)
    val planted = (floor((col("item_id") - 1) / 25) % 10) === 9
    val signal = col("description").contains("fast") && !col("description").contains("slow")
    val s = silver.agg(count(lit(1)), sum(when(col("sentiment").isNull, 1).otherwise(0)),
        sum(when(planted, 1).otherwise(0)),
        sum(when(col("sentiment").isNull =!= planted, 1).otherwise(0)),
        sum(when(col("sentiment").isNotNull && col("sentiment") =!= signal, 1).otherwise(0)))
      .head()
    res.check("silver_rows_equal_bronze", s.getLong(0) == rows, s"silver ${s.getLong(0)} of $rows")
    res.check("nulls_equal_planted_faults", s.getLong(1) == s.getLong(2) && s.getLong(3) == 0,
      s"null ${s.getLong(1)}, planted ${s.getLong(2)}, mismatched ${s.getLong(3)}")
    res.check("sentiment_matches_signal", s.getLong(4) == 0, s"${s.getLong(4)} wrong")
    // The file source archives a batch's files when it plans the next
    // batch, so a drain leaves exactly the last batch's files queued.
    val archived = Inputs.filesUnder(d.base.resolve("archive"), ".json").map(_.getFileName.toString)
    val left = Inputs.filesUnder(d.src, ".json").map(_.getFileName.toString).toSet
    val last = d.progress.lastOption.toSeq.flatMap(p => graft.streaming.FileQueue.batchSourceFiles(
      spark, d.base.resolve("ckpt").toString, p.batchId)).map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    res.check("bronze_archived", archived.size + left.size == files && left == last,
      s"archived ${archived.size} of $files; ${left.size} queued, ${last.size} in the last batch")
    val keys = bronze.agg(collect_set("id"), collect_set("shop_id"), collect_set("date")).head()
    Seq(("user_kpis", "id", 0), ("shop_kpis", "shop_id", 1), ("date_kpis", "day", 2))
      .foreach { case (table, key, i) =>
        val served = column(d.url, s"SELECT $key FROM $table")
        val want = keys.getSeq[String](i).toSet
        res.check(s"serving_keys_$table", served == want,
          s"${served.size} served, ${want.size} expected, ${(want -- served).size} missing")
      }
  }
}
