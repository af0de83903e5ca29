package perfbench

import graft.operators.{Enrich, EnrichConfig, OpenAiCompatScorer, Scorer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.jdk.CollectionConverters._

/** `enrich_http`: `Enrich.enrich` with `OpenAiCompatScorer` over HTTP
  * against the in-process stub, at the reference operating point (batch
  * 25, in flight 4, one enrich task). Each round is one enrich call over
  * fresh item ids, so every scorer batch meets its own scheduled service
  * times and faults exactly once. */
object EnrichHttp {
  val BatchSize = 25
  val RoundItems = 500
  /** Rounds per second of --seconds, sized to the stub's mean service time. */
  val RoundsPerSecond = 3
  val WarmRounds = 2
  private val WarmBase = 1000000000L

  final case class Round(items: Seq[Row]) {
    lazy val byId: Map[Long, String] = items.map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  def cfg: EnrichConfig = EnrichConfig(batchSize = BatchSize, inflight = 4)

  def rounds(spark: SparkSession, seed: Long, n: Int, base: Long): Seq[Round] =
    Inputs.reviews(spark, seed, base + 1, n.toLong * RoundItems).orderBy("item_id").collect()
      .toSeq.grouped(RoundItems).toSeq
      .map(Round(_))

  private def frame(spark: SparkSession, r: Round): DataFrame =
    spark.createDataFrame(r.items.asJava, Inputs.reviews(spark, 0, 1, 1).schema)

  /** One enrich call; returns its wall seconds and its (item_id → sentiment). */
  def call(spark: SparkSession, r: Round, scorer: Scorer): (Double, Map[Long, Option[Boolean]]) = {
    val items = frame(spark, r)
    val t0 = Clock.ms
    val out = Enrich.enrich(items, scorer, cfg).collect()
    val wall = (Clock.ms - t0) / 1000.0
    (wall, out.map(o => o.getLong(0) -> (if (o.isNullAt(1)) None else Some(o.getBoolean(1)))).toMap)
  }

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val nRounds = math.max(4, a.seconds * RoundsPerSecond)
    val t0 = Clock.ms
    val rs = rounds(spark, a.seed, nRounds, 0L)
    res.setup("gen_s") = (Clock.ms - t0) / 1000.0
    val schedule = Schedule(a.seed)
    // the inputs are the items and the stub's plan for every batch of them
    val plan = (0L until nRounds.toLong * RoundItems / BatchSize).map(b =>
      (schedule.slow(b), schedule.permanent(b), schedule.transientFailures(b),
        (1 to schedule.Attempts).map(schedule.fault(b, _))))
    val digest = java.util.Arrays.hashCode(
      Array[AnyRef](rs.flatMap(_.items.map(_.mkString("\u0001"))), plan))
    res.inputs("items") = nRounds.toLong * RoundItems
    res.inputs("rounds") = nRounds
    res.inputs("round_items") = RoundItems
    res.inputs("digest") = digest.toString
    res.inputs("stub_schedule") = schedule.summary
    if (a.genOnly) return

    val ts = Clock.ms
    val stub = new Stub(schedule, BatchSize)
    res.setup("stub_s") = (Clock.ms - ts) / 1000.0
    try {
      val scorer = OpenAiCompatScorer(stub.baseUrl, "stub-model",
        "You are a sentiment classifier.", reviewCol = "review")
      val tw = Clock.ms
      rounds(spark, a.seed, WarmRounds, WarmBase).foreach(call(spark, _, scorer))
      res.setup("warm_s") = (Clock.ms - tw) / 1000.0
      stub.reset()

      // with --trace 1 the same rounds run with the tracer attached and
      // the scorer behind the timing decorator
      val tracer = if (a.trace) Some(new Tracer) else None
      val probe = new JvmProbe
      ScorerLog.calls.clear()
      val spans = new SpanLog
      var results: Seq[(Round, Double, Map[Long, Option[Boolean]])] = Nil
      val wall = Main.measure(spark, tracer) {
        results = rs.zipWithIndex.map { case (r, i) =>
          val id = s"call-$i"
          spark.sparkContext.setLocalProperty(Tracer.SpanKey, id)
          val s0 = Clock.ms
          val (w, out) = call(spark, r, if (a.trace) TimedScorer(scorer) else scorer)
          spans.add(Span(id, id, "workload", s"enrich call $i", s0, Clock.ms))
          res.op(true)
          (r, w, out)
        }
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
      }
      val walls = results.map(_._2)
      val items = nRounds.toLong * RoundItems
      res.metrics("enrich_items_per_s") = items / walls.sum
      res.metrics("throughput_per_s") = items / walls.sum
      res.metrics("op_p50_s") = Main.median(walls)
      res.metrics("op_geomean_s") = Main.geomean(walls)
      res.metrics("measured_s") = walls.sum
      Tracer.tail(walls).foreach { case (p, v) =>
        res.metrics("op_tail_s") = v
        res.extra("op_tail_percentile") = p
      }
      res.extra("stub_requests") = stub.requests.get
      res.extra("stub_max_inflight") = stub.maxInflight.get
      check(res, results, stub)

      tracer.foreach { tr =>
        val calls = spans.spans.toList
        spans.add(Span("workload", "enrich_http", "", "workload enrich_http",
          calls.head.start, calls.last.end))
        Main.commonLayers(res, spark, tr, probe, spans, wall, "enrich_http", _ => "workload")
        Main.scorerLayers(res, tr, cfg.inflight * spark.sessionState.conf.numShufflePartitions)
        res.layers("stub.max_inflight") = stub.maxInflight.get
        res.layers("stub.service_ms") = stub.serviceMsTotal.get.toDouble / math.max(1L, stub.requests.get)
        val covered = calls.map { c =>
          Tracer.covered(tr.finishedJobs.filter(_.span.contains(c.id)).map(j => (j.start, j.end)))
        }.sum
        res.layers("trace.unattributed_ratio") = 1 - covered / calls.map(_.dur).sum
        spans.write(a.spans)
      }
    } finally stub.stop()
  }

  /** Null-filled items are exactly the planted permanent faults, every
    * other item carries the stub's answer, and every batch was tried as
    * often as its faults require: once when healthy, once more per
    * transient fault, and 1 + 3 retries when permanently failing. */
  private def check(res: Result, results: Seq[(Round, Double, Map[Long, Option[Boolean]])],
                    stub: Stub): Unit = {
    val s = stub.schedule
    var wrong, missingRows, badAttempts, nulls, planted = 0L
    results.foreach { case (r, _, out) =>
      if (out.size != r.items.size) missingRows += math.abs(r.items.size - out.size)
      r.byId.foreach { case (id, review) =>
        val bid = (id - 1) / BatchSize
        val want = if (s.permanent(bid)) None else Some(review.contains("good"))
        if (s.permanent(bid)) planted += 1
        if (out.get(id).flatten.isEmpty && out.contains(id)) nulls += 1
        if (!out.get(id).contains(want)) wrong += 1
      }
      r.byId.keys.map(id => (id - 1) / BatchSize).toSet.foreach { (bid: Long) =>
        val want = if (s.permanent(bid)) s.Attempts else 1 + s.transientFailures(bid)
        if (stub.attemptsOf(bid) != want) badAttempts += 1
      }
    }
    res.check("rows_returned", missingRows == 0, s"$missingRows rows missing")
    res.check("nulls_equal_planted_faults", nulls == planted && wrong == 0,
      s"$nulls null-filled, $planted planted, $wrong items differ from the stub's answer")
    res.check("transient_faults_retried", badAttempts == 0,
      s"$badAttempts batches tried a different number of times than their faults require")
  }
}
