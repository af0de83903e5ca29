package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.operators.{EnrichConfig, OpenAiCompatScorer}
import graft.streaming.EtlPipeline
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.concurrent.duration.Duration

/** The full streaming pipeline against a MISBEHAVING model server —
  * the failure matrix the reference hits in production (its enrichment
  * pass ran for 7 days against a live LLM; `enricher.go:89-163` is
  * mostly error handling):
  *
  *  - one batch's requests HANG past the scorer timeout (server sleeps;
  *    client read times out, every retry);
  *  - one batch returns HTTP 200 with MALFORMED content (not the
  *    Response JSON), every retry;
  *  - everything else answers correctly.
  *
  * Asserted: the trigger still completes; exactly the two poisoned
  * batches null-fill while every other row scores correctly; and the
  * JDBC serving leg is idempotent — replaying the identical bronze data
  * through a fresh pipeline (same store) leaves the served tables
  * byte-identical, the contract that makes crash-replay safe.
  */
class EtlFailureInjectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def productJson(i: Int): String = {
    val desc =
      if (i % 3 == 0) "very fast gadget" else if (i % 3 == 1) "slow widget" else "plain thing"
    s"""{"product_name":"p$i","price":${10.0 + i},"quantity":1,"category":"c","description":"$desc",""" +
      s""""availability":true,"discount_percentage":0.0,"date":"2024-01-0${i % 9 + 1}",""" +
      s""""id":"user_${i % 4}","shop_id":"shop_${i % 3}"}"""
  }

  /** item_id range whose batch the server hangs on (batch 1 of 5). */
  private val HangIds = 6L to 10L
  /** item_id range whose batch gets malformed content (batch 2 of 5). */
  private val MalformedIds = 11L to 15L

  /** Stub chat-completions server. Per request: extract the batch's
    * (id, review) pairs from the user prompt, then — keyed on the ids,
    * so retries of a poisoned batch stay poisoned — hang, corrupt, or
    * answer with sentiment = review mentions "fast" and never "slow"
    * (the same signal the deterministic pipeline uses). Stateless, so a
    * replay of the same data sees identical behavior. */
  private def withServer(scorerTimeoutMs: Int)(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // hung handlers must not block the healthy batches' requests
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/v1/chat/completions", (ex: HttpExchange) => {
      val req = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val prompt = (JsonMethods.parse(req) \ "messages") match {
        case JArray(ms) => ms.collectFirst {
          case m if (m \ "role") == JString("user") =>
            (m \ "content").asInstanceOf[JString].s
        }.getOrElse("")
        case _ => ""
      }
      val items = "id : (\\d+) , review : (.*?) \n".r
        .findAllMatchIn(prompt).map(m => (m.group(1).toLong, m.group(2))).toList
      val ids = items.map(_._1).toSet
      val body =
        if (ids.exists(MalformedIds.contains)) """{"choices": [{"message"""
        else {
          if (ids.exists(HangIds.contains)) Thread.sleep(scorerTimeoutMs * 4L)
          val sentiments = items.map { case (id, review) =>
            val s = review.contains("fast") && !review.contains("slow")
            s"""{"item_id": $id, "sentiment": $s}"""
          }.mkString(",")
          JsonMethods.compact(JsonMethods.render(JObject(
            "choices" -> JArray(List(JObject(
              "message" -> JObject(
                "role" -> JString("assistant"),
                "content" -> JString(s"""{"sentiments": [$sentiments]}"""))))))))
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/v1")
    finally server.stop(0)
  }

  private def createServingTables(url: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        st.execute(
          "CREATE TABLE user_kpis (id VARCHAR(64) NOT NULL PRIMARY KEY, average_spent DOUBLE, " +
            "positive_reviews BIGINT, negative_reviews BIGINT, likeness_score DOUBLE, " +
            "normalized_likeness_score DOUBLE)")
        st.execute(
          "CREATE TABLE shop_kpis (shop_id VARCHAR(64) NOT NULL PRIMARY KEY, average_profit DOUBLE, " +
            "positive_reviews BIGINT, negative_reviews BIGINT, likeness_score DOUBLE, " +
            "normalized_likeness_score DOUBLE)")
        st.execute(
          "CREATE TABLE date_kpis (day VARCHAR(10) NOT NULL PRIMARY KEY, " +
            "average_profit_per_day DOUBLE)")
      } finally st.close()
    } finally conn.close()
  }

  /** Full (key → row) snapshot of one served table. */
  private def snapshot(url: String, table: String): Map[String, Seq[Any]] =
    spark.read.jdbc(url, table, new java.util.Properties)
      .collect().map(r => r.getString(0) -> r.toSeq.tail.toSeq).toMap

  test("hang + malformed batches null-fill, the trigger completes, and JDBC replay is idempotent") {
    val base = Files.createTempDirectory("graft_etl_fail_").toString
    val url = "jdbc:derby:memory:graftetlfail;create=true"
    createServingTables(url)
    val scorerTimeoutMs = 700

    def runOnce(tag: String): Unit = withServer(scorerTimeoutMs) { baseUrl =>
      val bronze = s"$base/$tag/bronze/new"
      new java.io.File(bronze).mkdirs()
      // 30 rows, one file → one micro-batch → 6 enrich batches of 5
      Files.write(java.nio.file.Paths.get(bronze, "d1.json"),
        (0 until 30).map(productJson).mkString("\n").getBytes)
      val q = EtlPipeline.start(spark, bronze, s"$base/$tag/archive", s"$base/$tag/silver",
        s"$base/$tag/gold", s"$base/$tag/ckpt",
        OpenAiCompatScorer(baseUrl, "test-model", "Classify sentiment.",
          reviewCol = "description", timeoutMs = scorerTimeoutMs),
        EnrichConfig(batchSize = 5, retries = 1, timeout = Duration("3s")),
        servingUrl = Some(url))
      assert(q.awaitTermination(180000),
        s"$tag: trigger did not complete under injected failures")
    }

    runOnce("run1")

    import org.apache.spark.sql.functions._
    val silver = spark.read.json(s"$base/run1/silver/batch_0")
    assert(silver.count() == 30)
    // exactly the hung batch and the malformed batch null-fill
    val nullIds = silver.filter(col("sentiment").isNull)
      .select("item_id").collect().map(_.getLong(0)).toSet
    assert(nullIds == (HangIds ++ MalformedIds).toSet,
      s"wrong null-filled ids: $nullIds")
    // every surviving row carries the model's verdict for ITS review
    val wrong = silver.filter(col("sentiment").isNotNull &&
      col("sentiment").cast("boolean") =!=
        (col("description").contains("fast") && !col("description").contains("slow")))
    assert(wrong.isEmpty, s"mis-scored rows: ${wrong.collect().mkString(", ")}")

    // the serving store matches gold for the shared table...
    val goldUsers = spark.read.parquet(s"$base/run1/gold/user_kpis")
      .select(col("id"), col("average_spent").cast("double"), col("positive_reviews"),
        col("negative_reviews"), col("likeness_score"), col("normalized_likeness_score"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail.toSeq).toMap
    val after1 = Seq("user_kpis", "shop_kpis", "date_kpis").map(t => t -> snapshot(url, t)).toMap
    assert(after1("user_kpis") == goldUsers,
      s"serving diverged from gold:\n gold=$goldUsers\n served=${after1("user_kpis")}")
    assert(after1("shop_kpis").nonEmpty && after1("date_kpis").nonEmpty)

    // ...and REPLAYING identical bronze data (fresh pipeline, same
    // store, same injected failures) changes nothing: the MERGE is a
    // keyed replace, so crash-replay converges instead of double-counting
    runOnce("run2")
    val after2 = Seq("user_kpis", "shop_kpis", "date_kpis").map(t => t -> snapshot(url, t)).toMap
    assert(after2 == after1,
      s"serving store not idempotent under replay:\n before=$after1\n after=$after2")
  }
}
