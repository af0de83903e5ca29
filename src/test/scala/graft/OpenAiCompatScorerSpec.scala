package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.operators.{Enrich, EnrichConfig, OpenAiCompatScorer}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

/** The production HTTP scorer against an in-process stub
  * chat-completions server (no network): request contract (prompt shape,
  * strict json_schema response_format, auth header), response parsing,
  * HTTP failure → Failure, timeout → Failure, and end-to-end recovery
  * through Enrich's retry loop. */
class OpenAiCompatScorerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Start a one-route stub server; `handler` maps the raw request body
    * to (status, responseBody). With `threads` > 1 the server answers
    * that many requests at once; by default its dispatcher thread
    * serves them one at a time. `f` gets the base URL. */
  private def withServer(handler: String => (Int, String), threads: Int = 1)(
      f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val pool = Option.when(threads > 1)(Executors.newFixedThreadPool(threads))
    pool.foreach(server.setExecutor)
    requests.clear()
    server.createContext("/v1/chat/completions", (ex: HttpExchange) => {
      val req = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      lastRequest = Some((ex.getRequestHeaders.getFirst("Authorization"), req))
      requests.add(req)
      val (status, body) = handler(req)
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/v1")
    finally { server.stop(0); pool.foreach(_.shutdownNow()) }
  }

  @volatile private var lastRequest: Option[(String, String)] = None
  private val requests = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A well-formed completion echoing each id with sentiment = id even. */
  private def completionFor(req: String): String = {
    // ids appear in the user prompt as " id : <n> , review : ..."
    val prompt = (JsonMethods.parse(req) \ "messages") match {
      case JArray(ms) => ms.collectFirst {
        case m if (m \ "role") == JString("user") =>
          (m \ "content").asInstanceOf[JString].s
      }.getOrElse("")
      case _ => ""
    }
    val ids = "id : (\\d+) ,".r.findAllMatchIn(prompt).map(_.group(1).toLong).toList
    val sentiments = ids.map(id =>
      s"""{"item_id": $id, "sentiment": ${id % 2 == 0}}""").mkString(",")
    val content = s"""{"sentiments": [$sentiments]}"""
    JsonMethods.compact(JsonMethods.render(JObject(
      "choices" -> JArray(List(JObject(
        "message" -> JObject(
          "role" -> JString("assistant"),
          "content" -> JString(content))))))))
  }

  private def items(n: Int) =
    (1 to n).map(i => (i.toLong, s"review text $i")).toDF("item_id", "review")

  private def scorer(baseUrl: String, timeoutMs: Int = 5000) =
    OpenAiCompatScorer(baseUrl, "test-model", "You are a sentiment classifier.",
      timeoutMs = timeoutMs)

  test("happy path: ids echoed by the server land as sentiments; request honors the contract") {
    withServer(req => (200, completionFor(req))) { base =>
      val out = Enrich.enrich(items(5), scorer(base), EnrichConfig(batchSize = 5))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(out == (1 to 5).map(i => i.toLong -> (i % 2 == 0)).toMap)
      val (auth, req) = lastRequest.get
      assert(auth == "Bearer key")
      val body = JsonMethods.parse(req)
      assert((body \ "model") == JString("test-model"))
      assert((body \ "response_format" \ "type") == JString("json_schema"))
      assert((body \ "response_format" \ "json_schema" \ "strict") == JBool(true))
      assert((body \ "response_format" \ "json_schema" \ "schema" \ "properties" \
        "sentiments" \ "minItems") == JInt(5))
      // the reference's exact prompt shape (tools.py:51-64)
      val prompt = (body \ "messages")(1) \ "content"
      assert(prompt.asInstanceOf[JString].s.startsWith("items :\n id : 1 , review : review text 1 \n"))
    }
  }

  test("a short TAIL batch pins the schema to the tail's size, not the configured 25") {
    withServer(req => (200, completionFor(req))) { base =>
      // 7 items, batchSize 5 → tail batch of 2; both must come back scored
      val out = Enrich.enrich(items(7), scorer(base), EnrichConfig(batchSize = 5))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(out.size == 7)
      // batches run on concurrent tasks — find the tail's request by its
      // 2-id prompt rather than assuming arrival order
      import scala.jdk.CollectionConverters._
      val byItems = requests.asScala.toSeq.map { req =>
        val prompt = ((JsonMethods.parse(req) \ "messages")(1) \ "content")
          .asInstanceOf[JString].s
        "id : (\\d+) ,".r.findAllMatchIn(prompt).size -> req
      }.toMap
      assert(byItems.keySet == Set(5, 2), byItems.keys)
      val mm = JsonMethods.parse(byItems(2)) \ "response_format" \ "json_schema" \
        "schema" \ "properties" \ "sentiments"
      assert((mm \ "minItems") == JInt(2) && (mm \ "maxItems") == JInt(2), mm)
    }
  }

  test("HTTP 500 every time degrades the batch to null-fill through Enrich") {
    withServer(_ => (500, """{"error": "boom"}""")) { base =>
      val out = Enrich.enrich(items(5), scorer(base),
        EnrichConfig(batchSize = 5, retries = 1))
        .collect().map(r => r.isNullAt(1))
      assert(out.length == 5 && out.forall(identity))
    }
  }

  test("flaky server: first call 500, second OK — Enrich's retry recovers the batch") {
    val calls = new AtomicInteger(0)
    withServer { req =>
      if (calls.incrementAndGet() == 1) (500, "transient") else (200, completionFor(req))
    } { base =>
      val out = Enrich.enrich(items(5), scorer(base),
        EnrichConfig(batchSize = 5, retries = 2))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(out(2L) && !out(3L))
      assert(calls.get() == 2)
    }
  }

  test("malformed content (invalid JSON) is a Failure, not a crash") {
    withServer { _ =>
      (200, JsonMethods.compact(JsonMethods.render(JObject(
        "choices" -> JArray(List(JObject(
          "message" -> JObject("content" -> JString("not json at all")))))))))
    } { base =>
      val out = Enrich.enrich(items(5), scorer(base),
        EnrichConfig(batchSize = 5, retries = 0))
        .collect().map(_.isNullAt(1))
      assert(out.forall(identity))
    }
  }

  test("a server slower than the timeout is a Failure (read timeout, not a hang)") {
    withServer { req => Thread.sleep(2000); (200, completionFor(req)) } { base =>
      val t0 = System.nanoTime()
      val result = scorer(base, timeoutMs = 200)
        .score(0L, items(5).collect().toSeq, attempt = 1)
      assert(result.isFailure)
      assert((System.nanoTime() - t0) / 1e9 < 5.0)
    }
  }

  test("timeoutMs bounds the WHOLE attempt, not each phase separately") {
    // Headers arrive within the budget and every between-chunk gap is
    // short, so per-phase connect/read timeouts would all pass — only a
    // whole-attempt deadline can fail this server, which takes ~600ms
    // total against a 400ms budget. (Without it, one attempt can run
    // ~3x timeoutMs and outlive Enrich's hung-scorer backstop.)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat/completions", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      Thread.sleep(300) // headers after 300ms — under a 400ms read timeout
      ex.sendResponseHeaders(200, 0) // chunked
      val out = ex.getResponseBody
      val body = completionFor("").getBytes(StandardCharsets.UTF_8)
      out.write(body, 0, 1); out.flush()
      Thread.sleep(150) // each gap well under any per-read timeout
      out.write(body, 1, 1); out.flush()
      Thread.sleep(150)
      out.write(body, 2, body.length - 2)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/v1"
      val t0 = System.nanoTime()
      val result = scorer(base, timeoutMs = 400)
        .score(0L, items(2).collect().toSeq, attempt = 1)
      assert(result.isFailure,
        "an attempt whose phases each fit the budget but whose total exceeds it must fail")
      assert((System.nanoTime() - t0) / 1e9 < 3.0)
    } finally server.stop(0)
  }

  test("the in-flight window OVERLAPS requests: 4-deep beats sequential on one task") {
    // The §2.9 concurrency claim as a regression gate: 8 batches of 25
    // on ONE task against a server whose only cost is 120 ms of
    // simulated inference — sequential pays 8 × 120 ms, a
    // genuinely-overlapping 4-deep window pays ~2 waves. A window that
    // silently serialized (e.g. a one-thread pool or a blocking submit)
    // fails the 0.7 ratio regardless of JIT noise. The server answers
    // 8 requests at once, so it is never the serialization point.
    withServer(req => { Thread.sleep(120); (200, completionFor(req)) }, threads = 8) { base =>
      // fresh session conf: shuffle partitions = 1 pins the whole corpus
      // onto one task, the reference's single-process shape — total
      // concurrency is then exactly the in-flight window under test
      val s1 = spark.newSession()
      s1.conf.set("spark.sql.shuffle.partitions", "1")
      import s1.implicits._
      val one = (1 to 200).map(i => (i.toLong, s"review text $i"))
        .toDF("item_id", "review")
      def wall(inflight: Int): Double = {
        requests.clear()
        val t0 = System.nanoTime()
        val out = Enrich.enrich(one, scorer(base),
          EnrichConfig(batchSize = 25, inflight = inflight))
        assert(out.filter(out("sentiment").isNotNull).count() == 200)
        assert(requests.size == 8, s"expected 8 batch calls, saw ${requests.size}")
        (System.nanoTime() - t0) / 1e9
      }
      val seq = wall(1) // runs first: any JIT warm-up inflates the SLOW side
      val four = wall(4)
      assert(four < seq * 0.7,
        f"in-flight 4 took $four%.2fs vs sequential $seq%.2fs — the window is not overlapping requests")
    }
  }
}
