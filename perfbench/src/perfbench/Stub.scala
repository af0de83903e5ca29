package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** The seeded plan of the stub model: per scorer batch, the service
  * time of each attempt and the attempts that fail.
  *
  * Batches come in blocks of 20. In every block, exactly 4 batches are
  * slow, 1 fails on every attempt (a permanent fault) and 3 fail on
  * their first one or two attempts (transient faults); the seed picks
  * which. Fixing the counts per block keeps the total service time and
  * the fault rate the same for every seed, so seeds vary the layout of
  * slow calls across waves, not the amount of work. */
final case class Schedule(seed: Long, shortMs: Int = 8, longMs: Int = 60) {
  val BlockSize = 20
  val Attempts = 4 // one call plus Enrich's three retries

  sealed trait Fault
  case object Ok extends Fault
  case object ServerError extends Fault
  case object Malformed extends Fault
  case object Short extends Fault

  private def mix(a: Long, b: Long, c: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L ^ b * 0xC2B2AE3D27D4EB4FL ^ c * 0x165667B19E3779F9L
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
    h ^ (h >>> 33)
  }

  /** Role of batch `bid` in its block: the seeded rank of its position. */
  private def rank(bid: Long): Int = {
    val block = java.lang.Math.floorDiv(bid, BlockSize.toLong)
    val pos = java.lang.Math.floorMod(bid, BlockSize.toLong).toInt
    val keys = (0 until BlockSize).map(p => (mix(seed, block, p), p)).sorted
    keys.indexWhere(_._2 == pos)
  }

  def slow(bid: Long): Boolean = rank(bid) < 4
  def permanent(bid: Long): Boolean = rank(bid) == 4
  /** Attempts that fail before the batch succeeds (0 when healthy). */
  def transientFailures(bid: Long): Int = rank(bid) match {
    case 5 | 6 => 1
    case 7 => 2
    case _ => 0
  }

  def fault(bid: Long, attempt: Int): Fault =
    if (!permanent(bid) && attempt > transientFailures(bid)) Ok
    else java.lang.Math.floorMod(mix(seed, bid, 1000L + attempt), 3L) match {
      case 0 => ServerError
      case 1 => Malformed
      case _ => Short
    }

  /** Failing attempts answer fast; successful ones take the model time. */
  def serviceMs(bid: Long, attempt: Int): Int =
    if (fault(bid, attempt) != Ok) shortMs / 2
    else if (slow(bid)) longMs else shortMs

  def summary: String =
    s"blocks of $BlockSize batches: 4 slow (${longMs}ms), 16 fast (${shortMs}ms); " +
      "1 permanent fault, 3 transient (1, 1, 2 failed attempts); " +
      "faults are HTTP 503, malformed content or a short answer"
}

/** In-process OpenAI-compatible `/v1/chat/completions` stub. Answers
  * `sentiment = review mentions "good"` for every prompt item after the
  * scheduled service time, or the scheduled fault. Serves every request
  * on its own thread, so it never serialises the client's window. */
final class Stub(val schedule: Schedule, batchSize: Int) {
  private val server = {
    // a model server answers small JSON bodies; without TCP_NODELAY each
    // answer waits out the client's delayed ACK (about 40 ms on Linux)
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  }
  private val attempts = new ConcurrentHashMap[Long, AtomicInteger]()
  private val inflight = new AtomicInteger(0)
  val maxInflight = new AtomicInteger(0)
  val requests = new AtomicLong(0)
  val serviceMsTotal = new AtomicLong(0)
  private val pool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => { val t = new Thread(r, "perfbench-stub"); t.setDaemon(true); t })

  // the prompt sits JSON-escaped in the body: each item ends in a literal \n
  private val Item = "id : (\\d+) , review : (.*?) \\\\n".r

  server.createContext("/v1/chat/completions", (ex: HttpExchange) => {
    // in flight from request receipt until the answer starts; counting
    // up to close() would overlap the client's next request
    val now = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(now, math.max)
    var busy = true
    try {
      val req = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val items = Item.findAllMatchIn(req).map(m =>
        (m.group(1).toLong, m.group(2).contains("good"))).toList
      val bid = (items.map(_._1).min - 1) / batchSize
      val attempt = attempts.computeIfAbsent(bid, _ => new AtomicInteger(0)).incrementAndGet()
      val ms = schedule.serviceMs(bid, attempt)
      requests.incrementAndGet()
      serviceMsTotal.addAndGet(ms)
      Thread.sleep(ms)
      def answer(xs: List[(Long, Boolean)]): String = {
        val s = xs.map { case (id, good) => s"""{\\"item_id\\": $id, \\"sentiment\\": $good}""" }
        s"""{"choices":[{"message":{"role":"assistant","content":"{\\"sentiments\\": [${s.mkString(",")}]}"}}]}"""
      }
      val (code, body) = schedule.fault(bid, attempt) match {
        case schedule.Ok => (200, answer(items))
        case schedule.ServerError => (503, """{"error":"overloaded"}""")
        case schedule.Malformed =>
          (200, """{"choices":[{"message":{"role":"assistant","content":"{\"sentiments\": [{\"item_id\""}}]}""")
        case schedule.Short => (200, answer(items.dropRight(1)))
      }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      inflight.decrementAndGet()
      busy = false
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
    } finally {
      if (busy) inflight.decrementAndGet()
      ex.close()
    }
  })
  server.setExecutor(pool)
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1"

  /** Attempts seen per scorer batch id. */
  def attemptsOf(bid: Long): Int = Option(attempts.get(bid)).map(_.get).getOrElse(0)

  def reset(): Unit = {
    attempts.clear(); maxInflight.set(0); requests.set(0); serviceMsTotal.set(0)
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
