package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.commons.text.StringEscapeUtils

import graft.serving.MockServing

/** In-process OpenAI-compatible endpoint (`/v1/chat/completions`,
  * `/v1/embeddings`) whose replies are [[MockServing]]'s deterministic
  * functions, so every served column is checkable.
  *
  * A reply leaves after a fixed service time, scheduled on one timer
  * thread; the handler threads never sleep, so the stub's capacity does
  * not cap the client's concurrency. Every `RejectEvery`-th request of a
  * pass gets a 429 unless it retries an earlier rejection, which exercises
  * the client's retry with the same count on every pass. Handler threads plus the timer use at
  * most `threads` threads.
  *
  * `sun.net.httpserver.nodelay` must be true before the first server is
  * created: with Nagle's algorithm on, each response stalls ~40 ms and the
  * benchmark would time the stub instead of the client. */
final class Stub(threads: Int) {
  import Stub._

  require(System.getProperty("sun.net.httpserver.nodelay") == "true",
    "set -Dsun.net.httpserver.nodelay=true before starting the stub")
  private val mock = MockServing()

  private def daemon(name: String): ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, name); t.setDaemon(true); t
  }
  private val handlers = Executors.newFixedThreadPool(math.max(1, threads - 1), daemon("stub-handler"))
  private val timer = Executors.newSingleThreadScheduledExecutor(daemon("stub-timer"))
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 512)

  val requests = new AtomicLong()
  val retries = new AtomicLong()
  val failed = new AtomicLong()
  private val seen = ConcurrentHashMap.newKeySet[String]()
  private val passRequests = new AtomicLong()

  // in-flight bookkeeping: time-integral of the in-flight count, and the
  // time with at least one request in flight
  private var inflight = 0
  private var lastNs = System.nanoTime()
  private var inflightNs = 0.0
  private var busyNs = 0L
  private def move(delta: Int): Unit = synchronized {
    val now = System.nanoTime()
    inflightNs += inflight.toDouble * (now - lastNs)
    if (inflight > 0) busyNs += now - lastNs
    lastNs = now
    inflight += delta
  }

  /** (requests, retries, failed, in-flight·ns, busy ns) so far. */
  def snapshot(): (Long, Long, Long, Double, Long) = {
    move(0)
    synchronized((requests.get, retries.get, failed.get, inflightNs, busyNs))
  }

  /** Restarts the per-pass request count that picks the rejections. */
  def newPass(): Unit = { seen.clear(); passRequests.set(0) }

  private val Content = java.util.regex.Pattern.compile(""""content"\s*:\s*"((?:[^"\\]|\\.)*)"""")
  private val Str = java.util.regex.Pattern.compile(""""((?:[^"\\]|\\.)*)"""")

  private def esc(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def chat(body: String): String = {
    val m = Content.matcher(body)
    val parts = Iterator.continually(m).takeWhile(_.find()).map(x => StringEscapeUtils.unescapeJson(x.group(1))).toVector
    require(parts.length == 2, s"expected system and user messages, got ${parts.length}")
    val out = mock.generate(Seq(parts(1)), parts(0)).head
    s"""{"object":"chat.completion","choices":[{"index":0,"message":{"role":"assistant","content":"${esc(out)}"}}]}"""
  }

  private def embeddings(body: String): String = {
    val at = body.indexOf("\"input\"")
    require(at >= 0, "no input")
    val m = Str.matcher(body.substring(body.indexOf('[', at)))
    val texts = Iterator.continually(m).takeWhile(_.find()).map(x => StringEscapeUtils.unescapeJson(x.group(1))).toVector
    val data = mock.embed(texts).zipWithIndex.map { case (v, i) =>
      s"""{"object":"embedding","index":$i,"embedding":[${v.mkString(",")}]}"""
    }
    data.mkString("""{"object":"list","data":[""", ",", "]}")
  }

  private def handle(ex: HttpExchange, reply: String => String): Unit = {
    move(1)
    requests.incrementAndGet()
    val (code, out) =
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        if (passRequests.incrementAndGet() % RejectEvery == 0 && !seen.contains(body)) {
          seen.add(body)
          retries.incrementAndGet()
          (429, """{"error":{"message":"rate limited"}}""")
        } else (200, reply(body))
      } catch {
        case e: Exception =>
          failed.incrementAndGet()
          (500, s"""{"error":{"message":"${esc(String.valueOf(e.getMessage))}"}}""")
      }
    val bytes = out.getBytes("UTF-8")
    timer.schedule(new Runnable {
      def run(): Unit =
        try {
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(code, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        } catch { case _: java.io.IOException => failed.incrementAndGet() }
        finally { ex.close(); move(-1) }
    }, ServiceMs, TimeUnit.MILLISECONDS)
  }

  server.createContext("/v1/chat/completions", (ex: HttpExchange) => handle(ex, chat))
  server.createContext("/v1/embeddings", (ex: HttpExchange) => handle(ex, embeddings))
  server.setExecutor(handlers)
  server.start()

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions"

  def stop(): Unit = {
    server.stop(0)
    timer.shutdownNow()
    handlers.shutdownNow()
    timer.awaitTermination(5, TimeUnit.SECONDS)
    handlers.awaitTermination(5, TimeUnit.SECONDS)
  }
}

object Stub {
  /** Fixed service time of every reply. */
  val ServiceMs = 5L
  /** Every this many requests of a pass, one gets a 429. */
  val RejectEvery = 1000
}
