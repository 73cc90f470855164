package graft.serving

/** Serving abstraction — the engine-side contract of the reference's
  * `LLMServingABC.generate_from_input(user_inputs, system_prompt)`
  * (`dataflow/core/llm_serving.py:5-9`). DataFrame operators call it
  * only through [[LLMMap]]'s per-partition kernel, which deserializes one
  * client per task and checks that every call returns one output per
  * input, in order — the whole LLM-operator family reduces to
  * `Seq[String] => Seq[String]`.
  */
trait ServingClient extends Serializable {
  /** Generate one response per prompt, order-preserving. */
  def generate(prompts: Seq[String], systemPrompt: String): Seq[String]

  /** Embed texts into fixed-dim vectors, order-preserving. */
  def embed(texts: Seq[String]): Seq[Array[Double]]

  def embeddingDim: Int = 16
}

/** Deterministic mock serving — the hermetic test double mirroring the
  * reference's OpenAI-compatible Flask `dummy_server`
  * (`test/dummy_server/app.py:17-40`). Response shape is a pure function
  * of (systemPrompt, prompt), so every LLM-backed operator is
  * reproducible and oracle-checkable:
  *   - system starts with "JUDGE" → "yes" when prompt length is even
  *   - system starts with "SCORE" → (len(prompt) mod 100) / 10.0
  *   - otherwise                  → "echo[<system>]:<prompt>"
  */
final case class MockServing(dim: Int = 16) extends ServingClient {
  override def embeddingDim: Int = dim

  def generate(prompts: Seq[String], systemPrompt: String): Seq[String] =
    prompts.map { p =>
      if (systemPrompt.startsWith("JUDGE"))
        if (p.length % 2 == 0) "yes" else "no"
      else if (systemPrompt.startsWith("SCORE"))
        ((p.length % 100) / 10.0).toString
      else if (systemPrompt.startsWith("SFTSEED"))
        // JSON-emitting ops need a parseable body (prompt must be
        // JSON-safe; oracles use plain-token seeds)
        s"""{"instruction":"$p","output":"ans:$p"}"""
      else s"echo[$systemPrompt]:$p"
    }

  /** v_i = ((hash32(text) + 31 i) mod 1000) / 1000 — integer arithmetic
    * then one exact division, portable to any SQL oracle. */
  def embed(texts: Seq[String]): Seq[Array[Double]] =
    texts.map { t =>
      val h = MockServing.hash32(t)
      Array.tabulate(dim)(i => ((h + 31L * i) % 1000L).toDouble / 1000.0)
    }
}

object MockServing {
  /** First 8 hex chars of md5 as a long — same as
    * [[graft.functions.text.wordHash32]] but computed JVM-side. */
  def hash32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }
}

/** OpenAI-compatible HTTP serving with a bounded-concurrency pool and
  * retry — the Spark analogue of the reference's threaded API client
  * (`serving/api_llm_serving_request.py:14-251`: max_workers=10,
  * max_retries=5, timeouts 10s/120s). One instance per partition; callers
  * batch prompts per partition so connection reuse amortizes.
  *
  * Zero-egress environments exercise [[MockServing]] instead; this client
  * is the production path and is deliberately dependency-free
  * (java.net.http + minimal JSON assembly/extraction).
  */
final case class HttpServing(endpoint: String, model: String,
    apiKeyEnv: String = "LLM_API_KEY", maxWorkers: Int = 10,
    maxRetries: Int = 5, connectTimeoutSec: Int = 10,
    readTimeoutSec: Int = 120, embedEndpoint: String = "") extends ServingClient {

  @transient private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(connectTimeoutSec.toLong))
    .build()
  // JVM-shared daemon pool: instances are deserialized once per task, so a
  // per-instance non-daemon pool would leak maxWorkers threads per task on
  // long-lived executors and block JVM exit.
  @transient private lazy val pool = HttpServing.sharedPool(maxWorkers)

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def requestOnce(prompt: String, systemPrompt: String): String = {
    val body =
      s"""{"model":"${jsonEscape(model)}","messages":[
         |{"role":"system","content":"${jsonEscape(systemPrompt)}"},
         |{"role":"user","content":"${jsonEscape(prompt)}"}]}""".stripMargin
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
      .timeout(java.time.Duration.ofSeconds(readTimeoutSec.toLong))
      .header("Content-Type", "application/json")
      .header("Authorization", s"Bearer ${sys.env.getOrElse(apiKeyEnv, "")}")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() >= 300)
      throw new java.io.IOException(s"serving HTTP ${resp.statusCode()}")
    // minimal extraction of choices[0].message.content
    val m = java.util.regex.Pattern
      .compile(""""content"\s*:\s*"((?:[^"\\]|\\.)*)"""")
      .matcher(resp.body())
    var last: String = null
    while (m.find()) last = m.group(1)
    if (last == null) throw new java.io.IOException("no content in response")
    org.apache.commons.text.StringEscapeUtils.unescapeJson(last)
  }

  private def withRetry[T](f: => T): T = {
    var attempt = 0
    var delay = 500L
    while (true) {
      try return f
      catch {
        case e: Exception =>
          attempt += 1
          if (attempt >= maxRetries) throw e
          Thread.sleep(delay); delay *= 2
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def generate(prompts: Seq[String], systemPrompt: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val tasks = prompts.map { p =>
      new java.util.concurrent.Callable[String] {
        def call(): String = withRetry(requestOnce(p, systemPrompt))
      }
    }
    pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
  }

  /** OpenAI-compatible embeddings call (`POST /v1/embeddings`, body
    * `{"model":..,"input":[..]}` → `data[i].embedding`). The endpoint
    * defaults to the chat endpoint with `chat/completions` swapped for
    * `embeddings`; override via `embedEndpoint`. */
  def embed(texts: Seq[String]): Seq[Array[Double]] = {
    val uri = if (embedEndpoint.nonEmpty) embedEndpoint
      else endpoint.replace("chat/completions", "embeddings")
    val body = texts.map(t => "\"" + jsonEscape(t) + "\"")
      .mkString(s"""{"model":"${jsonEscape(model)}","input":[""", ",", "]}")
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(uri))
      .timeout(java.time.Duration.ofSeconds(readTimeoutSec.toLong))
      .header("Content-Type", "application/json")
      .header("Authorization", s"Bearer ${sys.env.getOrElse(apiKeyEnv, "")}")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = withRetry {
      val r = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (r.statusCode() >= 300)
        throw new java.io.IOException(s"serving HTTP ${r.statusCode()}")
      r.body()
    }
    // Extract each data entry's "embedding" array AND its "index" field,
    // then order by index — the OpenAI contract allows data[] entries out
    // of order, and stream-order assignment would silently attach vectors
    // to the wrong texts. Each data object holds exactly one index and one
    // embedding (in either field order), so pairing tokens by stream
    // position with a one-slot buffer reconstructs the (index, vector)
    // pairs without a full JSON parser.
    val tok = java.util.regex.Pattern.compile(
      """"embedding"\s*:\s*\[([^\]]*)\]|"index"\s*:\s*(\d+)""").matcher(resp)
    val pairs = Seq.newBuilder[(Int, Array[Double])]
    var pendingIdx: Option[Int] = None
    var pendingVec: Option[Array[Double]] = None
    def flush(): Unit = (pendingIdx, pendingVec) match {
      case (Some(i), Some(v)) =>
        pairs += ((i, v)); pendingIdx = None; pendingVec = None
      case _ => ()
    }
    var sawIndex = false
    while (tok.find()) {
      if (tok.group(1) != null) {
        val v = tok.group(1).split(",").filter(_.trim.nonEmpty).map(_.trim.toDouble)
        pendingVec = Some(v); flush()
      } else {
        sawIndex = true
        pendingIdx = Some(tok.group(2).toInt); flush()
      }
    }
    val vecs: Seq[Array[Double]] =
      if (!sawIndex) {
        // endpoint omits index (non-OpenAI-strict server): stream order
        val b = Seq.newBuilder[Array[Double]]
        val m2 = java.util.regex.Pattern
          .compile(""""embedding"\s*:\s*\[([^\]]*)\]""").matcher(resp)
        while (m2.find())
          b += m2.group(1).split(",").filter(_.trim.nonEmpty).map(_.trim.toDouble)
        b.result()
      } else {
        val ps = pairs.result()
        val idxs = ps.map(_._1)
        require(idxs.sorted == texts.indices.toSeq,
          s"embeddings endpoint returned indices ${idxs.sorted.take(5)}... " +
            s"not a permutation of 0..${texts.length - 1}")
        ps.sortBy(_._1).map(_._2)
      }
    require(vecs.length == texts.length,
      s"embeddings endpoint returned ${vecs.length} vectors for ${texts.length} inputs")
    vecs
  }
}

object HttpServing {
  private val pools =
    new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.ExecutorService]()

  /** One daemon-threaded pool per worker count, shared JVM-wide. */
  private[serving] def sharedPool(maxWorkers: Int): java.util.concurrent.ExecutorService =
    pools.computeIfAbsent(maxWorkers, { n =>
      java.util.concurrent.Executors.newFixedThreadPool(n,
        new java.util.concurrent.ThreadFactory {
          private val count = new java.util.concurrent.atomic.AtomicInteger()
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-serving-$n-${count.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        })
    })
}
