package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.ai.DeterministicRubricScorer

/** Loopback OpenAI-shaped chat endpoint standing in for the sentiment LLM.
  *
  * Each request is answered with the keyword-rubric score of its text
  * after a fixed service time, so the benchmark measures the client-side
  * `ai` layer (request count, connection handling, parsing) rather than a
  * model. Both request shapes of `graft.ai.HttpLlmScorer` are answered:
  * the per-row prompt gets `{"score": n}`, the numbered batch prompt gets
  * `{"scores": [...]}`.
  *
  * `sun.net.httpserver.nodelay` must be true before the server class
  * loads: without TCP_NODELAY the JDK server's small responses wait out
  * the client's delayed ACK (about 40 ms per request).
  */
final class LlmStub(serviceMicros: Long, threads: Int) {
  System.setProperty("sun.net.httpserver.nodelay", "true")

  val requests = new AtomicLong
  val bytesIn = new AtomicLong
  val errors = new AtomicLong
  val busyNanos = new AtomicLong

  private val rubric = DeterministicRubricScorer()
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "llm-stub"); t.setDaemon(true); t
    }
  })
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 256)
  server.setExecutor(pool)
  server.createContext("/v1/chat/completions", (ex: HttpExchange) => handle(ex))
  server.start()

  val endpoint: String =
    s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions"

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      requests.incrementAndGet()
      bytesIn.addAndGet(body.length)
      val prompt = LlmStub.content(body)
      val answer = LlmStub.batchTexts(prompt) match {
        case Some(texts) => texts.map(rubric.score).mkString("{\"scores\": [", ", ", "]}")
        case None => s"""{"score": ${rubric.score(LlmStub.stripPrefix(prompt))}}"""
      }
      val deadline = t0 + serviceMicros * 1000L
      var now = System.nanoTime()
      while (now < deadline) { LockSupport.parkNanos(deadline - now); now = System.nanoTime() }
      val out = ("""{"id":"stub","choices":[{"index":0,"message":{"role":"assistant","content":""" +
        Json.str(answer) + "}}]}").getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, out.length)
      ex.getResponseBody.write(out)
    } catch {
      case scala.util.control.NonFatal(_) =>
        errors.incrementAndGet()
        try ex.sendResponseHeaders(500, -1) catch { case scala.util.control.NonFatal(_) => () }
    } finally {
      ex.close()
      busyNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object LlmStub {
  /** Instruction sent before each review text; holds no rubric keyword. */
  val PromptPrefix = "Rate the sentiment of this review: "

  def stripPrefix(p: String): String =
    if (p.startsWith(PromptPrefix)) p.substring(PromptPrefix.length) else p

  private val NumberedItem = "\n(?=\\d+\\. )".r

  /** Texts of a batched prompt (see `ResponseParser.batchRequestBody`). */
  def batchTexts(prompt: String): Option[Seq[String]] = {
    val marker = "Instruction: " + PromptPrefix + "\n"
    val at = prompt.indexOf(marker)
    if (at < 0) None
    else Some(NumberedItem.split(prompt.substring(at + marker.length)).toSeq
      .map(item => item.substring(item.indexOf(". ") + 2)))
  }

  /** The first `"content"` string of a chat request, unescaped. */
  def content(body: String): String = {
    val key = "\"content\":\""
    val start = body.indexOf(key)
    if (start < 0) return ""
    val sb = new StringBuilder
    var i = start + key.length
    while (i < body.length && body.charAt(i) != '"') {
      val c = body.charAt(i)
      if (c == '\\' && i + 1 < body.length) {
        body.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'u' =>
            sb.append(Integer.parseInt(body.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
