package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.parity.LexiconAnnotator

/** Loopback stand-in for the De-bias API. Accepts the reference request
  * `{"language", "useNER", "useLLM", "values"}`, waits a fixed service
  * delay, and answers `{"results": [{"literal", "tags": [{literal, issue,
  * source}]}]}` with lexicon tags. The first attempt of every batch whose
  * first value is in `failKeys` gets HTTP 503. Handlers run on a fixed
  * pool of `threads`; server-side counters record calls, busy seconds,
  * the most requests in flight at once, and each call's handling time by
  * the batch's first value. */
final class Stub(threads: Int, delayMs: Long, failKeys: Set[String]) {
  private val mapper = new ObjectMapper()
  private val lexicon = new LexiconAnnotator()
  private val pool = Executors.newFixedThreadPool(threads)
  // TCP_NODELAY on accepted sockets: the server writes headers and body
  // separately, and Nagle + delayed ACK would add ~40 ms to every reply
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val failed = ConcurrentHashMap.newKeySet[String]()
  val calls = new AtomicLong
  val busyNs = new AtomicLong
  private val inflight = new AtomicLong
  val inflightMax = new AtomicLong
  /** (first value of the batch, handling nanoseconds) per call, in order. */
  val served = new ConcurrentLinkedQueue[(String, Long)]()

  server.setExecutor(pool)
  server.createContext("/annotate", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/annotate"

  /** Forget which batches already failed once, so the next pass sees the
    * same failure set; zero the counters. */
  def reset(): Unit = {
    failed.clear(); calls.set(0); busyNs.set(0); inflightMax.set(0); served.clear()
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, math.max)
    var key = ""
    try {
      calls.incrementAndGet()
      val req = mapper.readTree(ex.getRequestBody)
      val values = (0 until req.path("values").size()).map(i => req.path("values").get(i).asText())
      val ok = Seq("language", "useNER", "useLLM").forall(req.has) && values.nonEmpty
      key = values.headOption.getOrElse("")
      Thread.sleep(delayMs)
      if (!ok) reply(ex, 400, "{}")
      else if (failKeys(values.head) && failed.add(values.head)) reply(ex, 503, "{\"error\":\"busy\"}")
      else {
        val root = mapper.createObjectNode()
        val results = root.putArray("results")
        values.lazyZip(lexicon.annotate(req.path("language").asText(), values)).foreach { (v, tags) =>
          val r = results.addObject()
          r.put("literal", v)
          val ts = r.putArray("tags")
          tags.foreach { t =>
            ts.addObject().put("literal", t.literal).put("issue", t.issue).put("source", t.source)
          }
        }
        reply(ex, 200, mapper.writeValueAsString(root))
      }
    } finally {
      inflight.decrementAndGet()
      val ns = System.nanoTime() - t0
      busyNs.addAndGet(ns)
      served.add(key -> ns)
    }
  }

  private def reply(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}
