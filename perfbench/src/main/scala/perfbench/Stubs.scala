package perfbench

import java.io.InputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ScheduledThreadPoolExecutor, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-JVM loopback HTTP stubs for the CAP feed, the alert documents and
  * the CloudTAK ingest endpoint.
  *
  * Injected delays are scheduled, not slept: a handler hands its exchange
  * to a timer and returns at once, so the `cpus` handler threads never cap
  * how many requests the client can keep in flight. TCP_NODELAY must be on
  * for the server sockets (`-Dsun.net.httpserver.nodelay=true`, set by
  * `run.py`); without it every loopback response waits ~40 ms for a
  * delayed ACK. `serviceNs` records handler time excluding the injected
  * delay, so a run shows whether the stub itself is ever the bottleneck.
  */
final class Stubs(cpus: Int, postDelayMs: Long) {

  private def daemon(name: String): ThreadFactory = r => {
    val t = new Thread(r, name); t.setDaemon(true); t
  }

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 1024)
  private val handlers = Executors.newFixedThreadPool(cpus, daemon("stub-handler"))
  private val timer = new ScheduledThreadPoolExecutor(1, daemon("stub-timer"))
  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def feedUrl: String = s"$base/feed"
  def postUrl: String = s"$base/cloudtak"
  def alertUrl(key: String): String = s"$base/cap/$key"

  // -- content, swapped by the workload between invocations ----------------
  @volatile private var feed: Array[Byte] = Array.emptyByteArray
  private val docs = new ConcurrentHashMap[String, Array[Byte]]()
  @volatile private var delayOf: (String, Int) => Long = (_, _) => 0L

  /** Publish one invocation's feed: `alerts` as (key, body) in feed order,
    * `delayMs(key, attempt)` the injected GET delay. */
  def publish(alerts: Seq[(String, Array[Byte])], delayMs: (String, Int) => Long): Unit = {
    docs.clear()
    alerts.foreach { case (k, b) => docs.put(k, b) }
    feed = alerts.map { case (k, _) => s"<item><link>${alertUrl(k)}</link></item>" }
      .mkString("<rss><channel>", "", "</channel></rss>").getBytes(StandardCharsets.UTF_8)
    delayOf = delayMs
  }

  // -- per-invocation records ----------------------------------------------
  case class Post(receivedNs: Long, body: String)
  private val posts = new ConcurrentLinkedQueue[Post]()
  private val attempts = new ConcurrentHashMap[String, AtomicLong]()
  private val requests = new LongAdder
  private val bytesOut = new LongAdder
  private val postBytes = new LongAdder
  private val serviceNs = new LongAdder
  private val serviced = new LongAdder
  @volatile private var feedDoneNs = 0L
  @volatile private var firstGetNs = 0L
  @volatile private var lastGetDoneNs = 0L
  // in-flight alert GETs: current, max and the time integral
  private var inflight = 0
  private var inflightMax = 0
  private var inflightArea = 0.0
  private var inflightLastNs = 0L

  private def inflightStep(delta: Int, now: Long): Unit = synchronized {
    if (inflightLastNs != 0L) inflightArea += inflight.toDouble * (now - inflightLastNs)
    inflightLastNs = now
    inflight += delta
    if (inflight > inflightMax) inflightMax = inflight
  }

  def reset(): Unit = synchronized {
    posts.clear(); attempts.clear()
    Seq(requests, bytesOut, postBytes, serviceNs, serviced).foreach(_.reset())
    feedDoneNs = 0L; firstGetNs = 0L; lastGetDoneNs = 0L
    inflight = 0; inflightMax = 0; inflightArea = 0.0; inflightLastNs = 0L
  }

  /** What the stubs saw since the last [[reset]]: the POSTs with their
    * receive times, alert GETs and their retries, bytes, the fetch window
    * (first GET to last response) and mean/max GETs in flight over it. */
  case class Seen(posts: Seq[Post], requests: Long, retries: Long, bytes: Long,
      postBytes: Long, fetchS: Double, inflightMean: Double,
      inflightMax: Int, serviceMs: Double)

  def seen(): Seen = synchronized {
    val window = math.max(1L, lastGetDoneNs - firstGetNs)
    Seen(posts.asScala.toSeq.sortBy(_.receivedNs), requests.sum(),
      attempts.values.asScala.map(a => math.max(0L, a.get() - 1)).sum,
      bytesOut.sum(), postBytes.sum(), window / 1e9, inflightArea / window, inflightMax,
      if (serviced.sum() == 0) 0.0 else serviceNs.sum() / 1e6 / serviced.sum())
  }
  def feedDoneAt: Long = feedDoneNs

  // -- handlers ---------------------------------------------------------------
  private def send(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  private def drain(in: InputStream): Array[Byte] = try in.readAllBytes() finally in.close()

  server.createContext("/feed", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val b = feed
    send(ex, 200, b)
    val t1 = System.nanoTime()
    feedDoneNs = t1
    serviceNs.add(t1 - t0); serviced.increment()
  })

  server.createContext("/cap/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val key = ex.getRequestURI.getPath.stripPrefix("/cap/")
    requests.increment()
    if (firstGetNs == 0L) synchronized { if (firstGetNs == 0L) firstGetNs = t0 }
    inflightStep(+1, t0)
    val attempt = attempts.computeIfAbsent(key, _ => new AtomicLong).getAndIncrement().toInt
    val body = docs.get(key)
    val delay = if (body == null) 0L else delayOf(key, attempt)
    def respond(): Unit = {
      val r0 = System.nanoTime()
      if (body == null) send(ex, 404, Array.emptyByteArray)
      else { send(ex, 200, body); bytesOut.add(body.length) }
      val r1 = System.nanoTime()
      inflightStep(-1, r1)
      synchronized { if (r1 > lastGetDoneNs) lastGetDoneNs = r1 }
      serviceNs.add(r1 - r0); serviced.increment()
    }
    if (delay <= 0) respond()
    else {
      serviceNs.add(System.nanoTime() - t0)
      timer.schedule((() => respond()): Runnable, delay, TimeUnit.MILLISECONDS)
    }
  })

  server.createContext("/cloudtak", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val b = drain(ex.getRequestBody)
    val received = System.nanoTime()
    posts.add(Post(received, new String(b, StandardCharsets.UTF_8)))
    postBytes.add(b.length)
    serviceNs.add(received - t0); serviced.increment()
    timer.schedule((() => send(ex, 200, Array.emptyByteArray)): Runnable,
      postDelayMs, TimeUnit.MILLISECONDS)
  })

  server.setExecutor(handlers)
  server.start()

  def stop(): Unit = {
    server.stop(0)
    timer.shutdownNow(); handlers.shutdownNow()
    timer.awaitTermination(5, TimeUnit.SECONDS)
    handlers.awaitTermination(5, TimeUnit.SECONDS)
  }
}
