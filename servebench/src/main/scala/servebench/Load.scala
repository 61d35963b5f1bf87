package servebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.atomic.AtomicInteger

/** Closed-loop HTTP load over loopback. */
object Load {

  /** One finished request. `cached` is whether the server marked the
    * response as served from its cache. */
  final case class Rec(index: Int, startNs: Long, latencyMs: Double, ok: Boolean,
                       cached: Boolean, bytes: Long) {
    def outcome: Stats.Outcome = Stats.Outcome(latencyMs, ok)
  }

  final case class Reply(code: Int, body: Array[Byte], cached: Boolean)

  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** GET `path`, reading the body fully. A transport error is a reply
    * with code -1. */
  def get(port: Int, path: String): Reply =
    try {
      val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(Duration.ofSeconds(120)).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      Reply(r.statusCode(), r.body(),
        r.headers().firstValue("X-Carbonapi-Request-Cached").isPresent)
    } catch {
      case e: java.io.IOException =>
        Reply(-1, String.valueOf(e.getMessage).getBytes("UTF-8"), cached = false)
    }

  /** Timed GET plus output check (the check runs after the clock stops). */
  def timed(port: Int, index: Int, path: String, check: Reply => Boolean): Rec = {
    val t0 = System.nanoTime()
    val r = get(port, path)
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = r.code == 200 && (try check(r) catch { case scala.util.control.NonFatal(_) => false })
    Rec(index, t0, ms, ok, r.cached, r.body.length.toLong)
  }

  /** `clients` threads share one request sequence; each sends its next
    * request only when the previous one has been read in full. No request
    * starts after `deadlineNs` or past `limit`. */
  def closedLoop(port: Int, clients: Int, first: Int, limit: Int, deadlineNs: Long,
                 path: Int => String, check: (Int, Reply) => Boolean): Seq[Rec] = {
    val next = new AtomicInteger(first)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var go = true
        while (go) {
          val i = next.getAndIncrement()
          if (i >= limit || System.nanoTime() >= deadlineNs) go = false
          else out.add(timed(port, i, path(i), r => check(i, r)))
        }
      })
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq.sortBy(_.index)
  }
}
