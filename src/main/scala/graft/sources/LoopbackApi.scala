package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

/** In-process loopback HTTP stand-in for the reference's external APIs
  * (Open Targets GraphQL, NCBI E-Utilities, UniProt — see
  * ExternalApiResultsFetcher.py, E_Utilities.py, UniProtIdMapper.py).
  * Zero egress, zero dependencies (JDK `com.sun.net.httpserver`): binds
  * 127.0.0.1 on an ephemeral port and serves `handler(key)` for
  * GET `/api/<key>`, with `None` → HTTP 500 (a failing upstream). Every
  * request increments a per-key counter — the double-fetch detector the
  * restart specs assert against (a key fetched twice across a
  * kill/restart cycle means the anti-join resume is broken).
  *
  * This is test/fixture infrastructure by design: production points
  * [[FetchPlanner.httpFetcher]] at the real base URL instead; the plumbing
  * (per-partition clients, batching, checkpoint resume) is identical. */
final class LoopbackApi(handler: String => Option[String])
    extends AutoCloseable {

  /** key → number of times it has been requested (across all runs). */
  val requests = new ConcurrentHashMap[String, Integer]()

  private val server: HttpServer = {
    // without TCP_NODELAY the header+body two-write response pattern
    // hits Nagle × delayed-ACK: ~40 ms per request, 400 requests ≈ 16 s
    // of pure stall (measured — the q297 gate cost 19.96 s; a python
    // loopback baseline did the same 400 GETs in 0.66 s).
    // NOTE: ServerConfig reads this property ONCE in a static
    // initializer, so this setProperty only works if no httpserver
    // class loaded earlier in the JVM. The load-order-independent fix
    // is -Dsun.net.httpserver.nodelay=true on the command line —
    // build.sbt javaOptions sets it; this
    // call remains as best-effort for ad-hoc embedders.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/api/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val key = ex.getRequestURI.getPath.stripPrefix("/api/")
        requests.merge(key, 1, (a, b) => a + b)
        handler(key) match {
          case Some(body) =>
            val bytes = body.getBytes(StandardCharsets.UTF_8)
            ex.getResponseHeaders.add("Content-Type", "application/json")
            ex.sendResponseHeaders(200, bytes.length.toLong)
            ex.getResponseBody.write(bytes)
          case None =>
            ex.sendResponseHeaders(500, -1L)
        }
        ex.close()
      }
    })
    // a small pool: local[32] partitions fetch concurrently
    s.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    s.start()
    s
  }

  def port: Int = server.getAddress.getPort

  /** Base URL to capture in executor closures — capture THIS string,
    * never the LoopbackApi itself (HttpServer is not serializable). */
  def base: String = s"http://127.0.0.1:$port/api"

  def totalRequests: Long =
    requests.values().stream().mapToLong(_.longValue()).sum()

  def doubleFetched: Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    requests.forEach((k, n) => if (n > 1) out += k)
    out.toSeq.sorted
  }

  override def close(): Unit = {
    server.stop(0)
    // HttpServer.stop does NOT stop a custom executor; its non-daemon
    // threads would keep the whole JVM (Verify, Bench) from exiting
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdownNow()
      case _ =>
    }
  }
}
