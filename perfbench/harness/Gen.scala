package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}

/** One generated request. `expect` names the replies that count as
  * correct: a status code, plus an optional body fragment. */
final case class Req(route: String, method: String, path: String,
    expect: Set[Int] = Set(200), contains: String = null)

/** A sent request: due, dispatch, send and reply times on [[Clock]]. */
final case class Sent(req: Req, due: Double, dispatched: Double,
    start: Double, end: Double, status: Int, reply: String) {
  def ok: Boolean = req.expect(status) &&
    (req.contains == null || status != 200 || reply.contains(req.contains))
  def record: Seq[Any] = Seq(req.route, due, dispatched, start, end, status,
    if (ok) 1 else 0)
}

/** The load generator: an HTTP client over keep-alive connections, an
  * open-loop driver that sends each request at its due time from a pool
  * of at most `clients` threads, and a closed-loop driver that sends one
  * request at a time. */
final class Gen(port: Int) {
  def call(r: Req): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port${r.path}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(r.method)
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(120000)
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    (code, if (is == null) "" else new String(is.readAllBytes(), UTF_8))
  }

  /** Send `reqs` at `rate` per second starting at `t0`. A request waits
    * for a free client when all are busy; that wait counts in its
    * latency, which is measured from the due time. `onDone` runs on the
    * client thread after each reply. */
  def openLoop(reqs: IndexedSeq[Req], rate: Double, clients: Int,
      t0: Double = Clock.nowMs + 50)(onDone: Sent => Unit = _ => ()): IndexedSeq[Sent] = {
    val pool = Executors.newFixedThreadPool(clients)
    val out = new Array[Sent](reqs.size)
    try {
      reqs.indices.foreach { i =>
        val due = t0 + i * 1000.0 / rate
        Clock.sleepUntil(due)
        val dispatched = Clock.nowMs
        pool.execute { () =>
          val start = Clock.nowMs
          val (code, body) =
            try call(reqs(i)) catch { case e: Exception => (-1, e.toString) }
          val s = Sent(reqs(i), due, dispatched, start, Clock.nowMs, code, body)
          out(i) = s
          onDone(s)
        }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
    }
    out.toIndexedSeq
  }

  /** Send `reqs` one at a time, each wrapped by `around`. */
  def closedLoop(reqs: IndexedSeq[Req])(around: (Req, () => Sent) => Sent): IndexedSeq[Sent] =
    reqs.map { r =>
      around(r, () => {
        val t = Clock.nowMs
        val (code, body) = call(r)
        Sent(r, t, t, t, Clock.nowMs, code, body)
      })
    }
}

object Gen {
  def enc(s: String): String = java.net.URLEncoder.encode(s, UTF_8).replace("+", "%20")
}
