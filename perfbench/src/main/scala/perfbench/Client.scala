package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** One completed call: when it was sent, when its last reply byte was
  * read, and the reply itself; status -1 when no reply came. */
final case class Reply(status: Int, body: Array[Byte], startNs: Long,
    endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A blocking HTTP/1.1 client for the dp3 routes; each caller thread
  * waits for its reply before sending the next request. */
final class Client(port: Int) {
  private val base = s"http://127.0.0.1:$port"
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  def send(method: String, path: String, body: Option[Array[Byte]])
      : Reply = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .timeout(Duration.ofSeconds(120))
    val req = body match {
      case Some(bytes) =>
        b.POST(HttpRequest.BodyPublishers.ofByteArray(bytes)).build()
      case None => b.GET().build()
    }
    val t0 = System.nanoTime()
    try {
      val r = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
      Reply(r.statusCode(), r.body(), t0, System.nanoTime())
    } catch {
      // no reply at all (refused, reset, timed out): a failed request
      case e: java.io.IOException =>
        Reply(-1, String.valueOf(e).getBytes("UTF-8"), t0, System.nanoTime())
    }
  }

  def send(r: Req): Reply =
    send(r.method, r.path, r.body.map(_.getBytes("UTF-8")))
}
