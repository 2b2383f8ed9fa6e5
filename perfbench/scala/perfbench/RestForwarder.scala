package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.{InetAddress, InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

/** Loopback HTTP forwarder in front of a REST catalog server. Traced ops
  * reach the catalog through it, so every request becomes a `rest` span
  * (method, path, status, wall time) attached to the op in flight. */
final class RestForwarder(target: String, tracer: Tracer) {
  private val client = HttpClient.newHttpClient()
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)

  def uri: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def start(): RestForwarder = {
    server.createContext("/", (ex: HttpExchange) => forward(ex))
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)

  private def forward(ex: HttpExchange): Unit = {
    val op    = tracer.currentOp
    val t0    = System.currentTimeMillis().toDouble
    val n0    = System.nanoTime()
    val body  = ex.getRequestBody.readAllBytes()
    val b     = HttpRequest.newBuilder(URI.create(target + ex.getRequestURI.toString))
    ex.getRequestHeaders.asScala.foreach { case (k, vs) =>
      if (!HopHeaders(k.toLowerCase)) vs.asScala.foreach(v => b.header(k, v))
    }
    val publisher =
      if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
      else HttpRequest.BodyPublishers.ofByteArray(body)
    val resp = client.send(b.method(ex.getRequestMethod, publisher).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    resp.headers().map().asScala.foreach { case (k, vs) =>
      if (!HopHeaders(k.toLowerCase)) vs.asScala.foreach(v => ex.getResponseHeaders.add(k, v))
    }
    val out = resp.body()
    if (ex.getRequestMethod == "HEAD" || out.isEmpty) ex.sendResponseHeaders(resp.statusCode(), -1)
    else {
      ex.sendResponseHeaders(resp.statusCode(), out.length.toLong)
      ex.getResponseBody.write(out)
    }
    ex.close()
    val secs = (System.nanoTime() - n0) / 1e9
    tracer.record(Span(tracer.newId(), op, "rest",
      s"${ex.getRequestMethod} ${ex.getRequestURI.getPath}", t0, t0 + secs * 1000.0,
      Map("status" -> resp.statusCode().toDouble)))
  }

  private val HopHeaders =
    Set("connection", "content-length", "host", "transfer-encoding", "upgrade", "keep-alive")
}
