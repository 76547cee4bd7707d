package graft

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A loopback ArcGIS REST server for specs: the JDK HttpServer on
  * 127.0.0.1 (no egress needed), so the real HTTP transport runs end to end
  * — URL encoding, token/referer, verbs, JSON envelopes. Specs either route
  * paths to their own handlers or mount a [[ArcGisLoopback.PointLayer]].
  */
final class ArcGisLoopback {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Serve every request under `path` with `handler` (may be added while
    * the server runs).
    */
  def route(path: String, handler: HttpExchange => Unit): Unit =
    server.createContext(path, (ex: HttpExchange) => handler(ex))

  def stop(): Unit = server.stop(0)
}

object ArcGisLoopback {
  def withServer[T](f: ArcGisLoopback => T): T = {
    val server = new ArcGisLoopback
    try f(server) finally server.stop()
  }

  /** Request parameters: the query string of a GET, the form body of a POST. */
  def params(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("") match {
      case "" => new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      case q => q
    }
    raw.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
    }.toMap
  }

  def reply(ex: HttpExchange, body: String, status: Int = 200): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  def errorEnvelope(code: Int, message: String): String =
    s"""{"error":{"code":$code,"message":"$message","details":[]}}"""

  /** A paginating point layer at `<base>/<name>` with an `objectid` OID
    * field: layer metadata, `returnCountOnly`, offset pages of `/query`
    * (`where` is not evaluated) and `/addFeatures`. Rows are feature JSON
    * objects and may be appended while the layer is served.
    *
    * Every request is counted under its endpoint (`metadata`, `count`,
    * `query`, `add`). [[scriptError]] makes the next requests to an
    * endpoint answer HTTP 200 with an `{"error":…}` envelope instead, as
    * ArcGIS does for an expired token.
    */
  final class PointLayer(
      server: ArcGisLoopback,
      name: String,
      fields: Seq[(String, String)],
      maxRecordCount: Int
  ) {
    val url = s"${server.base}/$name"
    private val rows = new java.util.concurrent.CopyOnWriteArrayList[String]()
    private val counters = new ConcurrentHashMap[String, AtomicInteger]()
    private val scripted = new ConcurrentHashMap[String, (AtomicInteger, String)]()
    private val tokensSeen = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    def append(features: Seq[String]): Unit = features.foreach(rows.add)

    def requests(endpoint: String): Int =
      Option(counters.get(endpoint)).map(_.get).getOrElse(0)

    def resetCounters(): Unit = counters.clear()

    /** Tokens the requests carried, in arrival order. */
    def tokens: Seq[String] = tokensSeen.toArray.map(_.toString).toSeq

    /** The next `times` requests to `endpoint` get an error envelope. */
    def scriptError(endpoint: String, code: Int, message: String, times: Int = 1): Unit =
      scripted.put(endpoint, (new AtomicInteger(times), errorEnvelope(code, message)))

    private def serve(ex: HttpExchange, endpoint: String)(body: => String): Unit = {
      counters.computeIfAbsent(endpoint, _ => new AtomicInteger).incrementAndGet()
      val error = Option(scripted.get(endpoint)).collect {
        case (left, envelope) if left.getAndDecrement() > 0 => envelope
      }
      reply(ex, error.getOrElse(body))
    }

    server.route(s"/$name", ex => {
      val p = params(ex)
      p.get("token").foreach(tokensSeen.add)
      ex.getRequestURI.getPath.stripPrefix(s"/$name") match {
        case "" =>
          serve(ex, "metadata") {
            fields.map { case (n, t) => s"""{"name":"$n","type":"$t"}""" }
              .mkString("""{"fields":[""", ",", s"""],"maxRecordCount":$maxRecordCount}""")
          }
        case "/query" if p.get("returnCountOnly").contains("true") =>
          serve(ex, "count")(s"""{"count":${rows.size}}""")
        case "/query" =>
          serve(ex, "query") {
            val off = p.getOrElse("resultOffset", "0").toInt
            val cnt = p.getOrElse("resultRecordCount", s"$maxRecordCount").toInt.min(maxRecordCount)
            val page = (off until math.min(off + cnt, rows.size)).map(rows.get)
            page.mkString("""{"objectIdFieldName":"objectid","features":[""", ",", "]}")
          }
        case "/addFeatures" =>
          serve(ex, "add") {
            val n = "\"attributes\"".r.findAllMatchIn(p.getOrElse("features", "")).size
            (1 to n).map(i => s"""{"objectId":$i,"success":true}""")
              .mkString("""{"addResults":[""", ",", "]}")
          }
        case _ => reply(ex, errorEnvelope(400, "unexpected path"), 404)
      }
    })
  }
}
