package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.LongAdder
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.collection.immutable.VectorMap

/** A feature as the fake layer stores it: attributes in field order plus an
  * optional point geometry.
  */
final case class FakeFeature(attrs: VectorMap[String, Any], geom: Option[(Double, Double)])

/** A loopback ArcGIS Feature Service layer for load generation: one layer
  * with `objectid` as its OID field, served by the JDK HttpServer on
  * 127.0.0.1 with at most `threads` handler threads.
  *
  * Endpoints: layer metadata, `/query` (count, offset pages, `key IN (...)`
  * probes), `/addFeatures` and `/updateFeatures`. Every request must carry
  * `token`; a wrong or missing token is answered 401 and counted. Requests
  * are counted per endpoint, with handler busy time, bytes in and out and
  * the number of client connections, so server cost is never read as
  * client cost. Full offset pages are rendered once by [[prerender]] and
  * served as bytes.
  */
class FakeArcGisServer(
    fields: Seq[(String, String)],
    maxRecordCount: Int,
    token: String,
    threads: Int
) {
  val layerPath = "/arcgis/rest/services/perf/FeatureServer/0"
  private val fieldNames = fields.map(_._1)

  private val lock = new Object
  private val rows = new java.util.TreeMap[java.lang.Long, FakeFeature]()
  private var nextOid = 1L
  @volatile private var pages = Map.empty[Long, (Int, Array[Byte])]

  val endpoints = Seq("metadata", "count", "query", "probe", "add", "update", "rejected")
  private val requests = endpoints.map(_ -> new LongAdder).toMap
  private val busyNs = new LongAdder
  private val bytesIn = new LongAdder
  private val bytesOut = new LongAdder
  private val peers = ConcurrentHashMap.newKeySet[String]()

  private var server: HttpServer = _
  private var pool: ExecutorService = _

  /** Replace the layer's rows; OIDs are assigned 1..n in order. */
  def load(features: Seq[FakeFeature]): Unit = lock.synchronized {
    rows.clear(); nextOid = 1L; pages = Map.empty
    features.foreach(insert)
  }

  private def insert(f: FakeFeature): Long = {
    val oid = nextOid
    nextOid += 1
    rows.put(oid, f.copy(attrs = VectorMap[String, Any]("objectid" -> oid) ++ (f.attrs - "objectid")))
    oid
  }

  /** Render every full-field offset page of `maxRecordCount` rows once. */
  def prerender(): Unit = {
    val all = snapshot()
    pages = all.grouped(maxRecordCount).zipWithIndex.map { case (page, i) =>
      (i.toLong * maxRecordCount) -> (page.size -> featuresBody(page, fieldNames).getBytes(UTF_8))
    }.toMap
  }

  def snapshot(): Vector[FakeFeature] = lock.synchronized {
    import scala.jdk.CollectionConverters._
    rows.values().asScala.toVector
  }

  def start(): String = {
    pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, "fake-arcgis")
      t.setDaemon(true)
      t
    })
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
    server.setExecutor(pool)
    server.createContext(layerPath, (ex: HttpExchange) => handle(ex))
    server.start()
    s"http://127.0.0.1:${server.getAddress.getPort}$layerPath"
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) {
      pool.shutdownNow()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
    server = null
    pool = null
  }

  def resetCounters(): Unit = {
    requests.values.foreach(_.reset()); busyNs.reset(); bytesIn.reset(); bytesOut.reset(); peers.clear()
  }

  def counters: Map[String, Long] =
    requests.map { case (k, v) => s"requests.$k" -> v.sum() } ++ Map(
      "busy_ns" -> busyNs.sum(), "bytes_in" -> bytesIn.sum(), "bytes_out" -> bytesOut.sum(),
      "connections" -> peers.size.toLong)

  /** Every request the layer answered, rejected ones included. */
  def totalRequests: Long = requests.values.map(_.sum()).sum

  private def params(raw: String): Map[String, String] =
    raw.split("&").iterator.filter(_.contains("=")).map { kv =>
      val i = kv.indexOf('=')
      URLDecoder.decode(kv.substring(0, i), UTF_8) -> URLDecoder.decode(kv.substring(i + 1), UTF_8)
    }.toMap

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      peers.add(String.valueOf(ex.getRemoteAddress))
      val body = ex.getRequestBody.readAllBytes()
      val rawQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      bytesIn.add(ex.getRequestURI.toString.length + body.length)
      val p = params(if (rawQuery.nonEmpty) rawQuery else new String(body, UTF_8))
      val sub = ex.getRequestURI.getPath.stripPrefix(layerPath)
      if (!p.get("token").contains(token)) {
        requests("rejected").increment()
        reply(ex, 401, """{"error":{"code":498,"message":"Invalid token."}}""".getBytes(UTF_8))
      } else sub match {
        case "" | "/" =>
          requests("metadata").increment()
          reply(ex, 200, metadata)
        case "/query" if p.get("returnCountOnly").contains("true") =>
          requests("count").increment()
          reply(ex, 200, s"""{"count":${lock.synchronized(rows.size)}}""".getBytes(UTF_8))
        case "/query" =>
          val where = p.getOrElse("where", "1=1").trim
          val out = p.get("outFields").filter(_ != "*").map(_.split(",").map(_.trim).toSeq)
            .getOrElse(fieldNames)
          if (where == "1=1") {
            requests("query").increment()
            reply(ex, 200, page(p, out))
          } else inList(where) match {
            case Some((key, values)) =>
              requests("probe").increment()
              val hits = snapshot().filter(f => f.attrs.get(key).exists(v => values(String.valueOf(v))))
              reply(ex, 200, featuresBody(hits, out).getBytes(UTF_8))
            case None =>
              requests("rejected").increment()
              reply(ex, 400, s"""{"error":{"code":400,"message":${Json.quote("unsupported where: " + where)}}}""".getBytes(UTF_8))
          }
        case "/addFeatures" =>
          requests("add").increment()
          val results = parseFeatures(p("features")).map { f =>
            val oid = lock.synchronized(insert(f))
            s"""{"objectId":$oid,"success":true}"""
          }
          reply(ex, 200, results.mkString("""{"addResults":[""", ",", "]}").getBytes(UTF_8))
        case "/updateFeatures" =>
          requests("update").increment()
          val results = parseFeatures(p("features")).map { f =>
            val oid = f.attrs.get("objectid").collect { case n: Long => n; case d: Double => d.toLong }
            val done = oid.exists(o => lock.synchronized {
              Option(rows.get(o)).exists { old =>
                rows.put(o, FakeFeature(old.attrs ++ (f.attrs - "objectid"), f.geom.orElse(old.geom)))
                true
              }
            })
            if (done) s"""{"objectId":${oid.get},"success":true}"""
            else """{"success":false,"error":{"code":1019,"description":"unknown objectid"}}"""
          }
          reply(ex, 200, results.mkString("""{"updateResults":[""", ",", "]}").getBytes(UTF_8))
        case _ =>
          requests("rejected").increment()
          reply(ex, 404, """{"error":{"code":404}}""".getBytes(UTF_8))
      }
    } finally {
      ex.close()
      busyNs.add(System.nanoTime() - t0)
    }
  }

  private def reply(ex: HttpExchange, status: Int, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    bytesOut.add(bytes.length)
  }

  private lazy val metadata: Array[Byte] = Json.render(VectorMap(
    "fields" -> fields.map { case (n, t) => VectorMap("name" -> n, "type" -> t) },
    "maxRecordCount" -> maxRecordCount,
    "advancedQueryCapabilities" -> VectorMap("supportsPagination" -> true)
  )).getBytes(UTF_8)

  private def page(p: Map[String, String], out: Seq[String]): Array[Byte] = {
    val offset = p.get("resultOffset").map(_.toLong).getOrElse(0L)
    val count = p.get("resultRecordCount").map(_.toInt).getOrElse(maxRecordCount).min(maxRecordCount)
    pages.get(offset) match {
      case Some((n, bytes)) if n == count && out.toSet == fieldNames.toSet => bytes
      case _ =>
        val slice = snapshot().slice(offset.toInt, offset.toInt + count)
        featuresBody(slice, out).getBytes(UTF_8)
    }
  }

  private def featuresBody(fs: Seq[FakeFeature], out: Seq[String]): String = {
    val sb = new StringBuilder("""{"features":[""")
    var first = true
    fs.foreach { f =>
      if (!first) sb.append(',')
      first = false
      sb.append("""{"attributes":""")
      sb.append(Json.render(VectorMap.from(out.map(k => k -> f.attrs.getOrElse(k, null)))))
      f.geom.foreach { case (x, y) =>
        sb.append(""","geometry":{"x":""").append(Json.render(x))
          .append(""","y":""").append(Json.render(y)).append('}')
      }
      sb.append('}')
    }
    sb.append("]}").toString
  }

  private val InList = """(?s)^\s*"?(\w+)"?\s+IN\s*\((.*)\)\s*$""".r

  /** `key IN ('a', 'b', ...)` → (key, set of the listed values). */
  private def inList(where: String): Option[(String, Set[String])] = where match {
    case InList(key, list) =>
      val values = """'((?:[^']|'')*)'|([^,\s]+)""".r.findAllMatchIn(list).map { m =>
        Option(m.group(1)).map(_.replace("''", "'")).getOrElse(m.group(2))
      }.toSet
      Some(key -> values)
    case _ => None
  }

  private def parseFeatures(json: String): Seq[FakeFeature] =
    Json.parse(json).asInstanceOf[Vector[Any]].map { raw =>
      val f = raw.asInstanceOf[Map[String, Any]]
      val attrs = f.get("attributes").map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
      val geom = f.get("geometry").collect { case g: Map[_, _] =>
        val m = g.asInstanceOf[Map[String, Any]]
        (Json.number(m("x")), Json.number(m("y")))
      }
      FakeFeature(VectorMap.from(attrs), geom)
    }
}
