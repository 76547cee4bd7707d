package perfbench

import scala.collection.immutable.VectorMap
import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.ops.{IncomingFlow, TakClientRegistry}
import graft.sources.arcgis.{ArcGisClientRegistry, AuthCache, HttpArcGisClient}

/** `incoming_scan`: the read dataflow. A seeded point layer with mixed
  * attribute types and a share of null geometries is served by the fake
  * server (offset pages of `maxRecordCount`, token auth); each timed pass
  * is one `IncomingFlow.run` into the counting TAK client, whose deliveries
  * must be exactly the expected ids and properties.
  */
class IncomingScan(s: Settings) extends Workload {
  val pageSize: Int = if (s.tiny) 10 else IncomingScan.MaxRecordCount
  val pages: Int = if (s.tiny) 3 else IncomingScan.PagesPerCore * s.cores
  val layerId = "perf"
  val token = s"tok-${s.seed}"
  private val arcKey = "perfbench-incoming"
  private val takKey = "perfbench-tak"

  val fields = Seq(
    "objectid" -> "esriFieldTypeOID",
    "name" -> "esriFieldTypeString",
    "category" -> "esriFieldTypeString",
    "score" -> "esriFieldTypeDouble",
    "amount" -> "esriFieldTypeInteger",
    "rank" -> "esriFieldTypeSmallInteger",
    "updated" -> "esriFieldTypeDate",
    "note" -> "esriFieldTypeString")

  /** The layer's rows; OIDs are 1..n in this order. */
  val features: Vector[FakeFeature] = {
    val rnd = new Random(s.seed)
    def maybe[T](p: Double)(v: => T): Any = if (rnd.nextDouble() < p) null else v
    Vector.tabulate(pageSize * pages) { i =>
      val attrs = VectorMap[String, Any](
        "name" -> maybe(0.1)(s"feature-$i-${rnd.alphanumeric.take(6).mkString}"),
        "category" -> Seq("road", "river", "unit", "sensor", "camp")(rnd.nextInt(5)),
        "score" -> maybe(0.1)(rnd.nextInt(400000) / 4.0),
        "amount" -> maybe(0.05)(rnd.nextInt(1000000).toLong),
        "rank" -> (rnd.nextInt(200) - 100).toLong,
        "updated" -> (1700000000000L + rnd.nextInt(1000000000).toLong),
        "note" -> maybe(0.5)("note \"" + i + "\" ü"))
      val geom = if (rnd.nextDouble() < 0.1) None
        else Some((rnd.nextInt(3600000) / 10000.0 - 180.0, rnd.nextInt(1700000) / 10000.0 - 85.0))
      FakeFeature(attrs, geom)
    }
  }

  /** id → (properties.metadata, coordinates) that TAK must receive. */
  val expected: Map[String, (Map[String, Any], Vector[Double])] =
    features.zipWithIndex.collect { case (f, i) if f.geom.isDefined =>
      val oid = i + 1L
      val props = (VectorMap[String, Any]("objectid" -> oid) ++ f.attrs).map { case (k, v) =>
        k -> (if (v == null) null else String.valueOf(v))
      }
      s"layer-$layerId-$oid" -> (props, Vector(f.geom.get._1, f.geom.get._2))
    }.toMap

  private var server: FakeArcGisServer = _
  private var tak: CountingTakClient = _

  override def setup(spark: SparkSession): Unit = {
    server = new FakeArcGisServer(fields, pageSize, token, s.cores)
    server.load(features)
    server.prerender()
    val url = server.start()
    val http = new HttpArcGisClient(url,
      auth = Some(new AuthCache(() => (token, System.currentTimeMillis() + 3600000L))),
      referer = Some("perfbench"))
    ArcGisClientRegistry.register(arcKey, if (s.trace) new TracingArcGisClient(http) else http)
    tak = new CountingTakClient
    TakClientRegistry.register(takKey, tak)
    // warm-up: full passes, checked like timed ones
    (1 to IncomingScan.WarmPasses).foreach { i =>
      val problems = check(run(spark, s"warm-$i"), tak.drain())
      require(problems.isEmpty, s"warm-up pass failed: ${problems.mkString("; ")}")
    }
  }

  /** One pass of the read dataflow; returns the features it delivered. */
  private def run(spark: SparkSession, op: String): Long = {
    val sc = spark.sparkContext
    Trace.span("op.scan_pass", op) {
      sc.setLocalProperty(Trace.OpProp, op)
      sc.setLocalProperty(Trace.SpanProp, Trace.currentSpan.toString)
      try IncomingFlow.run(spark, arcKey, takKey, layerId)
      finally {
        sc.setLocalProperty(Trace.OpProp, null)
        sc.setLocalProperty(Trace.SpanProp, null)
      }
    }
  }

  private def check(reported: Long, got: Vector[String]): Vector[String] = {
    val problems = Vector.newBuilder[String]
    if (reported != expected.size) problems += s"IncomingFlow.run reported $reported, expected ${expected.size}"
    if (got.size != expected.size) problems += s"TAK received ${got.size} features, expected ${expected.size}"
    val seen = scala.collection.mutable.HashSet.empty[String]
    got.foreach { raw =>
      val f = Json.parse(raw).asInstanceOf[Map[String, Any]]
      val id = String.valueOf(f.getOrElse("id", null))
      val props = f.get("properties").collect { case p: Map[_, _] => p.asInstanceOf[Map[String, Any]] }
        .flatMap(_.get("metadata")).collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
        .getOrElse(Map.empty)
      val coords = f.get("geometry").collect { case g: Map[_, _] => g.asInstanceOf[Map[String, Any]] }
        .flatMap(_.get("coordinates")).collect { case c: Vector[_] => c.map(Json.number) }
      if (!seen.add(id)) problems += s"$id delivered twice"
      expected.get(id) match {
        case None => problems += s"unexpected id $id"
        case Some((wantProps, wantCoords)) =>
          // a null attribute may arrive as null or be left out
          val gotProps = props.filter(_._2 != null)
          if (gotProps != wantProps.filter(_._2 != null)) problems += s"$id properties $gotProps"
          if (!coords.contains(wantCoords)) problems += s"$id coordinates $coords"
      }
    }
    problems.result().take(5)
  }

  override def measure(spark: SparkSession, deadlineNs: Long): Outcome = {
    server.resetCounters()
    tak.bytes.reset()
    val lat = Vector.newBuilder[Double]
    val names = Vector.newBuilder[String]
    val problems = Vector.newBuilder[String]
    var failed, items, cpuNs = 0L
    var i = 0
    do {
      val c0 = Stats.processCpuNs
      val t0 = System.nanoTime()
      val n =
        try Right(run(spark, s"pass-$i"))
        catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
      lat += (System.nanoTime() - t0) / 1e6
      names += s"pass-$i"
      cpuNs += Stats.processCpuNs - c0
      val got = tak.drain()
      val bad = n.fold(Vector(_), check(_, got))
      items += n.getOrElse(0L)
      if (bad.nonEmpty) { failed += 1; problems ++= bad }
      i += 1
    } while (System.nanoTime() < deadlineNs)
    Outcome(names.result(), lat.result(), cpuNs / 1e6, items, failed, problems.result(), server.totalRequests)
  }

  override def layerCounters: Map[String, Double] =
    server.counters.map { case (k, v) => s"fake_server.$k" -> v.toDouble } +
      ("tak.bytes" -> tak.bytes.sum().toDouble)

  override def teardown(): Unit = if (server != null) server.stop()
}

object IncomingScan {
  /** The layer's page size: 1000, what the program's client assumes when a
    * layer does not state its `maxRecordCount`.
    */
  val MaxRecordCount = 1000
  /** Offset pages per core, so every core scans several pages per pass. */
  val PagesPerCore = 4
  /** Untimed passes in each set-up. */
  val WarmPasses = 8
}
