package perfbench

import scala.collection.immutable.VectorMap
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.WebMercator
import graft.ops.Merge
import graft.sources.arcgis.{ArcGisClientRegistry, ArcGisWriteStats, AuthCache, HttpArcGisClient}
import graft.streaming.CotStream

/** `outgoing_upsert`: the write dataflow. Seeded CoT queue bodies go
  * through `MemoryStream` → `CotStream.outgoing` → `foreachBatch {
  * Merge.dedupFirst` → Web-Mercator → DSv2 `arcgis` upsert on `cotuid` },
  * one micro-batch outstanding at a time. Units are drawn with skew from a
  * pool several batches wide, so traffic moves from mostly inserts to mostly
  * updates; units repeat inside a batch and a share of non-Point geometries
  * is routed away. Warm-up batches draw from a pool of their own, so the
  * timed batches start on units the layer has never seen and span that
  * move. The fake layer's final state must equal the state this class
  * computes on its own, coordinates included.
  */
class OutgoingUpsert(s: Settings) extends Workload {
  import OutgoingUpsert.Msg

  val batchSize: Int = if (s.tiny) 6 else OutgoingUpsert.BatchSize
  val poolSize: Int = batchSize * OutgoingUpsert.PoolBatches
  val token = s"tok-${s.seed}"
  private val arcKey = "perfbench-outgoing"

  val fields = Seq(
    "objectid" -> "esriFieldTypeOID",
    "cotuid" -> "esriFieldTypeString",
    "callsign" -> "esriFieldTypeString",
    "remarks" -> "esriFieldTypeString",
    "cottype" -> "esriFieldTypeString",
    "how" -> "esriFieldTypeString")

  private val rnd = new Random(s.seed)
  private var seq = 0L

  /** One batch drawn from the pool of units named `<pool>-NNNNN`. */
  private def nextBatch(pool: String): Vector[Msg] = Vector.fill(batchSize) {
    // skewed draw: low unit numbers come up far more often
    val u = (poolSize * math.pow(rnd.nextDouble(), 2.0)).toInt
    seq += 1
    Msg(f"$pool-$u%05d",
      if (rnd.nextDouble() < 0.05) None else Some(s"CS-${rnd.nextInt(100000)}"),
      if (rnd.nextDouble() < 0.3) None else Some(s"remark ${rnd.nextInt(1000)} 'q'"),
      Seq("a-f-G", "a-h-G", "a-n-A")(rnd.nextInt(3)),
      Seq("m-g", "h-e")(rnd.nextInt(2)),
      if (rnd.nextDouble() < 0.1) Seq("LineString", "Polygon")(rnd.nextInt(2)) else "Point",
      rnd.nextInt(3600000) / 10000.0 - 180.0,
      rnd.nextInt(1700000) / 10000.0 - 85.0,
      seq)
  }

  /** cotuid → (callsign, remarks, cottype, how, lon, lat): the layer state
    * the batches sent so far must leave, computed without the program.
    */
  private val model = scala.collection.mutable.LinkedHashMap.empty[String, Msg]

  /** (added, updated) that applying `batch` to the model implies. */
  private def apply(batch: Vector[Msg]): (Long, Long) = {
    // routing keeps Points; inside a batch the earliest message per unit
    // wins (first match); across batches the later batch wins
    val winners = batch.filter(_.gtype == "Point").groupBy(_.uid).values.map(_.minBy(_.seq))
    var added, updated = 0L
    winners.foreach { m =>
      if (model.contains(m.uid)) updated += 1 else added += 1
      model(m.uid) = m
    }
    (added, updated)
  }

  private var server: FakeArcGisServer = _
  private var input: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private val stats = new java.util.concurrent.LinkedBlockingQueue[(Long, Long, Long)]()
  @volatile private var batchOp = ""
  @volatile private var batchSpan = 0L

  override def setup(spark: SparkSession): Unit = {
    model.clear()
    server = new FakeArcGisServer(fields, 1000, token, s.cores)
    server.load(Nil)
    val url = server.start()
    val http = new HttpArcGisClient(url,
      auth = Some(new AuthCache(() => (token, System.currentTimeMillis() + 3600000L))),
      referer = Some("perfbench"))
    ArcGisClientRegistry.register(arcKey, if (s.trace) new TracingArcGisClient(http) else http)
    stats.clear()
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    input = MemoryStream[String]
    val ckpt = s.outDir.resolve(s"ckpt-${System.nanoTime()}").toString
    query = CotStream.outgoing(input.toDF(), Seq("Point")).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((batch: DataFrame, id: Long) => sink(batch, id))
      .start()
    // warm-up: batches whose effect the model tracks like timed ones, on a
    // pool apart from the timed one
    (1 to OutgoingUpsert.WarmBatches).foreach { i =>
      val bad = step(spark, s"warm-$i", "warm")._2
      require(bad.isEmpty, s"warm-up batch failed: ${bad.mkString("; ")}")
    }
  }

  /** The `foreachBatch` body: first-match dedup, Web-Mercator, DSv2 upsert. */
  private def sink(batch: DataFrame, id: Long): Unit = {
    val sc = batch.sparkSession.sparkContext
    // runs on the stream's thread: the operation and its span come from step()
    Trace.span("stream.foreach_batch", batchOp, batchSpan) {
      sc.setLocalProperty(Trace.OpProp, batchOp)
      sc.setLocalProperty(Trace.SpanProp, Trace.currentSpan.toString)
      val out = Merge.dedupFirst(batch, "cotuid", Seq("time")).select(
        col("cotuid"), col("callsign"), col("remarks"), col("cottype"), col("how"),
        WebMercator.mercatorX(col("coordinates")(0)).as("geom_x"),
        WebMercator.mercatorY(col("coordinates")(1)).as("geom_y"))
      out.write.format("arcgis").option("client", arcKey).option("upsertKey", "cotuid")
        .mode("append").save()
      val (ok, failed, updated, _) = ArcGisWriteStats.last(arcKey).getOrElse((-1L, -1L, -1L, 0L))
      Trace.count("arcgis.sink.added", ok)
      Trace.count("arcgis.sink.updated", updated)
      Trace.count("arcgis.sink.failed", failed)
      stats.put((ok, failed, updated))
    }
    ()
  }

  /** Send one batch drawn from `pool` and wait for it; returns (latency ms,
    * problems, features added, features updated) as the model expects them.
    */
  private def step(spark: SparkSession, op: String, pool: String): (Double, Vector[String], Long, Long) = {
    val batch = nextBatch(pool)
    val (wantAdded, wantUpdated) = apply(batch)
    val t0 = System.nanoTime()
    Trace.span("op.batch", op) {
      batchOp = op
      batchSpan = Trace.currentSpan
      input.addData(batch.map(_.body))
      query.processAllAvailable()
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val got = Option(stats.poll())
    val problems =
      if (!got.contains((wantAdded, 0L, wantUpdated)))
        Vector(s"$op: sink stats $got, expected ($wantAdded, 0, $wantUpdated)")
      else Vector.empty
    (ms, problems, wantAdded, wantUpdated)
  }

  override def measure(spark: SparkSession, deadlineNs: Long): Outcome = {
    server.resetCounters()
    val lat = Vector.newBuilder[Double]
    val names = Vector.newBuilder[String]
    val problems = Vector.newBuilder[String]
    val addedPerBatch = Vector.newBuilder[Long]
    var failed, items, cpuNs = 0L
    var i = 0
    do {
      val c0 = Stats.processCpuNs
      val (ms, bad, added, updated) =
        try step(spark, s"batch-$i", "unit")
        catch { case scala.util.control.NonFatal(e) => (0.0, Vector(e.toString), 0L, 0L) }
      cpuNs += Stats.processCpuNs - c0
      lat += ms
      names += s"batch-$i"
      items += added + updated
      addedPerBatch += added
      if (bad.nonEmpty) { failed += 1; problems ++= bad }
      i += 1
    } while (System.nanoTime() < deadlineNs)
    val requests = server.totalRequests
    val stateProblems = checkState()
    if (stateProblems.nonEmpty) failed += 1
    Outcome(names.result(), lat.result(), cpuNs / 1e6, items, failed, problems.result() ++ stateProblems, requests,
      VectorMap("added_per_batch" -> addedPerBatch.result()))
  }

  /** Compare the fake layer's rows with the model, coordinates against a
    * closed-form spherical Mercator written apart from `WebMercator`.
    */
  private def checkState(): Vector[String] = {
    val rows = server.snapshot()
    val problems = Vector.newBuilder[String]
    val byUid = rows.groupBy(r => String.valueOf(r.attrs.getOrElse("cotuid", null)))
    if (rows.size != model.size) problems += s"layer has ${rows.size} rows, expected ${model.size}"
    byUid.foreach { case (uid, rs) => if (rs.size > 1) problems += s"$uid stored ${rs.size} times" }
    model.foreach { case (uid, m) =>
      byUid.get(uid).flatMap(_.headOption) match {
        case None => problems += s"$uid missing"
        case Some(r) =>
          val want = Map("callsign" -> m.callsign.getOrElse("Unknown"), "remarks" -> m.remarks.getOrElse(""),
            "cottype" -> m.cottype, "how" -> m.how)
          want.foreach { case (k, v) =>
            if (r.attrs.get(k).map(String.valueOf) != Some(v)) problems += s"$uid $k=${r.attrs.get(k)}, expected $v"
          }
          val (wx, wy) = OutgoingUpsert.mercator(m.lon, m.lat)
          r.geom match {
            case Some((x, y)) if close(x, wx) && close(y, wy) =>
            case g => problems += s"$uid geometry $g, expected ($wx, $wy)"
          }
      }
    }
    problems.result().take(5)
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  override def layerCounters: Map[String, Double] =
    server.counters.map { case (k, v) => s"fake_server.$k" -> v.toDouble }

  override def teardown(): Unit = {
    if (query != null) { query.stop(); query = null }
    if (server != null) server.stop()
  }
}

object OutgoingUpsert {
  /** One queue message as the generator made it. */
  final case class Msg(uid: String, callsign: Option[String], remarks: Option[String],
      cottype: String, how: String, gtype: String, lon: Double, lat: Double, seq: Long) {
    def body: String = {
      val ts = java.time.Instant.ofEpochSecond(1704067200L + seq).toString
      val stale = java.time.Instant.ofEpochSecond(1704067200L + seq + 3600).toString
      val props = VectorMap[String, Any]() ++ callsign.map("callsign" -> _) ++ remarks.map("remarks" -> _) ++
        Seq("type" -> cottype, "how" -> how, "time" -> ts, "start" -> ts, "stale" -> stale)
      Json.render(VectorMap(
        "xml" -> "<event/>",
        "geojson" -> VectorMap("id" -> uid, "type" -> "Feature", "properties" -> props,
          "geometry" -> VectorMap("type" -> gtype, "coordinates" -> Vector(lon, lat)))))
    }
  }

  /** Queue messages per micro-batch: 10, the default batch size of an AWS
    * Lambda SQS trigger. The reference handles one SQS batch per invocation;
    * its own trigger setting is not known, so the default is assumed.
    */
  val BatchSize = 10
  /** The unit pool is this many batches wide. */
  val PoolBatches = 8
  /** Untimed batches sent during set-up, on the warm-up pool. */
  val WarmBatches = 12

  private val EarthRadius = 6378137.0

  /** Spherical Web-Mercator, EPSG:4326 degrees → EPSG:3857 metres. */
  def mercator(lon: Double, lat: Double): (Double, Double) = {
    val phi = math.toRadians(lat)
    (EarthRadius * math.toRadians(lon), EarthRadius * math.log(math.tan(math.Pi / 4 + phi / 2)))
  }
}
