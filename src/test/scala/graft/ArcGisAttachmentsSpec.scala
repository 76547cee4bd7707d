package graft

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.arcgis._
import ArcGisLoopback.{params, reply}

/** `attachments=true` scan (VERDICT r17 item 7): the public REST surface's
  * `{layer}/{oid}/attachments` listing + download endpoints exposed as a
  * DSv2 read, one row per attachment with the payload as BinaryType — the
  * bridge from the ArcGIS source to the m-family multimodal operators
  * (remote image → perceptual-hash dedup in ONE plan).
  *
  * Two layers of proof:
  *   1. wire-level — a loopback JDK HttpServer plays the attachments REST
  *      surface and the full DSv2 path runs over real java.net.http:
  *      OID-range listing, metadata parse, binary download (byte-exact,
  *      no JSON envelope), ARCGIS_PARAMS on the download URL, and the
  *      load-bearing pruning contract: a projection without `data` issues
  *      ZERO download requests;
  *   2. composed — a MockArcGisClient serves PNG/JPEG fixture payloads and
  *      one plan scans attachments and groups them by `imageAHash`,
  *      finding exactly the planted cross-feature duplicate.
  */
class ArcGisAttachmentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // ------------------------------------------------------------ wire level
  test("attachments scan runs the REST surface over real HTTP with pruning") {
    val payloads: Map[(Long, Long), Array[Byte]] = Map(
      (1L, 1L) -> Array[Byte](0x50, 0x4e, 0x47, 0x00, -1, 0x7f, 0x10),
      (1L, 2L) -> Array[Byte](-1, -40, -1, -32, 0x00, 0x01),
      (3L, 7L) -> Array.tabulate(64)(i => (i * 7 % 251).toByte))
    val downloads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val downloadParams = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    val oids = Seq(1L, 2L, 3L)
    val server = new ArcGisLoopback
    server.route("/alayer", (ex: HttpExchange) => {
      val p = params(ex)
      val path = ex.getRequestURI.getPath
      val att = "/alayer/(\\d+)/attachments$".r.findFirstMatchIn(path)
      val dl = "/alayer/(\\d+)/attachments/(\\d+)$".r.findFirstMatchIn(path)
      if (dl.isDefined) {
        val key = (dl.get.group(1).toLong, dl.get.group(2).toLong)
        downloads.add(s"${key._1}/${key._2}")
        downloadParams.add(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
        val bytes = payloads.getOrElse(key, Array.emptyByteArray)
        ex.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      } else if (att.isDefined) {
        val oid = att.get.group(1).toLong
        val infos = payloads.collect { case ((o, id), bytes) if o == oid =>
          s"""{"id":$id,"name":"att-$o-$id.bin","contentType":"application/octet-stream","size":${bytes.length}}"""
        }
        reply(ex, infos.mkString("""{"attachmentInfos":[""", ",", "]}"))
      } else path match {
        case "/alayer" =>
          reply(ex,
            """{"fields":[{"name":"objectid","type":"esriFieldTypeOID"},
              |{"name":"name","type":"esriFieldTypeString"}],
              |"maxRecordCount":10}""".stripMargin.replace("\n", ""))
        case "/alayer/query" if p.get("returnCountOnly").contains("true") =>
          reply(ex, s"""{"count":${oids.size}}""")
        case "/alayer/query" if p.contains("outStatistics") =>
          reply(ex, s"""{"features":[{"attributes":{"__lo":${oids.min},"__hi":${oids.max}}}]}""")
        case "/alayer/query" =>
          val where = p.getOrElse("where", "1=1")
          val lo = "objectid >= (\\d+)".r.findFirstMatchIn(where).map(_.group(1).toLong).getOrElse(Long.MinValue)
          val hi = "objectid < (\\d+)".r.findFirstMatchIn(where).map(_.group(1).toLong).getOrElse(Long.MaxValue)
          val feats = oids.filter(o => o >= lo && o < hi)
            .map(o => s"""{"attributes":{"objectid":$o}}""")
          reply(ex, feats.mkString("""{"features":[""", ",", "]}"))
        case other => reply(ex, s"""{"error":"unexpected path $other"}""")
      }
    })
    try {
      val base = s"${server.base}/alayer"
      ArcGisClientRegistry.register("attach-http",
        new HttpArcGisClient(base, extraParams = Seq("gdbVersion" -> "v1")))
      val df = spark.read.format("arcgis")
        .option("client", "attach-http")
        .option("attachments", "true")
        .load()

      // 1. metadata-only projection: full listing, ZERO downloads
      val meta = df.select("objectid", "attachment_id", "name", "size").collect()
      assert(meta.length == payloads.size)
      assert(downloads.isEmpty,
        s"metadata-only projection must not download payloads, saw $downloads")

      // 2. payload projection: byte-exact binary round-trip, no JSON mangling
      val rows = df.select("objectid", "attachment_id", "content_type", "data").collect()
      val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Array[Byte]](3)).toMap
      assert(got.keySet == payloads.keySet)
      payloads.foreach { case (k, expected) =>
        assert(java.util.Arrays.equals(got(k), expected), s"payload bytes differ for $k")
      }
      assert(rows.forall(_.getString(2) == "application/octet-stream"))
      // ARCGIS_PARAMS merge rides the download URL too
      assert(downloadParams.asIterator().hasNext &&
        downloadParams.peek().contains("gdbVersion=v1"))
    } finally server.stop()
  }

  private implicit class QueueOps[T](q: java.util.concurrent.ConcurrentLinkedQueue[T]) {
    def asIterator(): java.util.Iterator[T] = q.iterator()
  }

  // --------------------------------------------------- saturation halving
  test("attachments OID listing halves saturated ranges (no silent truncation)") {
    // a layer whose maxRecordCount (mock pageSize) is far below the OID
    // range width: the reader's range listing saturates and must split
    // recursively — a reader that trusted the capped response would
    // silently drop every attachment past the server cap
    val fields = Seq(ArcGisField("objectid", "esriFieldTypeOID"))
    val rows = (1L to 57L).map(i => EsriFeature(Map("objectid" -> i), None))
    val mock = new MockArcGisClient(fields, rows, pageSize = 5)
    (1L to 57L).foreach { i =>
      mock.attachmentStore.put(i,
        Seq((AttachmentInfo(1, s"a$i", "application/octet-stream", 4),
          Array[Byte](i.toByte, 0, -1, 0x7f))))
    }
    ArcGisClientRegistry.register("attach-halving", mock)
    val df = spark.read.format("arcgis")
      .option("client", "attach-halving")
      .option("attachments", "true")
      .load()
    val got = df.select("objectid", "attachment_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (1L to 57L).map(i => (i, 1L)).toSet,
      s"halving lost attachments: got ${got.size} of 57")
    // every listing request was for a sub-range small enough to be provably
    // complete: no satisfied response carried >= pageSize rows
    assert(mock.attachmentLog.toArray.length >= 57)
  }

  // ------------------------------------------------------- streaming guard
  test("readStream on attachments=true fails with guidance, not an opaque error") {
    val fields = Seq(ArcGisField("objectid", "esriFieldTypeOID"))
    val rows = Seq(EsriFeature(Map("objectid" -> 1L), None))
    ArcGisClientRegistry.register("attach-stream-guard", new MockArcGisClient(fields, rows))
    val ex = intercept[Exception] {
      spark.readStream.format("arcgis")
        .option("client", "attach-stream-guard")
        .option("attachments", "true")
        .load()
        .writeStream.format("memory").queryName("ag_guard").start()
        .processAllAvailable()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("batch-only")),
      s"expected the batch-only guidance, got: ${messages(ex)}")
  }

  // ------------------------------------------------------------- composed
  test("attachments -> imageAHash dedup composes in one plan (mock server)") {
    import graft.functions.MediaExpressions
    // fixture planes: PNG-encode three distinct text payloads via the real
    // codec expressions; plane A is planted on TWO different features (the
    // cross-feature duplicate the dedup must find), B and C are unique
    // payloads must be long and structurally distinct: a 64-bit average
    // hash over a 16-wide gray plane needs real brightness structure to
    // separate planes (short near-uniform text collides every hash)
    val tA = (0 until 256).map(i => if ((i / 16) % 2 == 0) 'z' else ' ').mkString
    val tB = (0 until 256).map(i => if (i % 3 == 0) '~' else '!').mkString
    val tC = (0 until 256).map(i => ('a' + (i * 31 % 26)).toChar).mkString
    val enc = spark.range(1).select(
      MediaExpressions.pngEncodeGray(encode(lit(tA), "UTF-8"), 16).as("a"),
      MediaExpressions.pngEncodeGray(encode(lit(tB), "UTF-8"), 16).as("b"),
      MediaExpressions.jpegEncodeGray(encode(lit(tC), "UTF-8"), 16, 0.95f).as("c"))
      .head()
    val (pa, pb, pc) = (enc.getAs[Array[Byte]]("a"), enc.getAs[Array[Byte]]("b"), enc.getAs[Array[Byte]]("c"))

    val fields = Seq(ArcGisField("objectid", "esriFieldTypeOID"),
      ArcGisField("status", "esriFieldTypeString"))
    val rows = (1L to 4L).map(i => EsriFeature(
      Map("objectid" -> i, "status" -> (if (i == 4L) "retired" else "active")), None))
    val mock = new MockArcGisClient(fields, rows)
    def info(id: Long, n: Int) = AttachmentInfo(id, s"p$id.png", "image/png", n)
    mock.attachmentStore.put(1L, Seq((info(1, pa.length), pa)))
    mock.attachmentStore.put(2L, Seq((info(1, pa.length), pa), (info(2, pb.length), pb)))
    mock.attachmentStore.put(3L, Seq((info(1, pc.length), pc)))
    // feature 4 has an attachment but is excluded by the user where below
    mock.attachmentStore.put(4L, Seq((info(1, pb.length), pb)))
    ArcGisClientRegistry.register("attach-mock", mock)

    val df = spark.read.format("arcgis")
      .option("client", "attach-mock")
      .option("attachments", "true")
      .option("where", "status = 'active'")
      .load()

    // ONE plan: remote attachment scan -> perceptual hash -> duplicate groups
    val dups = df
      .select(col("objectid"), col("attachment_id"),
        MediaExpressions.imageAHash(col("data")).as("h"))
      .groupBy(col("h"))
      .agg(collect_set(struct(col("objectid"), col("attachment_id"))).as("members"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .collect()

    assert(dups.length == 1, s"expected exactly one duplicate group, got ${dups.toSeq}")
    val members = dups(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(members == Set((1L, 1L), (2L, 1L)),
      s"duplicate group should be plane A on features 1 and 2, got $members")
    // the where-excluded feature contributed nothing
    assert(!mock.attachmentLog.toArray.exists { case (oid, _) => oid == 4L case _ => false },
      "feature 4 is excluded by the user where; its attachments must not be touched")
  }

  // ------------------------------------------------------- bulk listing (r19)
  test("supportsQueryAttachments: one bulk listing per OID window, rows " +
      "identical to the per-OID path") {
    val fields = Seq(ArcGisField("objectid", "esriFieldTypeOID"))
    val rows = (1L to 57L).map(i => EsriFeature(Map("objectid" -> i), None))
    def seed(m: MockArcGisClient): Unit = (1L to 57L).foreach { i =>
      m.attachmentStore.put(i,
        Seq((AttachmentInfo(1, s"a$i", "application/octet-stream", 4),
          Array[Byte](i.toByte, 0, -1, 0x7f))))
    }
    def scan(key: String): Seq[(Long, Long, String, Long, Seq[Byte])] =
      spark.read.format("arcgis")
        .option("client", key).option("attachments", "true").load()
        .select("objectid", "attachment_id", "name", "size", "data")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getAs[Array[Byte]](4).toSeq))
        .sortBy(t => (t._1, t._2)).toSeq

    val perOid = new MockArcGisClient(fields, rows, pageSize = 5)
    seed(perOid)
    ArcGisClientRegistry.register("attach-peroid", perOid)
    val bulk = new MockArcGisClient(fields, rows, pageSize = 5,
      supportsQueryAttachments = true)
    seed(bulk)
    ArcGisClientRegistry.register("attach-bulk", bulk)

    val a = scan("attach-peroid")
    val b = scan("attach-bulk")
    assert(a == b, "bulk and per-OID listings must produce identical rows")
    def listings(m: MockArcGisClient): Int =
      m.attachmentLog.toArray.count { case (_, None) => true; case _ => false }
    assert(listings(perOid) == 57,
      s"per-OID path pays one listing per feature, saw ${listings(perOid)}")
    assert(listings(bulk) == 0,
      "bulk path must never fall back to per-OID listings")
    import scala.jdk.CollectionConverters._
    val windows = bulk.attachmentBulkLog.asScala.toSeq
    assert(windows.nonEmpty && windows.size <= 30,
      s"one bulk call per OID window (${windows.size} windows for 57 features)")
    val listed = windows.flatten.sorted
    assert(listed == (1L to 57L).toSeq,
      "every OID listed exactly once across the bulk windows")
  }

  test("bulk listing over the wire: one queryAttachments request per window, " +
      "byte-identical rows vs per-OID") {
    val payloads: Map[(Long, Long), Array[Byte]] = Map(
      (1L, 1L) -> Array[Byte](0x50, 0x4e, 0x47, 0x00, -1, 0x7f, 0x10),
      (2L, 5L) -> Array[Byte](-1, -40, -1, -32, 0x00, 0x01),
      (3L, 7L) -> Array.tabulate(48)(i => (i * 11 % 251).toByte))
    val bulkCalls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val perOidCalls = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var advertiseBulk = false

    def infoJson(o: Long, id: Long): String =
      s"""{"id":$id,"name":"att-$o-$id.bin","contentType":"application/octet-stream","size":${payloads((o, id)).length}}"""
    val oids = Seq(1L, 2L, 3L)
    val server = new ArcGisLoopback
    server.route("/blayer", (ex: HttpExchange) => {
      val p = params(ex)
      val path = ex.getRequestURI.getPath
      val att = "/blayer/(\\d+)/attachments$".r.findFirstMatchIn(path)
      val dl = "/blayer/(\\d+)/attachments/(\\d+)$".r.findFirstMatchIn(path)
      if (dl.isDefined) {
        val bytes = payloads.getOrElse(
          (dl.get.group(1).toLong, dl.get.group(2).toLong), Array.emptyByteArray)
        ex.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      } else if (att.isDefined) {
        val oid = att.get.group(1).toLong
        perOidCalls.add(oid)
        val infos = payloads.keys.toSeq.filter(_._1 == oid).sortBy(_._2)
          .map { case (o, id) => infoJson(o, id) }
        reply(ex, infos.mkString("""{"attachmentInfos":[""", ",", "]}"))
      } else path match {
        case "/blayer" =>
          reply(ex,
            s"""{"fields":[{"name":"objectid","type":"esriFieldTypeOID"}],
               |"maxRecordCount":10,
               |"advancedQueryCapabilities":{"supportsPagination":true,
               |"supportsQueryAttachments":$advertiseBulk}}"""
              .stripMargin.replace("\n", ""))
        case "/blayer/queryAttachments" =>
          bulkCalls.add(p.getOrElse("objectIds", ""))
          val ids = p.getOrElse("objectIds", "").split(",").filter(_.nonEmpty).map(_.toLong)
          val groups = ids.toSeq.filter(o => payloads.keys.exists(_._1 == o)).map { o =>
            val infos = payloads.keys.toSeq.filter(_._1 == o).sortBy(_._2)
              .map { case (oo, id) => infoJson(oo, id) }
            s"""{"parentObjectId":$o,"attachmentInfos":[${infos.mkString(",")}]}"""
          }
          reply(ex, groups.mkString("""{"attachmentGroups":[""", ",", "]}"))
        case "/blayer/query" if p.get("returnCountOnly").contains("true") =>
          reply(ex, s"""{"count":${oids.size}}""")
        case "/blayer/query" if p.contains("outStatistics") =>
          reply(ex, s"""{"features":[{"attributes":{"__lo":${oids.min},"__hi":${oids.max}}}]}""")
        case "/blayer/query" =>
          val where = p.getOrElse("where", "1=1")
          val lo = "objectid >= (\\d+)".r.findFirstMatchIn(where).map(_.group(1).toLong).getOrElse(Long.MinValue)
          val hi = "objectid < (\\d+)".r.findFirstMatchIn(where).map(_.group(1).toLong).getOrElse(Long.MaxValue)
          val feats = oids.filter(o => o >= lo && o < hi)
            .map(o => s"""{"attributes":{"objectid":$o}}""")
          reply(ex, feats.mkString("""{"features":[""", ",", "]}"))
        case other => reply(ex, s"""{"error":{"code":400,"message":"unexpected path $other"}}""")
      }
    })
    try {
      val base = s"${server.base}/blayer"
      ArcGisClientRegistry.register("attach-http-bulk", new HttpArcGisClient(base))
      def scan(): Seq[(Long, Long, String, Long, Seq[Byte])] =
        spark.read.format("arcgis")
          .option("client", "attach-http-bulk").option("attachments", "true").load()
          .select("objectid", "attachment_id", "name", "size", "data")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
            r.getAs[Array[Byte]](4).toSeq))
          .sortBy(t => (t._1, t._2)).toSeq

      advertiseBulk = false
      val slow = scan()
      assert(perOidCalls.size() == oids.size,
        s"per-OID path: one listing per feature, saw ${perOidCalls.size()}")
      assert(bulkCalls.isEmpty, "no bulk calls without the capability")

      advertiseBulk = true
      perOidCalls.clear()
      val fast = scan()
      assert(fast == slow, "bulk and per-OID paths must be byte-identical")
      // 3 OIDs, maxRecordCount 10 → ONE window → exactly one bulk listing
      assert(bulkCalls.size() == 1,
        s"one queryAttachments request per OID window, saw ${bulkCalls.size()}")
      assert(perOidCalls.isEmpty,
        "the advertised bulk path must issue zero per-OID listings")
      val listed = bulkCalls.peek().split(",").map(_.toLong).sorted.toSeq
      assert(listed == oids, s"the bulk request must cover the window's OIDs, got $listed")
    } finally server.stop()
  }

  // ------------------------------------------- error envelope on download (r19)
  test("HTTP-200 error envelope on a download is detected, not ingested as payload") {
    val server = new ArcGisLoopback
    server.route("/elayer", (ex: HttpExchange) => {
      val p = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val path = ex.getRequestURI.getPath
      def reply(body: String): Unit = ArcGisLoopback.reply(ex, body)
      if ("/elayer/\\d+/attachments/\\d+$".r.findFirstIn(path).isDefined)
        // the ArcGIS failure mode under test: HTTP 200, JSON error body
        reply("""{"error":{"code":498,"message":"Invalid token","details":[]}}""")
      else if ("/elayer/\\d+/attachments$".r.findFirstIn(path).isDefined)
        reply("""{"attachmentInfos":[{"id":1,"name":"a.bin","contentType":"application/octet-stream","size":7}]}""")
      else path match {
        case "/elayer" =>
          reply("""{"fields":[{"name":"objectid","type":"esriFieldTypeOID"}],"maxRecordCount":10}""")
        case "/elayer/query" if p.contains("returnCountOnly") => reply("""{"count":1}""")
        case "/elayer/query" if p.contains("outStatistics") =>
          reply("""{"features":[{"attributes":{"__lo":1,"__hi":1}}]}""")
        case _ => reply("""{"features":[{"attributes":{"objectid":1}}]}""")
      }
    })
    try {
      val base = s"${server.base}/elayer"
      ArcGisClientRegistry.register("attach-errenv", new HttpArcGisClient(base))
      val df = spark.read.format("arcgis")
        .option("client", "attach-errenv").option("attachments", "true").load()
      // metadata-only projection is unaffected (no download happens)
      assert(df.select("objectid", "attachment_id").collect().length == 1)
      // payload projection must throw the descriptive envelope error, not
      // deliver the JSON bytes to the binary operators
      val ex = intercept[Exception](df.select("data").collect())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(m => m.contains("error envelope") && m.contains("498")),
        s"expected the code-498 envelope error, got: ${messages(ex)}")
    } finally server.stop()
  }

  // ---------------------------------------------- planning diagnostics (r19)
  test("unusable OID bounds on a non-empty layer fail loudly, not as an empty table") {
    val fields = Seq(ArcGisField("objectid", "esriFieldTypeOID"))
    val rows = Seq(EsriFeature(Map("objectid" -> 1L), None))
    // a server whose stats probe yields nothing usable (no outStatistics
    // support) while the layer plainly has rows
    val mock = new MockArcGisClient(fields, rows) {
      override def queryStatistics(where: String, groupBy: Seq[String],
          stats: Seq[StatSpec]): Seq[Map[String, Any]] = Seq.empty
    }
    ArcGisClientRegistry.register("attach-nobounds", mock)
    val df = spark.read.format("arcgis")
      .option("client", "attach-nobounds").option("attachments", "true").load()
    val ex = intercept[Exception](df.collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("OBJECTID bounds")),
      s"expected the descriptive bounds error, got: ${messages(ex)}")
  }

  // ------------------------------------- streaming composition recipe (r19)
  test("RECIPE: incremental feature stream + per-batch attachments join + " +
      "aHash dedup, exactly-once across restart") {
    // The readStream guard on attachments=true points users at this exact
    // composition ("stream the feature layer and join attachments per
    // batch") — this is that guidance in executable form: an incremental
    // OID stream drives foreachBatch, each batch does a BATCH attachments
    // read windowed to the batch's OIDs, joins it to the batch rows, and
    // hashes payloads for dedup; a restart from the checkpoint must not
    // re-deliver (exactly-once), and the planted cross-feature duplicate
    // must surface in the accumulated hashes.
    import org.apache.spark.sql.streaming.Trigger
    import graft.functions.MediaExpressions
    val tA = (0 until 256).map(i => if ((i / 16) % 2 == 0) 'z' else ' ').mkString
    val tB = (0 until 256).map(i => if (i % 3 == 0) '~' else '!').mkString
    val enc = spark.range(1).select(
      MediaExpressions.pngEncodeGray(encode(lit(tA), "UTF-8"), 16).as("a"),
      MediaExpressions.pngEncodeGray(encode(lit(tB), "UTF-8"), 16).as("b")).head()
    val (pa, pb) = (enc.getAs[Array[Byte]]("a"), enc.getAs[Array[Byte]]("b"))

    val fields = Seq(ArcGisField("objectid", "esriFieldTypeOID"),
      ArcGisField("name", "esriFieldTypeString"))
    def feat(i: Long) = EsriFeature(Map("objectid" -> i, "name" -> s"f$i"), None)
    // growable mock: rows appear between micro-batches, attachments ride
    // the SAME client (the per-batch attachments read hits the same layer)
    val client = new MockArcGisClient(fields, (1L to 3L).map(feat), pageSize = 10,
        supportsQueryAttachments = true) {
      @volatile var extra: Seq[EsriFeature] = Seq.empty
      def grow(more: Seq[EsriFeature]): Unit = extra = extra ++ more
      private def live = new MockArcGisClient(fields, rows ++ extra, pageSize)
      override def queryPage(offset: Long, count: Int, where: String,
          outFields: Seq[String], envelope: Option[Envelope],
          outSR: Option[String]): Seq[EsriFeature] =
        live.queryPage(offset, count, where, outFields, envelope, outSR)
      override def queryStatistics(where: String, groupBy: Seq[String],
          stats: Seq[StatSpec]): Seq[Map[String, Any]] =
        live.queryStatistics(where, groupBy, stats)
      override def layerInfo(): LayerInfo =
        LayerInfo(fields, pageSize, (rows ++ extra).size.toLong, true, true)
    }
    def put(oid: Long, bytes: Array[Byte]): Unit =
      client.attachmentStore.put(oid,
        Seq((AttachmentInfo(1, s"p$oid.png", "image/png", bytes.length), bytes)))
    put(1L, pa); put(2L, pb); put(3L, pa) // planted dup: plane A on 1 and 3
    ArcGisClientRegistry.register("attach-recipe", client)

    val ckpt = java.nio.file.Files.createTempDirectory("attach-recipe-ckpt").toString
    val delivered =
      new java.util.concurrent.CopyOnWriteArrayList[(Long, String, Long)]()
    def start() = spark.readStream.format("arcgis")
      .option("client", "attach-recipe").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val oids = batch.select("objectid").collect().map(_.getLong(0))
        if (oids.nonEmpty) {
          // the guard's guidance, literally: a BATCH attachments read
          // windowed to this batch's OIDs, joined back to the batch rows
          val atts = spark.read.format("arcgis")
            .option("client", "attach-recipe")
            .option("attachments", "true")
            .option("where", s"objectid >= ${oids.min} AND objectid <= ${oids.max}")
            .load()
          batch.select(col("objectid"), col("name"))
            .join(atts.select(col("objectid"), col("data")), Seq("objectid"))
            .select(col("objectid"), col("name"),
              MediaExpressions.imageAHash(col("data")).as("h"))
            .collect()
            .foreach(r => delivered.add((r.getLong(0), r.getString(1), r.getLong(2))))
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(50)).start()

    import scala.jdk.CollectionConverters._
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(delivered.asScala.map(_._1).toSeq.sorted == Seq(1L, 2L, 3L),
        s"backfill joins each feature to its attachment once, got $delivered")
    } finally q1.stop()

    // new features (one reusing plane B) arrive while the stream is DOWN;
    // the restarted query resumes from the checkpoint: only 4 and 5 deliver
    client.grow(Seq(feat(4L), feat(5L)))
    put(4L, pb); put(5L, pa)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val all = delivered.asScala.toSeq
      assert(all.map(_._1).sorted == Seq(1L, 2L, 3L, 4L, 5L),
        s"exactly-once across restart: no re-delivery, no loss — got $all")
      // the dedup the recipe exists for: plane A rode features 1, 3 and 5
      val byHash = all.groupBy(_._3).values.map(_.map(_._1).toSet).toSet
      assert(byHash.contains(Set(1L, 3L, 5L)),
        s"cross-feature duplicate group (plane A) must surface, got $byHash")
    } finally q2.stop()
  }

  test("malformed attachments option fails at plan time with a descriptive message") {
    val fields = Seq(ArcGisField("objectid", "esriFieldTypeOID"))
    ArcGisClientRegistry.register("attach-opt",
      new MockArcGisClient(fields, Seq(EsriFeature(Map("objectid" -> 1L), None))))
    val ex = intercept[IllegalArgumentException] {
      spark.read.format("arcgis")
        .option("client", "attach-opt").option("attachments", "ture").load()
    }
    assert(ex.getMessage.contains("attachments must be 'true' or 'false'"),
      s"expected the plan-time validation message, got: ${ex.getMessage}")
  }
}
