package graft.sources.arcgis

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

/** Production transport for [[ArcGisClient]] over the ArcGIS REST API —
  * the endpoints the reference drives: `/query` (`/root/reference/
  * task.ts:270`), `/queryTopFeatures` (`task.ts:400`), `/addFeatures`
  * (`task.ts:239`), `/updateFeatures` (`task.ts:321`). Auth is the
  * reference's token/referer pattern (`task.ts:373-388`) behind an
  * expiry-aware [[AuthCache]] amortized per executor.
  *
  * Deliberately dependency-free (java.net.http + [[MiniJson]]) since the
  * build is offline. Replies are read as bytes and decoded by MiniJson's
  * one reader; an HTTP-200 `{"error":…}` reply fails (or re-authenticates
  * and retries) like the HTTP status it names. Integration-tested
  * against a loopback ArcGIS stub (`HttpArcGisClientSpec` — pagination,
  * pushdown-over-the-wire, token/referer, write envelopes); engine logic
  * above the transport is additionally exercised through
  * [[MockArcGisClient]].
  */
class HttpArcGisClient(
    layerUrl: String,
    auth: Option[AuthCache] = None,
    referer: Option[String] = None,
    maxAttempts: Int = 4,
    backoffMs: Long = 200,
    sleep: Long => Unit = Thread.sleep,
    // the reference's ARCGIS_PARAMS {Key,Value}[] merge (task.ts:20-23,
    // 410-414): arbitrary key/values appended to every query request —
    // LAST, so a user param overrides an engine default of the same name,
    // exactly as esri-dump's spread does
    extraParams: Seq[(String, String)] = Seq.empty
) extends ArcGisClient {

  @transient private lazy val http = HttpClient.newHttpClient()

  /** The reference's `update()` connection-refresh entry point
    * (`task.ts:137-153`): force a re-authentication against the portal and
    * re-cache the token. A no-op for unauthenticated clients, exactly as
    * the reference's Incoming flow returns early.
    */
  def update(): Unit = auth.foreach(_.refresh())

  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)

  private def withAuth(params: Seq[(String, String)]): Seq[(String, String)] =
    params ++ auth.map(a => "token" -> a.token()).toSeq

  /** Transient failures (throttling, server errors, connection resets) are
    * retried with exponential backoff and deterministic jitter — a retried
    * partition must behave identically on a task re-run, so no random
    * jitter. Auth failures (HTTP 401/403, and the token codes 498 invalid /
    * 499 required that ArcGIS sends in an HTTP-200 error envelope)
    * additionally invalidate the cached token so the next attempt
    * re-authenticates (expiry races). Other 4xx codes are permanent and fail
    * fast. An error envelope is judged by its code exactly as an HTTP status
    * would be, and a failure carries the server's code and message.
    *
    * Writes (`idempotent = false`: addFeatures/updateFeatures) are NOT
    * retried on 5xx or mid-flight I/O loss — the server may have applied the
    * edit before the reply was lost, and a blind re-submit would duplicate
    * features (the reference client never retries writes, `task.ts:239,321`).
    * Writes still retry the provably-not-applied cases: auth failures and
    * 429 (rejected before the edit ran) and connect-phase failures (the
    * request never reached the server).
    */
  private def authFailure(code: Int): Boolean =
    code == 401 || code == 403 || code == 498 || code == 499

  private def retryable(code: Int, idempotent: Boolean): Boolean =
    code == 429 || authFailure(code) || (idempotent && code >= 500)

  private def connectPhase(e: java.io.IOException): Boolean = e match {
    case _: java.net.ConnectException => true
    case _: java.net.http.HttpConnectTimeoutException => true
    case _: java.net.UnknownHostException => true
    case _ => false
  }

  /** Send with the retry policy above; `decode` reads the response body and
    * raises [[ArcGisErrorEnvelope]] on an error reply.
    */
  private def send[T](what: String, build: () => HttpRequest, idempotent: Boolean)(
      decode: Array[Byte] => T): T = {
    var attempt = 1
    while (true) {
      val rejected: (Int, String) =
        try {
          val r = http.send(build(), HttpResponse.BodyHandlers.ofByteArray())
          if (r.statusCode() < 400) return decode(r.body())
          (r.statusCode(), s"HTTP ${r.statusCode()}")
        } catch {
          case e: ArcGisErrorEnvelope => (e.code, e.getMessage)
          case e: java.io.IOException =>
            if ((!idempotent && !connectPhase(e)) || attempt >= maxAttempts)
              throw new RuntimeException(
                s"ArcGIS $what failed after $attempt attempt(s): ${e.getMessage}", e)
            null
        }
      if (rejected != null) {
        val (code, failure) = rejected
        if (authFailure(code)) auth.foreach(_.invalidate())
        if (!retryable(code, idempotent) || attempt >= maxAttempts)
          throw new RuntimeException(s"ArcGIS $what failed: $failure after $attempt attempt(s)")
      }
      sleep(backoffMs * (1L << (attempt - 1)) + (attempt * 37) % math.max(backoffMs, 1))
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Engine params with the user's ARCGIS_PARAMS merged in: a user key
    * REPLACES the engine default of the same name (no duplicate query keys
    * — server behavior on duplicates is undefined).
    */
  private def withExtras(params: Seq[(String, String)]): Seq[(String, String)] =
    if (extraParams.isEmpty) params
    else {
      val overridden = extraParams.map(_._1).toSet
      params.filterNot(p => overridden.contains(p._1)) ++ extraParams
    }

  /** Encoded read-request parameter string — auth token, user extras and the
    * `f=json` envelope selector applied, re-evaluated per attempt so an
    * invalidated token is re-fetched.
    */
  private def readQs(params: Seq[(String, String)]): String =
    (withAuth(withExtras(params)) :+ ("f" -> "json"))
      .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")

  /** Fronting servers cap the query string long before the endpoint's
    * logical limits — IIS (the common ArcGIS Server front) defaults
    * `maxQueryString` to 2048 chars. A bulk `objectIds` window of 1000 OIDs
    * (~20 KB) or a DPP-injected `key IN (...)` where-clause overflows a GET
    * silently (the front replies 404/414 with no layer-level diagnostic).
    * Reads whose encoded params exceed this bound switch verb to a
    * form-encoded POST of the SAME params — ArcGIS query endpoints accept
    * both verbs identically — while keeping `idempotent = true`: the retry
    * policy follows the operation's read semantics, not the verb.
    */
  private val maxGetQueryChars = 2000

  private def get[T](path: String, params: Seq[(String, String)])(decode: Array[Byte] => T): T =
    if (readQs(params).length <= maxGetQueryChars)
      send(s"GET $path", () => {
        val builder =
          HttpRequest.newBuilder(URI.create(s"$layerUrl$path?${readQs(params)}")).GET()
        referer.foreach(r => builder.header("Referer", r))
        builder.build()
      }, idempotent = true)(decode)
    else
      send(s"POST(read) $path", () => {
        val builder = HttpRequest.newBuilder(URI.create(s"$layerUrl$path"))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(HttpRequest.BodyPublishers.ofString(readQs(params)))
        referer.foreach(r => builder.header("Referer", r))
        builder.build()
      }, idempotent = true)(decode)

  private def post[T](path: String, params: Seq[(String, String)])(decode: Array[Byte] => T): T =
    send(s"POST $path", () => {
      val body = (withAuth(params) :+ ("f" -> "json"))
        .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
      val builder = HttpRequest.newBuilder(URI.create(s"$layerUrl$path"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(body))
      referer.foreach(r => builder.header("Referer", r))
      builder.build()
    }, idempotent = false)(decode)

  override def layerInfo(): LayerInfo = {
    val json = get("", Seq.empty)(MiniJson.reply)
    val fields = json.arr("fields").map { f =>
      ArcGisField(f.str("name"), f.str("type"))
    }
    val count = get("/query", Seq("where" -> "1=1", "returnCountOnly" -> "true"))(MiniJson.reply)
    LayerInfo(
      fields,
      json.num("maxRecordCount").map(_.toInt).getOrElse(1000),
      count.num("count").map(_.toLong).getOrElse(0L),
      json.obj("advancedQueryCapabilities")
        .flatMap(_.bool("supportsPagination")).getOrElse(true),
      json.obj("advancedQueryCapabilities")
        .flatMap(_.bool("supportsQueryAttachments"))
        // some servers surface the capability at the top level
        .orElse(json.bool("supportsQueryAttachments"))
        .getOrElse(false)
    )
  }

  /** `count < 0` = no explicit cap: the OID-range scan omits BOTH pagination
    * parameters (they require `supportsPagination`, which is exactly what
    * that mode works around) and lets the server cap at its maxRecordCount.
    *
    * SR discipline: every feature read requests `outSR=4326`, so geom_x /
    * geom_y are ALWAYS WGS-84 lon/lat regardless of the layer's native SR —
    * and the pushed envelope declares the SAME wkid via `inSR`. Predicate
    * units, envelope units, and returned coordinates therefore live in one
    * SR; without the fixed outSR, a non-4326 layer would have the server
    * reproject the envelope while shipping native-SR coordinates, silently
    * excluding matching rows that no residual engine filter could recover.
    */
  override def queryPage(
      offset: Long, count: Int, where: String, outFields: Seq[String],
      envelope: Option[Envelope] = None, outSR: Option[String] = None
  ): Seq[EsriFeature] = {
    // user-chosen SR (read option `outSR`) replaces the 4326 default for
    // BOTH outSR and the envelope's inSR: predicates over geom_x/geom_y are
    // written against the coordinates the user receives, the pushed bbox is
    // derived from those predicates, and declaring the envelope in the same
    // wkid keeps one unit system end to end (the server reprojects the
    // envelope internally) — the SR discipline is preserved, just in the
    // caller's frame instead of WGS-84
    val sr = outSR.getOrElse("4326")
    get("/query", Seq(
      "where" -> where,
      "outFields" -> (if (outFields.isEmpty) "*" else outFields.mkString(",")),
      "outSR" -> sr
    ) ++ (if (count >= 0) Seq(
      "resultOffset" -> offset.toString,
      "resultRecordCount" -> count.toString,
      "orderByFields" -> "OBJECTID" // stable pagination order
    ) else Seq.empty)
      ++ envelope.toSeq.flatMap(e => Seq(
        "geometry" -> s"""{"xmin":${e.xmin},"ymin":${e.ymin},"xmax":${e.xmax},"ymax":${e.ymax}}""",
        "geometryType" -> "esriGeometryEnvelope",
        "spatialRel" -> "esriSpatialRelIntersects",
        "inSR" -> sr // same SR as outSR — one unit system end to end
      )))(MiniJson.features)
  }

  override def queryTopFeatures(
      topCount: Int, groupByField: String, orderByField: String,
      where: String, outFields: Seq[String], outSR: Option[String] = None
  ): Seq[EsriFeature] =
    get("/queryTopFeatures", Seq(
      "where" -> where,
      "outFields" -> (if (outFields.isEmpty) "*" else outFields.mkString(",")),
      "outSR" -> outSR.getOrElse("4326"), // same SR discipline as queryPage
      "topFilter" -> s"""{"groupByFields":"$groupByField","topCount":$topCount,"orderByFields":"$orderByField"}"""
    ))(MiniJson.features)

  override def queryByKey(keyCol: String, key: String): Seq[EsriFeature] =
    get("/query", Seq(
      "where" -> s"$keyCol = '${key.replace("'", "''")}'",
      "outFields" -> "*"
    ))(MiniJson.features)

  override def attachmentInfos(oid: Long): Seq[AttachmentInfo] =
    get(s"/$oid/attachments", Seq.empty)(MiniJson.reply).arr("attachmentInfos").map { a =>
      AttachmentInfo(
        a.num("id").map(_.toLong).getOrElse(-1L),
        a.str("name"),
        a.str("contentType"),
        a.num("size").map(_.toLong).getOrElse(0L))
    }

  /** Bulk listing via the layer's `queryAttachments` endpoint — one
    * round-trip per OID window instead of one per feature. The public REST
    * surface keys the response by `parentObjectId` in `attachmentGroups[]`;
    * `returnUrl=false` keeps the reply metadata-only (payloads stay on the
    * per-attachment download path, fetched only when the pruned schema
    * still needs `data`).
    */
  override def queryAttachments(oids: Seq[Long]): Seq[(Long, AttachmentInfo)] =
    if (oids.isEmpty) Seq.empty
    else get("/queryAttachments", Seq(
      "objectIds" -> oids.mkString(","),
      "returnUrl" -> "false"
    ))(MiniJson.reply).arr("attachmentGroups").flatMap { g =>
      val parent = g.num("parentObjectId").map(_.toLong).getOrElse(-1L)
      g.arr("attachmentInfos").map { a =>
        parent -> AttachmentInfo(
          a.num("id").map(_.toLong).getOrElse(-1L),
          a.str("name"),
          a.str("contentType"),
          a.num("size").map(_.toLong).getOrElse(0L))
      }
    }

  /** Raw download form of the attachments endpoint: no `f=json` envelope —
    * the response body IS the file. Auth/extras still apply; idempotent GET
    * retries as usual.
    */
  override def attachment(oid: Long, attachmentId: Long): Array[Byte] =
    send(
      s"GET /$oid/attachments/$attachmentId",
      () => {
        val qs = withAuth(withExtras(Seq.empty))
          .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
        val sep = if (qs.isEmpty) "" else "?"
        val builder = HttpRequest
          .newBuilder(URI.create(s"$layerUrl/$oid/attachments/$attachmentId$sep$qs"))
          .GET()
        referer.foreach(r => builder.header("Referer", r))
        builder.build()
      },
      idempotent = true)(payload)

  /** ArcGIS servers commonly report download failures (expired/invalid
    * token, bad attachment id) as HTTP 200 with a JSON `{"error":...}`
    * envelope. Returning that body as the payload would silently feed
    * corrupt bytes to the binary operators, so it raises like any other
    * error reply (a token code re-authenticates and retries). The gate is
    * conservative: bytes must start with '{' (after whitespace), be small
    * enough to plausibly be an envelope, parse as JSON, AND carry an
    * `error` object — a real binary attachment never trips all four.
    */
  private def payload(bytes: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < bytes.length && Character.isWhitespace(bytes(i).toChar)) i += 1
    if (i < bytes.length && bytes(i) == '{' && bytes.length <= 65536) {
      val parsed =
        try Some(MiniJson.parse(bytes))
        catch { case _: RuntimeException => None } // not JSON → a real payload
      parsed.foreach(MiniJson.checkReply)
    }
    bytes
  }

  private def writeResults(resultKey: String)(body: Array[Byte]): Seq[Either[String, Long]] =
    MiniJson.reply(body).arr(resultKey).map { r =>
      if (r.bool("success").contains(true))
        Right(r.num("objectId").map(_.toLong).getOrElse(-1L))
      else Left(r.obj("error").flatMap(_.strOpt("description")).getOrElse("unknown error"))
    }

  override def addFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]] =
    post("/addFeatures", Seq("features" -> MiniJson.featuresJson(feats)))(
      writeResults("addResults"))

  override def updateFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]] =
    post("/updateFeatures", Seq("features" -> MiniJson.featuresJson(feats)))(
      writeResults("updateResults"))

  override def queryStatistics(
      where: String, groupBy: Seq[String], stats: Seq[StatSpec]
  ): Seq[Map[String, Any]] = {
    val outStats = stats.map { s =>
      s"""{"statisticType":"${s.statisticType}","onStatisticField":"${s.onField}",""" +
        s""""outStatisticFieldName":"${s.outName}"}"""
    }.mkString("[", ",", "]")
    val params = Seq(
      "where" -> where,
      "outStatistics" -> outStats,
      "returnGeometry" -> "false"
    ) ++ (if (groupBy.nonEmpty) Seq("groupByFieldsForStatistics" -> groupBy.mkString(",")) else Seq.empty)
    get("/query", params)(MiniJson.features).map(_.attributes)
  }
}
