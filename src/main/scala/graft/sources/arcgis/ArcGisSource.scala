package graft.sources.arcgis

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** ArcGIS layer scan as a Spark DataSource V2 (SURVEY.md §2.1 S1-S5):
  *
  * {{{
  * spark.read.format("arcgis")
  *   .option("client", "<registry key>")        // transport (HTTP or mock)
  *   .option("where", "status = 'active'")      // ARCGIS_QUERY passthrough (S3)
  *   .option("strategy", "query")               // or "queryTopFeatures" (S2)
  *   .option("outSR", "3857")                   // server-side reprojection
  *   .load()
  * }}}
  *
  * Improvements over the reference's esri-dump pagination
  * (`/root/reference/task.ts:398-418`), per SURVEY.md §4:
  *   - **parallel pagination**: one InputPartition per offset window, so a
  *     1000-executor cluster fans the HTTP pages out instead of the
  *     reference's sequential single-threaded loop;
  *   - **typed predicate pushdown** (`SupportsPushDownFilters`): Catalyst
  *     filters compile to an ArcGIS SQL-92 `where`; what can't compile stays
  *     a residual Spark Filter (the reference only forwards raw user
  *     strings);
  *   - **column pruning** (`SupportsPushDownRequiredColumns`) → `outFields`,
  *     where the reference always requests `*` (`task.ts:273`).
  */
class ArcGisTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "arcgis"

  /** Unconfigured source → empty schema rather than an error, matching the
    * reference's `schema()` behavior when no layer/URL is set
    * (`task.ts:64,69,86,89`, v7.2.0/v5.7.0 `CHANGELOG.md:143,183`).
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.get("client") == null) new StructType()
    // attachments=true: the scan reads the layer's ATTACHMENTS surface
    // (`{layer}/{oid}/attachments`) instead of its rows — one row per
    // attachment with the payload as a BinaryType column, the shape the
    // multimodal (m-family) operators consume directly. Options are
    // validated HERE (the earliest plan-time hook) so a malformed toggle
    // fails with the same descriptive message strategy/pageSize get, not a
    // raw String.toBoolean exception.
    else if ({ ArcGisConfigSchema.validateOptions(options)
               Option(options.get("attachments")).exists(_.toBoolean) })
      ArcGisAttachmentsSchema.schema
    else {
      val base = ArcGisSchema.structFor(
        ArcGisClientRegistry.get(options.get("client")).layerInfo().fields)
      // deletes=true (streaming tombstones): the scan gains a synthetic
      // `_deleted` marker — false on live rows, true on change-tracking
      // tombstones (see ArcGisMicroBatchStream)
      if (Option(options.get("deletes")).exists(_.toBoolean))
        base.add(StructField("_deleted", BooleanType, nullable = false))
      else base
    }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = new ArcGisTable(schema, new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = true
}

/** Fixed schema of an `attachments=true` scan: one row per attachment of
  * the layer's features. Metadata columns come from the listing
  * (`attachmentInfos[]`); `data` is the raw download — BinaryType, so the
  * multimodal operators (imageAHash, codec decode, magic sniff) compose
  * directly onto the scan. Column pruning is load-bearing here: a plan
  * that never reads `data` (manifest/accounting queries) skips the
  * per-attachment download entirely and only pays the per-OID listing.
  */
object ArcGisAttachmentsSchema {
  val schema: StructType = StructType(Seq(
    StructField("objectid", LongType, nullable = false),
    StructField("attachment_id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("content_type", StringType),
    StructField("size", LongType),
    StructField("data", BinaryType)))
}

/** ArcGIS `fields[]` metadata → Catalyst schema (S5). Dates surface as
  * strings to match the reference pipeline's esri-dump >= 3.8.0 behavior
  * (`/root/reference/CHANGELOG.md:265-266`). Point-layer geometry appears as
  * nullable `geom_x`/`geom_y` doubles.
  */
object ArcGisSchema {
  def typeFor(esriType: String): DataType = esriType match {
    case "esriFieldTypeOID" => LongType
    case "esriFieldTypeInteger" => IntegerType
    case "esriFieldTypeSmallInteger" => IntegerType
    case "esriFieldTypeDouble" => DoubleType
    case "esriFieldTypeSingle" => FloatType
    case "esriFieldTypeDate" => StringType
    case _ => StringType // String, GlobalID, GUID, unknown
  }

  def structFor(fields: Seq[ArcGisField]): StructType =
    StructType(
      fields.map(f => StructField(f.name, typeFor(f.esriType), nullable = true)) ++
        Seq(StructField("geom_x", DoubleType), StructField("geom_y", DoubleType))
    )

  /** JSON-Schema document → Catalyst `StructType` (SURVEY §7.1 step 1): the
    * reference's `schema()` surface emits TypeBox JSON Schema
    * (`/root/reference/task.ts:13-46`, and esri-dump's `dumper.schema()` for
    * the output side) — this converter lets such a document drive an engine
    * schema directly. Handles `object`/`properties` (recursively),
    * `array`/`items`, the four scalar types, and `required[]` →
    * non-nullable. Properties are emitted in NAME order (JSON objects are
    * unordered; sorting makes the result deterministic).
    */
  def fromJsonSchema(json: String): StructType =
    objectType(MiniJson.parse(json))

  private def objectType(node: MiniJson.JValue): StructType = {
    val required = node.fields.get("required") match {
      case Some(s: Seq[_]) => s.map(String.valueOf(_)).toSet
      case _ => Set.empty[String]
    }
    val props = node.obj("properties").map(_.fields).getOrElse(Map.empty)
    StructType(props.keys.toSeq.sorted.map { name =>
      val prop = MiniJson.JValue(props(name))
      StructField(name, dataTypeOf(prop), nullable = !required.contains(name))
    })
  }

  private def dataTypeOf(prop: MiniJson.JValue): DataType =
    prop.str("type") match {
      case "string" => StringType
      case "integer" => LongType
      case "number" => DoubleType
      case "boolean" => BooleanType
      case "object" => objectType(prop)
      case "array" =>
        ArrayType(prop.obj("items").map(dataTypeOf).getOrElse(StringType))
      case other => StringType // unknown/untyped: the permissive edge default
    }
}

/** Catalyst [[Filter]] → ArcGIS SQL-92 `where` clause (the compiler the
  * reference never needed because it pushed raw user strings,
  * `task.ts:406-408`). Returns None for predicates the remote dialect can't
  * express — those stay in Spark as residual filters.
  */
object ArcGisFilterCompiler {
  private def lit(v: Any): Option[String] = v match {
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Float | _: Double) => Some(n.toString)
    case b: Boolean => Some(if (b) "1" else "0")
    case _ => None // timestamps/decimals: stay residual for fidelity
  }

  def compile(f: Filter): Option[String] = f match {
    case EqualTo(a, v) => lit(v).map(l => s"$a = $l")
    case GreaterThan(a, v) => lit(v).map(l => s"$a > $l")
    case GreaterThanOrEqual(a, v) => lit(v).map(l => s"$a >= $l")
    case LessThan(a, v) => lit(v).map(l => s"$a < $l")
    case LessThanOrEqual(a, v) => lit(v).map(l => s"$a <= $l")
    case In(a, vs) =>
      val ls = vs.toSeq.map(lit)
      if (ls.forall(_.isDefined)) Some(s"$a IN (${ls.flatten.mkString(", ")})") else None
    case IsNull(a) => Some(s"$a IS NULL")
    case IsNotNull(a) => Some(s"$a IS NOT NULL")
    case StringStartsWith(a, v) => Some(s"$a LIKE '${v.replace("'", "''")}%'")
    case And(l, r) => for (cl <- compile(l); cr <- compile(r)) yield s"($cl AND $cr)"
    case Or(l, r) => for (cl <- compile(l); cr <- compile(r)) yield s"($cl OR $cr)"
    case Not(c) => compile(c).map(cc => s"NOT ($cc)")
    case _ => None
  }
}

class ArcGisTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"arcgis(${options.get("client")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ArcGisScanBuilder(schema, opts)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo
  ): org.apache.spark.sql.connector.write.WriteBuilder =
    new ArcGisWriteBuilder(info)
}

/** Catalyst V2 [[Aggregation]] → ArcGIS `outStatistics` (+
  * `groupByFieldsForStatistics`). The remote statistics endpoint computes
  * count/min/max/sum/avg server-side — at scale the scan then ships one row
  * per group instead of the whole layer (the reference always dumps every
  * feature and has no aggregation at all). Returns None when any piece is
  * outside the remote dialect (distinct aggregates, expressions over
  * columns, synthetic geometry fields, date fields whose remote
  * representation — epoch millis — differs from the engine's string
  * surface); those aggregations stay engine-side.
  */
object ArcGisAggCompiler {
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, NamedReference}

  case class PushedAgg(groupBy: Seq[String], stats: Seq[StatSpec], readSchema: StructType)

  private def fieldName(e: V2Expr): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames().length == 1 => Some(nr.fieldNames()(0))
    case _ => None
  }

  def compile(
      agg: Aggregation,
      schema: StructType,
      layerFields: Seq[ArcGisField]
  ): Option[PushedAgg] = {
    val esriType = layerFields.map(f => f.name -> f.esriType).toMap
    def attrField(n: String): Boolean =
      n != "geom_x" && n != "geom_y" && schema.fieldNames.contains(n)
    // dates surface engine-side as strings but aggregate remotely as epoch
    // millis — keep their min/max/sum/avg engine-side for fidelity
    def statField(n: String): Boolean =
      attrField(n) && !esriType.get(n).contains("esriFieldTypeDate")
    def numeric(n: String): Boolean = schema(n).dataType match {
      case LongType | IntegerType | DoubleType | FloatType => true
      case _ => false
    }
    def sumType(n: String): DataType = schema(n).dataType match {
      case LongType | IntegerType => LongType
      case _ => DoubleType
    }
    val oid = layerFields.find(_.esriType == "esriFieldTypeOID").map(_.name)

    val gb = agg.groupByExpressions().toSeq.map(fieldName)
    if (!gb.forall(_.exists(attrField))) return None
    val groupBy = gb.flatten

    val stats = agg.aggregateExpressions().toSeq.zipWithIndex.map {
      case (_: CountStar, i) =>
        // count of the never-null OID field == row count
        oid.map(o => (StatSpec("count", o, s"stat_$i"), LongType: DataType))
      case (c: Count, i) if !c.isDistinct =>
        fieldName(c.column).filter(attrField)
          .map(f => (StatSpec("count", f, s"stat_$i"), LongType: DataType))
      case (m: Min, i) =>
        fieldName(m.column).filter(statField)
          .map(f => (StatSpec("min", f, s"stat_$i"), schema(f).dataType))
      case (m: Max, i) =>
        fieldName(m.column).filter(statField)
          .map(f => (StatSpec("max", f, s"stat_$i"), schema(f).dataType))
      case (s: Sum, i) if !s.isDistinct =>
        fieldName(s.column).filter(f => statField(f) && numeric(f))
          .map(f => (StatSpec("sum", f, s"stat_$i"), sumType(f)))
      case (a: Avg, i) if !a.isDistinct =>
        fieldName(a.column).filter(f => statField(f) && numeric(f))
          .map(f => (StatSpec("avg", f, s"stat_$i"), DoubleType: DataType))
      case _ => None
    }
    if (stats.exists(_.isEmpty) || stats.isEmpty) return None

    // contract with V2ScanRelationPushDown: readSchema = group cols (in
    // group-by order, source types), then one field per aggregate (Spark's
    // aggregate result types: count→long, sum(integral)→long, avg→double)
    val fields = groupBy.map(n => StructField(n, schema(n).dataType)) ++
      stats.flatten.map { case (s, dt) => StructField(s.outName, dt) }
    Some(PushedAgg(groupBy, stats.flatten.map(_._1), StructType(fields)))
  }
}

class ArcGisScanBuilder(schema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {

  // plan-time option validation (strategy enum, numeric options) — the
  // reference's TypeBox enum check, failing at scan build, not mid-fan-out
  ArcGisConfigSchema.validateOptions(options)

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = schema
  private var limit: Option[Int] = None
  private var pushedAgg: Option[ArcGisAggCompiler.PushedAgg] = None

  // attachments=true reads the layer's attachments surface: its columns are
  // synthetic (not layer fields), so field/aggregate/limit pushdowns don't
  // apply — only the user `where` (feature selection) and column pruning do
  private val attachmentsMode =
    Option(options.get("attachments")).exists(_.toBoolean)

  private def translatable(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation) = {
    // the topFeatures strategy is already a different remote computation —
    // don't stack server-side statistics on top of it
    val strategy = Option(options.get("strategy")).getOrElse("query")
    if (attachmentsMode || !strategy.equalsIgnoreCase("query")) None
    else ArcGisAggCompiler.compile(
      agg, schema, ArcGisClientRegistry.get(options.get("client")).layerInfo().fields)
  }

  /** Results from `outStatistics` are final per group, so the pushdown is
    * complete: Spark plans no re-aggregation. (A partial push of the same
    * stats would also merge correctly — min of one min, sum of one count —
    * but complete keeps the plan minimal.)
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translatable(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = translatable(agg)
    pushedAgg.isDefined
  }

  /** LIMIT → the pagination planner stops issuing pages past the limit
    * (`resultRecordCount` caps the last page). Spark still applies the
    * final exact limit; the pushdown saves the remote round-trips the
    * reference's full dump would have made.
    */
  override def pushLimit(l: Int): Boolean =
    // attachment rows fan out per feature, so a row limit doesn't map to a
    // feature-page budget — keep the limit engine-side in that mode
    if (attachmentsMode) false else { limit = Some(l); true }

  /** Partially pushed: the engine KEEPS its limit operator. Required for
    * the non-paginating fallbacks (a single unpaginated request returns up
    * to the server cap, an OID-range scan returns everything) and harmless
    * in offset mode, where the page budget already stops at the limit.
    */
  override def isPartiallyPushed(): Boolean = true

  private var envelope: Option[Envelope] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // attachments mode: every column is synthetic (listing metadata), so
    // nothing compiles to a remote where — all predicates stay residual
    if (attachmentsMode) return filters
    // geom_x/geom_y/_deleted are synthetic (engine-side) columns, not remote
    // layer fields — predicates touching them must stay residual in Spark.
    val (supported, residual) = filters.partition { f =>
      ArcGisFilterCompiler.compile(f).isDefined &&
        !f.references.exists(r => r == "geom_x" || r == "geom_y" || r == "_deleted")
    }
    pushed = supported
    // ...but bbox-shaped geometry predicates DO compile to the server-side
    // spatial filter (`geometry` + esriGeometryEnvelope + Intersects — the
    // reference's query layer exposes it). Bounds only ever WIDEN here
    // (strict > uses its value inclusively) and the originating filters
    // stay residual above, so Spark's result is exact while the server
    // stops shipping everything outside the box.
    var xmin, ymin = Double.NegativeInfinity
    var xmax, ymax = Double.PositiveInfinity
    var any = false
    def num(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue())
      case _ => None
    }
    def lo(cur: Double, v: Any): Double = num(v).map(math.max(cur, _)).getOrElse(cur)
    def hi(cur: Double, v: Any): Double = num(v).map(math.min(cur, _)).getOrElse(cur)
    filters.foreach {
      case GreaterThan("geom_x", v) => xmin = lo(xmin, v); any = true
      case GreaterThanOrEqual("geom_x", v) => xmin = lo(xmin, v); any = true
      case LessThan("geom_x", v) => xmax = hi(xmax, v); any = true
      case LessThanOrEqual("geom_x", v) => xmax = hi(xmax, v); any = true
      case EqualTo("geom_x", v) => xmin = lo(xmin, v); xmax = hi(xmax, v); any = true
      case GreaterThan("geom_y", v) => ymin = lo(ymin, v); any = true
      case GreaterThanOrEqual("geom_y", v) => ymin = lo(ymin, v); any = true
      case LessThan("geom_y", v) => ymax = hi(ymax, v); any = true
      case LessThanOrEqual("geom_y", v) => ymax = hi(ymax, v); any = true
      case EqualTo("geom_y", v) => ymin = lo(ymin, v); ymax = hi(ymax, v); any = true
      case _ =>
    }
    def clamp(d: Double): Double =
      if (d.isNegInfinity) -Double.MaxValue
      else if (d.isPosInfinity) Double.MaxValue
      else d
    if (any && xmin <= xmax && ymin <= ymax)
      envelope = Some(Envelope(clamp(xmin), clamp(ymin), clamp(xmax), clamp(ymax)))
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = {
    // S3+S4: user-supplied ARCGIS_QUERY where-string ANDed with compiled
    // Catalyst predicates (reference merges params at task.ts:404-414).
    val userWhere = Option(options.get("where")).filter(_.nonEmpty)
    val compiled = pushed.flatMap(ArcGisFilterCompiler.compile)
    val where = (userWhere.toSeq ++ compiled) match {
      case Seq() => "1=1"
      case cs => cs.mkString("(", ") AND (", ")")
    }
    if (attachmentsMode) new ArcGisAttachmentsScan(required, options, where)
    else pushedAgg match {
      case Some(pa) => new ArcGisScan(pa.readSchema, options, where, None, Some(pa))
      case None => new ArcGisScan(required, options, where, limit, envelope = envelope)
    }
  }
}

/** One offset window of the remote `/query` endpoint. The effective `where`
  * rides IN the partition (not the reader factory): runtime filters arrive
  * via [[SupportsRuntimeFiltering.filter]] AFTER the factory may already be
  * instantiated for planning (supportsColumnar probes it), but Spark always
  * re-invokes `planInputPartitions()` post-filter — so the partition is the
  * only carrier that reliably reflects runtime pruning.
  */
case class ArcGisInputPartition(
    offset: Long,
    count: Int,
    where: String,
    envelope: Option[Envelope] = None
) extends InputPartition

/** One OBJECTID interval `[lo, hi)` of the layer — the scan mode for servers
  * whose `/query` lacks `resultOffset` support (reference [lib] esri-dump
  * falls back to OID-range windows the same way), and the better deep-scan
  * strategy in general: every range is an independent, stateless request
  * (a deep `resultOffset` makes the server re-sort the whole layer per page),
  * so 1000 executors can each own a slice with no server-side coupling.
  * Ranges that return a full page can't prove completeness and are halved
  * recursively inside the reader (the esri-dump ITER approach).
  */
case class ArcGisOidRangePartition(
    lo: Long,
    hi: Long,
    oidField: String,
    where: String,
    page: Int,
    envelope: Option[Envelope] = None
) extends InputPartition

/** One remote `outStatistics` call: the whole (pushed-down) aggregation is a
  * single group-count-sized result set, so one partition fetches it.
  */
case class ArcGisStatsPartition(
    where: String,
    groupBy: Seq[String],
    stats: Seq[StatSpec]
) extends InputPartition

/** One change-tracking tombstone window `(loTs, hiTs]`: fetches the layer's
  * `deletedFeatures` journal (ChangeTracking `extractChanges`) and emits one
  * tombstone row per deleted OID — `_deleted = true`, every other attribute
  * null. The journal for a window is a list of OIDs (no payload), so one
  * partition per batch suffices at any scale.
  */
case class ArcGisDeletesPartition(
    loTs: Long,
    hiTs: Long,
    oidField: String
) extends InputPartition

/** One OBJECTID interval `[lo, hi)` of an `attachments=true` scan: the
  * reader lists the range's feature OIDs (same stateless saturation-halving
  * protocol as [[ArcGisOidRangePartition]]), then fans out the per-OID
  * attachment listing/downloads inside the task — so a 1000-executor
  * cluster spreads the HTTP fan-out exactly like the feature scan does.
  */
case class ArcGisAttachmentsPartition(
    lo: Long,
    hi: Long,
    oidField: String,
    where: String,
    page: Int,
    /** Layer advertises `supportsQueryAttachments`: list each OID window
      * with ONE bulk `queryAttachments` call instead of one per feature —
      * resolved at PLAN time (the scan already holds layerInfo) so readers
      * pay no extra metadata round-trip.
      */
    bulkListing: Boolean = false
) extends InputPartition

/** Attachments scan: OID-range partitioning over the layer (attachment
  * access is keyed per feature OID, so the feature scan's range planning
  * transfers directly). The user `where` option still selects WHICH
  * features contribute attachments (evaluated by the server in the OID
  * listing); predicates over the attachment columns themselves are
  * engine-side residuals.
  */
class ArcGisAttachmentsScan(
    schema: StructType,
    options: CaseInsensitiveStringMap,
    where: String
) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** The table advertises MICRO_BATCH_READ for the feature scan; fail the
    * attachments variant with guidance instead of the default opaque error.
    */
  override def toMicroBatchStream(
      checkpointLocation: String
  ): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    throw new UnsupportedOperationException(
      "attachments=true is a batch-only scan; stream the feature layer " +
        "(deletes/incremental options) and join attachments per batch instead")

  override def planInputPartitions(): Array[InputPartition] = {
    // mirrors ArcGisScan's oidRangePartitions: full-layer OID bounds from
    // one stats round-trip, n ranges sized by pageSize/maxRecordCount
    val client = ArcGisClientRegistry.get(options.get("client"))
    val info = client.layerInfo()
    val oid = info.fields.find(_.esriType == "esriFieldTypeOID").map(_.name)
      .getOrElse(throw new IllegalArgumentException(
        "attachments scan requires an esriFieldTypeOID field in the layer metadata"))
    val page = Option(options.get("pageSize")).map(_.toInt)
      .getOrElse(info.maxRecordCount.max(1))
    val mm = client
      .queryStatistics("1=1", Nil,
        Seq(StatSpec("min", oid, "__lo"), StatSpec("max", oid, "__hi")))
      .headOption
    val bounds = mm.flatMap { m =>
      (m.get("__lo"), m.get("__hi")) match {
        case (Some(lo: Number), Some(hi: Number)) =>
          Some((lo.longValue(), hi.longValue() + 1))
        case _ => None
      }
    }
    bounds match {
      // OID-range planning is the ONLY path for attachments (unlike the
      // feature scan, which enters it conditionally), so unusable stats
      // bounds on a NON-empty layer must not read as an empty attachment
      // table: fail loudly instead of silently planning zero partitions.
      case None if info.totalCount > 0 =>
        throw new IllegalStateException(
          s"attachments scan could not derive OBJECTID bounds from the " +
            s"layer's outStatistics probe (layer reports " +
            s"${info.totalCount} features) — the server must support " +
            "min/max statistics on the OID field for attachments=true")
      case None => Array.empty[InputPartition]
      case Some((lo, hi)) =>
        val n = ((info.totalCount + page - 1) / page).toInt.max(1)
        val width = math.max(1L, (hi - lo + n - 1) / n)
        (0 until n).iterator
          .map { i =>
            val a = lo + i.toLong * width
            ArcGisAttachmentsPartition(
              a, math.min(hi, a + width), oid, where, info.maxRecordCount.max(1),
              info.supportsQueryAttachments)
          }
          .filter(p => p.lo < p.hi)
          .toArray[InputPartition]
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ArcGisReaderFactory(schema, options.asCaseSensitiveMap().asScala.toMap)

  override def description(): String =
    s"ArcGisAttachmentsScan(where=$where, cols=${schema.fieldNames.mkString(",")})"
}

class ArcGisScan(
    schema: StructType,
    options: CaseInsensitiveStringMap,
    where: String,
    limit: Option[Int] = None,
    aggregation: Option[ArcGisAggCompiler.PushedAgg] = None,
    envelope: Option[Envelope] = None
) extends Scan with Batch with SupportsRuntimeFiltering with SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** Streaming read: incremental OBJECTID tailing (see
    * [[ArcGisMicroBatchStream]]); the compiled `where` — user option plus
    * pushed filters — applies server-side to every micro-batch.
    */
  override def toMicroBatchStream(
      checkpointLocation: String
  ): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ArcGisMicroBatchStream(
      schema, options.asCaseSensitiveMap().asScala.toMap, where)

  /** The layer's metadata and row count, fetched once per scan and shared by
    * [[estimateStatistics]] and [[planInputPartitions]] (which the planner
    * may each call more than once). It is not cached across scans:
    * `totalCount` sizes the offset pages, and a cache that outlived the scan
    * would miss rows appended since.
    */
  private lazy val info: LayerInfo = ArcGisClientRegistry.get(options.get("client")).layerInfo()

  /** Layer statistics for the planner: row count from the scan's layer info
    * (one cheap `returnCountOnly` probe, shared with partition planning) and
    * a field-width size estimate — enough for Catalyst to pick a broadcast
    * join for small layers WITHOUT a user hint, and to fall back to shuffle
    * joins when the layer outgrows the threshold (the 100 TB failure mode a
    * hard-coded hint would hit).
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val total: Long =
      try info.totalCount
      catch { case _: Throwable => -1L }
    private def rowWidth: Long = schema.fields.map { f =>
      f.dataType match {
        case LongType | DoubleType => 8L
        case IntegerType | FloatType => 4L
        case _ => 24L // strings/dates: conservative average
      }
    }.sum.max(8L)
    override def sizeInBytes(): java.util.OptionalLong =
      if (total < 0) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(total * rowWidth)
    override def numRows(): java.util.OptionalLong =
      if (total < 0) java.util.OptionalLong.empty() else java.util.OptionalLong.of(total)
  }
  override def description(): String =
    s"ArcGisScan(where=$where, outFields=${schema.fieldNames.mkString(",")}" +
      limit.map(l => s", pushedLimit=$l").getOrElse("") +
      aggregation.map(a =>
        s", pushedAggregates=[${a.stats.map(s => s"${s.statisticType}(${s.onField})").mkString(",")}]" +
          (if (a.groupBy.nonEmpty) s", pushedGroupBy=[${a.groupBy.mkString(",")}]" else "")
      ).getOrElse("") + ")"

  /** Runtime (DPP-style) filters: join-key values discovered at execution
    * time — e.g. the broadcast side of a selective dim join — compile into
    * the remote `where` like any static predicate, so the ArcGIS server
    * never serves rows the join would drop. Geometry columns are synthetic
    * and excluded. The join still applies the filter engine-side, so an
    * inexpressible runtime predicate costs nothing in correctness.
    */
  private var runtimeWhere: Option[String] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    schema.fieldNames
      .filterNot(n => n == "geom_x" || n == "geom_y" || n == "_deleted")
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    val compiled = filters.flatMap(ArcGisFilterCompiler.compile)
    if (compiled.nonEmpty)
      runtimeWhere = Some(compiled.mkString("(", ") AND (", ")"))
  }

  private def effectiveWhere: String =
    runtimeWhere.map(rw => s"($where) AND ($rw)").getOrElse(where)

  override def planInputPartitions(): Array[InputPartition] = {
    val clientKey = options.get("client")
    val strategy = Option(options.get("strategy")).getOrElse("query")
    if (aggregation.isDefined) {
      val pa = aggregation.get
      Array(ArcGisStatsPartition(effectiveWhere, pa.groupBy, pa.stats))
    } else if (strategy.equalsIgnoreCase("queryTopFeatures")) {
      // S2: the topFeatures endpoint is one remote group-top-k call.
      Array(ArcGisInputPartition(-1, -1, effectiveWhere))
    } else {
      val client = ArcGisClientRegistry.get(clientKey)
      val page = Option(options.get("pageSize")).map(_.toInt)
        .getOrElse(info.maxRecordCount.max(1))
      // OID-range mode: explicit opt-in, or forced when the server's /query
      // lacks resultOffset. A pushed LIMIT prefers offset mode (the limit
      // budget maps to offset pages) — but ONLY when the server actually
      // paginates: a non-paginating server either rejects resultOffset
      // (400) or ignores it (duplicate rows across partitions), so with
      // !supportsPagination a limit NEVER falls back to offset mode.
      // Instead: a limit that fits one server page becomes a single
      // unpaginated request (LIMIT takes ANY n rows, and the engine-side
      // limit — kept, isPartiallyPushed — trims the cap); a larger limit
      // scans OID ranges and lets the engine trim.
      val oidRange = strategy.equalsIgnoreCase("oidRange") || !info.supportsPagination
      def oidRangePartitions(): Array[InputPartition] = {
        val oid = info.fields.find(_.esriType == "esriFieldTypeOID").map(_.name)
          .getOrElse(throw new IllegalArgumentException(
            "oidRange scan requires an esriFieldTypeOID field in the layer metadata"))
        // full-layer OID bounds (one stats round-trip at plan time); the
        // effective where may cover fewer OIDs — empty sub-ranges cost one
        // cheap remote probe each, never a wrong row
        val mm = client
          .queryStatistics("1=1", Nil,
            Seq(StatSpec("min", oid, "__lo"), StatSpec("max", oid, "__hi")))
          .headOption
        val bounds = mm.flatMap { m =>
          (m.get("__lo"), m.get("__hi")) match {
            case (Some(lo: Number), Some(hi: Number)) =>
              Some((lo.longValue(), hi.longValue() + 1))
            case _ => None
          }
        }
        bounds match {
          case None => Array.empty[InputPartition]
          case Some((lo, hi)) =>
            val n = ((info.totalCount + page - 1) / page).toInt.max(1)
            val width = math.max(1L, (hi - lo + n - 1) / n)
            // saturation threshold = the SERVER's cap, not the pageSize
            // option: OID-range requests send no resultRecordCount (count
            // = -1), so the server always caps at ITS maxRecordCount; a
            // larger user pageSize would make a capped (= truncated)
            // response look unsaturated and silently drop the rest of the
            // range. pageSize still sizes the ranges themselves.
            val saturation = info.maxRecordCount.max(1)
            (0 until n).iterator
              .map { i =>
                val a = lo + i.toLong * width
                ArcGisOidRangePartition(
                  a, math.min(hi, a + width), oid, effectiveWhere, saturation, envelope)
              }
              .filter(p => p.lo < p.hi)
              .toArray[InputPartition]
        }
      }
      if (limit.isEmpty && oidRange) {
        oidRangePartitions()
      } else if (limit.isDefined && !info.supportsPagination) {
        if (limit.get <= info.maxRecordCount)
          Array(ArcGisInputPartition(0L, -1, effectiveWhere, envelope))
        else oidRangePartitions()
      } else {
        // pushed LIMIT caps the total row budget: pages past it are never
        // requested, and the last page shrinks to the remainder (rows are
        // served in stable OBJECTID order, so these ARE the first rows)
        val budget = limit.map(l => math.min(l.toLong, info.totalCount)).getOrElse(info.totalCount)
        val n = ((budget + page - 1) / page).toInt.max(1)
        (0 until n).map { i =>
          val off = i.toLong * page
          ArcGisInputPartition(
            off, math.min(page.toLong, budget - off).toInt.max(0), effectiveWhere, envelope)
        }.toArray
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ArcGisReaderFactory(schema, options.asCaseSensitiveMap().asScala.toMap)
}

class ArcGisReaderFactory(
    schema: StructType,
    options: Map[String, String]
) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    case p: ArcGisStatsPartition => new ArcGisStatsReader(schema, options, p)
    case p: ArcGisOidRangePartition => new ArcGisOidRangeReader(schema, options, p)
    case p: ArcGisDeletesPartition => new ArcGisDeletesReader(schema, options, p)
    case p: ArcGisAttachmentsPartition => new ArcGisAttachmentsReader(schema, options, p)
    case p: ArcGisInputPartition => new ArcGisPartitionReader(schema, options, p.where, p)
  }
}

/** Executor-side tombstone materialization: one row per `(oid, deletedTs)`
  * entry of the window's delete journal — the OID column and `_deleted=true`
  * set, everything else null (a deleted feature has no attributes left to
  * serve). Honors column pruning: only fields present in the (possibly
  * pruned) schema are populated.
  */
class ArcGisDeletesReader(
    schema: StructType,
    options: Map[String, String],
    partition: ArcGisDeletesPartition
) extends PartitionReader[InternalRow] {

  private lazy val deletes: Iterator[(Long, Long)] =
    ArcGisClientRegistry.get(options("client"))
      .queryDeletedFeatures(partition.loTs, partition.hiTs).iterator

  private var current: (Long, Long) = _

  override def next(): Boolean =
    if (deletes.hasNext) { current = deletes.next(); true } else false

  override def get(): InternalRow = {
    val values = schema.fields.map { fld =>
      fld.name match {
        case "_deleted" => Boolean.box(true)
        case n if n == partition.oidField =>
          ArcGisValues.coerce(fld.dataType, Long.box(current._1))
        case _ => null
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = ()
}

/** Shared attribute-value → Catalyst coercion for rows materialized from the
  * REST surface (feature attributes and statistics results alike).
  */
private[arcgis] object ArcGisValues {
  def coerce(dataType: DataType, v: Any): Any =
    if (v == null) null else coercer(dataType)(v)

  /** The non-null attribute value → Catalyst value conversion for one type. */
  def coercer(dataType: DataType): Any => Any = dataType match {
    case StringType => v => UTF8String.fromString(v.toString)
    case LongType => { case n: Number => Long.box(n.longValue()); case _ => null }
    case IntegerType => { case n: Number => Int.box(n.intValue()); case _ => null }
    case DoubleType => { case n: Number => Double.box(n.doubleValue()); case _ => null }
    case FloatType => { case n: Number => Float.box(n.floatValue()); case _ => null }
    case BooleanType => { case b: Boolean => Boolean.box(b); case _ => null }
    case _ => _ => null
  }
}

/** Materializes REST features as InternalRows of `schema` (shared by the
  * offset-page and OID-range readers). Each slot's role and coercion are
  * resolved once per reader, and a page's attribute positions once per
  * page: features of one reply share their [[AttrKeys]].
  */
private[arcgis] final class EsriRowConverter(schema: StructType) {
  private val names = schema.fieldNames
  private val coercers = schema.fields.map(f => ArcGisValues.coercer(f.dataType))
  private val X = -1
  private val Y = -2
  private val Deleted = -3
  private val roles = names.map {
    case "geom_x" => X
    case "geom_y" => Y
    case "_deleted" => Deleted // live rows; tombstones use their own reader
    case _ => 0 // attribute
  }
  private var keys: AttrKeys = _
  private var slots: Array[Int] = _

  def apply(f: EsriFeature): InternalRow = {
    val shared = f.attributes match {
      case a: EsriAttributes =>
        if (a.attrKeys ne keys) { keys = a.attrKeys; slots = names.map(keys.indexOf) }
        a
      case _ => null
    }
    val values = new Array[Any](names.length)
    var j = 0
    while (j < names.length) {
      values(j) = roles(j) match {
        case X => f.geometry.map(g => Double.box(g._1)).orNull
        case Y => f.geometry.map(g => Double.box(g._2)).orNull
        case Deleted => Boolean.box(false)
        case _ =>
          val v =
            if (shared != null) { if (slots(j) < 0) null else shared.valueAt(slots(j)) }
            else f.attributes.getOrElse(names(j), null)
          if (v == null) null else coercers(j)(v)
      }
      j += 1
    }
    new GenericInternalRow(values)
  }
}

/** Executor-side fetch of the single pushed-aggregation result set. */
class ArcGisStatsReader(
    schema: StructType,
    options: Map[String, String],
    partition: ArcGisStatsPartition
) extends PartitionReader[InternalRow] {

  private lazy val rows: Iterator[Map[String, Any]] =
    ArcGisClientRegistry.get(options("client"))
      .queryStatistics(partition.where, partition.groupBy, partition.stats)
      .iterator

  private var current: Map[String, Any] = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow = {
    val values = schema.fields.map(f =>
      ArcGisValues.coerce(f.dataType, current.getOrElse(f.name, null)))
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = ()
}

/** Executor-side page fetch + row materialization. The HTTP round-trip
  * happens here, inside the task — this is the cluster's fan-out point.
  */
class ArcGisPartitionReader(
    schema: StructType,
    options: Map[String, String],
    where: String,
    partition: ArcGisInputPartition
) extends PartitionReader[InternalRow] {

  private lazy val features: Iterator[EsriFeature] = {
    val client = ArcGisClientRegistry.get(options("client"))
    val attrFields = schema.fieldNames
      .filterNot(n => n == "geom_x" || n == "geom_y" || n == "_deleted")
    val outFields = if (attrFields.isEmpty) Seq("*") else attrFields.toSeq
    val page =
      if (partition.offset < 0)
        client.queryTopFeatures(
          options.getOrElse("topCount", "1").toInt,
          options("groupByField"),
          options("orderByField"),
          where,
          outFields,
          options.get("outSR")
        )
      else client.queryPage(partition.offset, partition.count, where, outFields,
        partition.envelope, options.get("outSR"))
    page.iterator
  }

  private val toRow = new EsriRowConverter(schema)
  private var current: EsriFeature = _

  override def next(): Boolean = {
    if (features.hasNext) { current = features.next(); true } else false
  }

  override def get(): InternalRow = toRow(current)

  override def close(): Unit = ()
}

/** Executor-side OID-range scan: drains `[lo, hi)` with stateless range
  * requests, halving any range whose response fills a page (a full page
  * cannot prove the range was exhausted). No `resultOffset` is ever sent —
  * this is the scan mode for servers without pagination support and the
  * deep-scan-friendly mode everywhere else.
  */
class ArcGisOidRangeReader(
    schema: StructType,
    options: Map[String, String],
    partition: ArcGisOidRangePartition
) extends PartitionReader[InternalRow] {

  private lazy val client = ArcGisClientRegistry.get(options("client"))
  private val attrFields = schema.fieldNames
    .filterNot(n => n == "geom_x" || n == "geom_y" || n == "_deleted")
  private val outFields = if (attrFields.isEmpty) Seq("*") else attrFields.toSeq

  private val pending = scala.collection.mutable.Stack[(Long, Long)]((partition.lo, partition.hi))
  private var buffer: Iterator[EsriFeature] = Iterator.empty
  private val toRow = new EsriRowConverter(schema)
  private var current: EsriFeature = _

  private def rangeWhere(lo: Long, hi: Long): String = {
    val range = s"${partition.oidField} >= $lo AND ${partition.oidField} < $hi"
    if (partition.where.trim.isEmpty || partition.where == "1=1") range
    else s"(${partition.where}) AND ($range)"
  }

  private def refill(): Boolean = {
    while (pending.nonEmpty) {
      val (lo, hi) = pending.pop()
      // count = -1: no resultRecordCount — pagination params are themselves
      // unsupported on the servers this mode exists for; the server caps the
      // response at its maxRecordCount (== partition.page by default), which
      // is exactly the saturation signal the halving protocol reads
      val rows = client.queryPage(0L, -1, rangeWhere(lo, hi), outFields,
        partition.envelope, options.get("outSR"))
      if (rows.size >= partition.page && hi - lo > 1) {
        // saturated response: discard, split, re-scan both halves
        val mid = lo + (hi - lo) / 2
        pending.push((mid, hi))
        pending.push((lo, mid))
      } else if (rows.nonEmpty) {
        buffer = rows.iterator
        return true
      }
    }
    false
  }

  override def next(): Boolean =
    if (buffer.hasNext || refill()) { current = buffer.next(); true } else false

  override def get(): InternalRow = toRow(current)

  override def close(): Unit = ()
}

/** Executor-side attachments fetch: lists the partition's OID range (same
  * saturation-halving protocol as [[ArcGisOidRangeReader]], projecting only
  * the OID field), then streams each feature's `attachmentInfos` — and,
  * ONLY when the pruned schema still contains `data`, the payload download.
  * A metadata-only projection therefore never moves attachment bytes over
  * the wire: the m-family manifest/accounting queries stay listing-priced.
  */
class ArcGisAttachmentsReader(
    schema: StructType,
    options: Map[String, String],
    partition: ArcGisAttachmentsPartition
) extends PartitionReader[InternalRow] {

  private lazy val client = ArcGisClientRegistry.get(options("client"))
  private val wantData = schema.fieldNames.contains("data")

  private val pending =
    scala.collection.mutable.Stack[(Long, Long)]((partition.lo, partition.hi))
  private var oidBuffer: Iterator[Long] = Iterator.empty
  private var attBuffer: Iterator[(Long, AttachmentInfo)] = Iterator.empty
  private var current: (Long, AttachmentInfo) = _

  private def rangeWhere(lo: Long, hi: Long): String = {
    val range = s"${partition.oidField} >= $lo AND ${partition.oidField} < $hi"
    if (partition.where.trim.isEmpty || partition.where == "1=1") range
    else s"(${partition.where}) AND ($range)"
  }

  private def refillOids(): Boolean = {
    while (pending.nonEmpty) {
      val (lo, hi) = pending.pop()
      val rows = client.queryPage(0L, -1, rangeWhere(lo, hi), Seq(partition.oidField))
      if (rows.size >= partition.page && hi - lo > 1) {
        val mid = lo + (hi - lo) / 2
        pending.push((mid, hi))
        pending.push((lo, mid))
      } else if (rows.nonEmpty) {
        oidBuffer = rows.iterator.flatMap(
          _.attributes.get(partition.oidField).collect { case n: Number => n.longValue() })
        return true
      }
    }
    false
  }

  private def advance(): Boolean = {
    while (!attBuffer.hasNext) {
      if (!oidBuffer.hasNext && !refillOids()) return false
      if (oidBuffer.hasNext) {
        if (partition.bulkListing) {
          // layer advertises supportsQueryAttachments: ONE bulk listing per
          // saturation window (the OID batch refillOids just fetched)
          // instead of one round-trip per feature — at a million-feature
          // layer the per-OID listing dominates even metadata-only plans
          attBuffer = client.queryAttachments(oidBuffer.toSeq).iterator
          oidBuffer = Iterator.empty
        } else {
          val oid = oidBuffer.next()
          attBuffer = client.attachmentInfos(oid).iterator.map(i => (oid, i))
        }
      }
    }
    true
  }

  override def next(): Boolean =
    if (advance()) { current = attBuffer.next(); true } else false

  override def get(): InternalRow = {
    val (oid, info) = current
    val values: Array[Any] = schema.fields.map { fld =>
      fld.name match {
        case "objectid" => Long.box(oid)
        case "attachment_id" => Long.box(info.id)
        case "name" => UTF8String.fromString(info.name)
        case "content_type" => UTF8String.fromString(info.contentType)
        case "size" => Long.box(info.size)
        case "data" if wantData => client.attachment(oid, info.id)
        case _ => null
      }
    }
    new GenericInternalRow(values)
  }

  override def close(): Unit = ()
}
