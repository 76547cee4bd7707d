package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.WebMercator

/** The reference's per-feature transform inventory (SURVEY.md §2.2-2.3) as
  * composable `DataFrame => DataFrame` functions over the canonical feature
  * schema: `id: string`, `properties: map<string,string>`, `geometry:
  * struct<gtype, point, lines, rings, polys>` ([[graft.Geometry]]).
  *
  * All ops are narrow (no shuffle) Column expressions — they fuse into one
  * whole-stage-codegen pass regardless of how many are chained.
  */
object FeatureOps {

  /** T1 — id namespacing: `feature.id = "layer-<layerId>-<id>"`
    * (reference `/root/reference/task.ts:427`).
    */
  def idNamespace(layerId: String)(df: DataFrame): DataFrame =
    df.withColumn("id", namespacedId(layerId, col("id")))

  def namespacedId(layerId: String, id: Column): Column = concat(lit(s"layer-$layerId-"), id)

  /** T2 — property nesting: `properties = {metadata: properties}`
    * (reference `task.ts:429-431`, v5.0.0). Keeps upstream attrs opaque.
    */
  def nestMetadata(df: DataFrame): DataFrame =
    df.withColumn("properties", nestedMetadata(col("properties")))

  def nestedMetadata(properties: Column): Column = struct(properties.as("metadata"))

  /** P4 — null-geometry drop (reference `task.ts:222,351-353`, v5.8.0). */
  def dropNullGeometry(df: DataFrame): DataFrame =
    df.filter(col("geometry").isNotNull && col("geometry.gtype").isNotNull)

  /** Coordinate types of the canonical geometry struct ([[graft.Geometry]]). */
  val PointType: ArrayType = ArrayType(DoubleType)
  val LinesType: ArrayType = ArrayType(PointType)
  val RingsType: ArrayType = ArrayType(LinesType)
  val PolysType: ArrayType = ArrayType(RingsType)

  /** Canonical (fully nullable) geometry struct type — branch outputs are
    * cast to it so unions don't trip over NOT NULL nullability mismatches.
    */
  val GeomType: StructType = StructType(Seq(
    StructField("gtype", StringType),
    StructField("point", PointType),
    StructField("lines", LinesType),
    StructField("rings", RingsType),
    StructField("polys", PolysType)))

  /** T3 — Multi-geometry explode (reference `task.ts:433-447`, v3.2.0
    * "UnMulti Multi Geoms"): each part becomes its own feature with id
    * `"<id>-<idx>"` and `gtype = replace('Multi', '')`; properties
    * duplicated. Non-multi features pass through unchanged. For inputs that
    * may hold Multi parts (FeaturePack's f2); a scan that only yields points
    * needs no explode (see [[IncomingFlow.features]]).
    */
  def explodeMulti(df: DataFrame): DataFrame = {
    val passthrough = df.filter(!col("geometry.gtype").startsWith("Multi"))

    def childId = concat(col("id"), lit("-"), col("pos"))
    def childType = regexp_replace(col("geometry.gtype"), "^Multi", "")

    def geom(gtype: Column, point: Column, lines: Column, rings: Column): Column =
      struct(
        gtype.as("gtype"),
        point.as("point"),
        lines.as("lines"),
        rings.as("rings"),
        lit(null).cast(PolysType).as("polys")
      ).cast(GeomType)

    val nullPt = lit(null).cast(PointType)
    val nullLn = lit(null).cast(LinesType)
    val nullRg = lit(null).cast(RingsType)

    val points = df.filter(col("geometry.gtype") === "MultiPoint")
      .select(col("id"), col("properties"), col("geometry"),
        posexplode(col("geometry.lines")).as(Seq("pos", "part")))
      .select(childId.as("id"), col("properties"),
        geom(childType, col("part"), nullLn, nullRg).as("geometry"))

    val lines = df.filter(col("geometry.gtype") === "MultiLineString")
      .select(col("id"), col("properties"), col("geometry"),
        posexplode(col("geometry.rings")).as(Seq("pos", "part")))
      .select(childId.as("id"), col("properties"),
        geom(childType, nullPt, col("part"), nullRg).as("geometry"))

    val polys = df.filter(col("geometry.gtype") === "MultiPolygon")
      .select(col("id"), col("properties"), col("geometry"),
        posexplode(col("geometry.polys")).as(Seq("pos", "part")))
      .select(childId.as("id"), col("properties"),
        geom(childType, nullPt, nullLn, col("part")).as("geometry"))

    passthrough.select(col("id"), col("properties"), col("geometry").cast(GeomType).as("geometry"))
      .unionByName(points).unionByName(lines).unionByName(polys)
  }

  /** P3 — geometry-type routing (reference `task.ts:177-187`): split into one
    * DataFrame per configured sink type; unconfigured types are dropped
    * (the reference logs + skips them).
    */
  def routeByGeomType(df: DataFrame, configured: Seq[String]): Map[String, DataFrame] =
    configured.map(t => t -> df.filter(col("geometry.gtype") === t)).toMap

  /** P2 — coalesce defaults, insert branch (reference `task.ts:244-245`):
    * `callsign || 'Unknown'`, `remarks || ''`.
    */
  def insertDefaults(df: DataFrame): DataFrame =
    df.withColumn("callsign", coalesce(col("callsign"), lit("Unknown")))
      .withColumn("remarks", coalesce(col("remarks"), lit("")))

  /** P2 — update branch (reference `task.ts:327-328`): callsign kept raw,
    * only remarks defaulted — the documented asymmetry (v7.11.1 fix),
    * replicated deliberately.
    */
  def updateDefaults(df: DataFrame): DataFrame =
    df.withColumn("remarks", coalesce(col("remarks"), lit("")))

  /** T5 — per-vertex Web-Mercator reprojection of the geometry struct
    * (reference `task.ts:192-219`): higher-order transforms apply the
    * codegen'd [[graft.functions.MercatorX]]/[[MercatorY]] at every depth.
    */
  def reprojectToMercator(df: DataFrame): DataFrame = {
    def pt(c: Column): Column = array(
      WebMercator.mercatorX(c.getItem(0)),
      WebMercator.mercatorY(c.getItem(1))
    )
    df.withColumn(
      "geometry",
      struct(
        col("geometry.gtype").as("gtype"),
        when(col("geometry.point").isNotNull, pt(col("geometry.point"))).as("point"),
        when(col("geometry.lines").isNotNull,
          transform(col("geometry.lines"), pt _)).as("lines"),
        when(col("geometry.rings").isNotNull,
          transform(col("geometry.rings"), r => transform(r, pt _))).as("rings"),
        when(col("geometry.polys").isNotNull,
          transform(col("geometry.polys"),
            p => transform(p, r => transform(r, pt _)))).as("polys")
      )
    )
  }

  /** T4+T6 — GeoJSON → ESRI JSON reshape with spatial-reference stamp
    * (reference `task.ts:190-233`): Point → {x,y}, LineString → {paths},
    * Polygon → {rings}, plus `spatialReference {wkid:102100,
    * latestWkid:3857}` on every geometry.
    */
  def toEsriGeometry(df: DataFrame): DataFrame = {
    val sr = struct(lit(102100).as("wkid"), lit(3857).as("latestWkid"))
    df.withColumn(
      "esri_geometry",
      struct(
        when(col("geometry.gtype") === "Point", col("geometry.point").getItem(0)).as("x"),
        when(col("geometry.gtype") === "Point", col("geometry.point").getItem(1)).as("y"),
        when(col("geometry.gtype") === "LineString", array(col("geometry.lines"))).as("paths"),
        when(col("geometry.gtype") === "Polygon", col("geometry.rings")).as("rings"),
        sr.as("spatialReference")
      )
    )
  }
}
