package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import scala.collection.concurrent.TrieMap

/** S7 — the TAK FeatureCollection sink (reference `this.submit(fc)`,
  * `/root/reference/task.ts:420-423,455-457`, [lib @tak-ps/etl] pin
  * `package-lock.json:799-803`): features are serialized to GeoJSON and
  * POSTed in batches. Transport is a trait so tests capture submissions.
  */
trait TakClient extends Serializable {
  /** Submit one batch of GeoJSON feature strings (a FeatureCollection page). */
  def submit(features: Seq[String]): Unit
}

object TakClientRegistry {
  private val clients = TrieMap.empty[String, TakClient]
  def register(key: String, client: TakClient): Unit = clients.put(key, client)
  def get(key: String): TakClient =
    clients.getOrElse(key, throw new IllegalArgumentException(s"no TAK client registered under '$key'"))
}

class MockTakClient extends TakClient {
  val submitted = new java.util.concurrent.CopyOnWriteArrayList[String]()
  override def submit(features: Seq[String]): Unit = features.foreach(submitted.add)
}

/** §3.1 — the reference's flagship incoming path as one composition:
  * ArcGIS scan (S1-S5, with pushdown) → feature normalization
  * (P4 null-geometry drop → T1 id namespace → T2 metadata nest → T3
  * Multi explode; same order as `control()`, `task.ts:425-453`) →
  * count log (A1) → TAK submit (S7).
  */
object IncomingFlow {

  /** Normalized feature frame from an ArcGIS layer: `id` namespaced,
    * dynamic attributes nested under `properties.metadata` (as strings —
    * the schema-less escape hatch, SURVEY.md §1.2), geometry from the
    * layer's point coordinates, already in the canonical
    * [[FeatureOps.GeomType]].
    *
    * The normalization chain is one narrow projection over the scan. The
    * scan yields points only (`geom_x`/`geom_y`), so T3 (Multi explode) is
    * the identity here and is not planned: the plan is
    * `Project(Filter(BatchScan))`. [[FeatureOps.explodeMulti]] still runs
    * for inputs that may hold Multi parts (FeaturePack's f2).
    */
  def features(
      spark: SparkSession,
      clientKey: String,
      layerId: String,
      where: Option[String] = None
  ): DataFrame = {
    val reader = spark.read.format("arcgis").option("client", clientKey)
    val scan = where.fold(reader)(w => reader.option("where", w)).load()

    val attrCols = scan.columns.filterNot(c => c == "geom_x" || c == "geom_y")
    val metadata = map(
      attrCols.flatMap(c => Seq(lit(c), col(c).cast(StringType))).toSeq: _*
    )
    // canonical nullability without a per-row cast: the tags only widen the
    // declared type, the values are computed as written
    def nullable(c: Column): Column = GraftShims.column(KnownNullable(GraftShims.expression(c)))
    val geometry = nullable(struct(
      nullable(lit("Point")).as("gtype"),
      nullable(array(col("geom_x"), col("geom_y"))).as("point"),
      lit(null).cast(FeatureOps.LinesType).as("lines"),
      lit(null).cast(FeatureOps.RingsType).as("rings"),
      lit(null).cast(FeatureOps.PolysType).as("polys")
    ))
    // reference order (task.ts:425-447): drop null geometry (P4), namespace
    // the id (T1), nest metadata (T2); T3 is the identity on points
    scan.filter(col("geom_x").isNotNull).select(
      FeatureOps.namespacedId(layerId, col("objectid").cast(StringType)).as("id"),
      FeatureOps.nestedMetadata(metadata).as("properties"),
      geometry.as("geometry")
    )
  }

  /** Run the full path: normalize → serialize to GeoJSON → submit per
    * partition in batches (the reference accumulates the whole collection
    * in heap, `task.ts:420-447`; here pages stream through executors).
    * Returns the submitted feature count (the reference's A1 log line).
    */
  def run(
      spark: SparkSession,
      arcgisClientKey: String,
      takClientKey: String,
      layerId: String,
      where: Option[String] = None
  ): Long = {
    val fc = features(spark, arcgisClientKey, layerId, where)
    val json = fc.select(
      to_json(
        struct(
          col("id"),
          lit("Feature").as("type"),
          col("properties"),
          struct(
            col("geometry.gtype").as("type"),
            col("geometry.point").as("coordinates")
          ).as("geometry")
        )
      )
    ).as(Encoders.STRING)
    val count = spark.sparkContext.longAccumulator("tak_submitted")
    json.foreachPartition { (it: Iterator[String]) =>
      val client = TakClientRegistry.get(takClientKey)
      it.grouped(500).foreach { batch =>
        client.submit(batch)
        count.add(batch.size)
      }
    }
    count.value
  }
}
