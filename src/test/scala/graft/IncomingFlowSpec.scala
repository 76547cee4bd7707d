package graft

import org.apache.spark.sql.execution.{GenerateExec, LocalTableScanExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{IncomingFlow, MockTakClient, TakClientRegistry}
import graft.sources.arcgis._

/** §3.1 end-to-end: ArcGIS scan → T1/T2/T3 normalization → TAK submit,
  * matching the FIXTURES.md expected shapes (id `layer-19-42`, properties
  * nested under `metadata`).
  */
class IncomingFlowSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkClient(): MockArcGisClient = {
    val fields = Seq(
      ArcGisField("objectid", "esriFieldTypeOID"),
      ArcGisField("NAME", "esriFieldTypeString"),
      ArcGisField("STATUS", "esriFieldTypeString")
    )
    val rows = (0 until 25).map { i =>
      EsriFeature(
        Map("objectid" -> i.toLong, "NAME" -> s"Station $i",
          "STATUS" -> (if (i % 2 == 0) "Active" else "Closed")),
        if (i == 13) None else Some((-105.0 - i * 0.1, 39.0 + i * 0.1))
      )
    }
    new MockArcGisClient(fields, rows, 10)
  }

  test("incoming flow normalizes features per the fixture contract") {
    ArcGisClientRegistry.register("inc1", mkClient())
    val fc = IncomingFlow.features(spark, "inc1", "19")
    val rows = fc.collect()
    // feature 13 had no geometry → dropped (P4)
    assert(rows.length == 24)
    val f42 = fc.filter(col("id") === "layer-19-7").head()
    // T2: dynamic attrs nested under properties.metadata
    val meta = f42.getStruct(f42.fieldIndex("properties"))
      .getMap[String, String](0)
    assert(meta("NAME") == "Station 7" && meta("STATUS") == "Closed")
    val geom = f42.getStruct(f42.fieldIndex("geometry"))
    assert(geom.getString(0) == "Point")
  }

  test("incoming flow submits GeoJSON to the TAK sink with count (A1+S7)") {
    ArcGisClientRegistry.register("inc2", mkClient())
    val tak = new MockTakClient
    TakClientRegistry.register("tak2", tak)
    val n = IncomingFlow.run(spark, "inc2", "tak2", "19", where = Some("STATUS = 'Active'"))
    assert(n == 13) // actives = even ids 0,2,...,24; the null-geometry row (13) is odd/closed
    assert(tak.submitted.size() == n)
    val one = tak.submitted.toArray.map(_.toString).find(_.contains("layer-19-0")).get
    assert(one.contains(""""type":"Feature""""))
    assert(one.contains(""""metadata""""))
    assert(one.contains(""""coordinates""""))
  }

  test("normalized rows and schema: P4 drop, T1 id, T2 metadata, canonical point geometry") {
    ArcGisClientRegistry.register("inc3", mkClient())
    val fc = IncomingFlow.features(spark, "inc3", "19")
    val geomType = DataType.fromDDL(
      "struct<gtype:string,point:array<double>,lines:array<array<double>>," +
        "rings:array<array<array<double>>>,polys:array<array<array<array<double>>>>>")
    assert(fc.schema == StructType(Seq(
      StructField("id", StringType),
      StructField("properties", StructType(Seq(
        StructField("metadata", MapType(StringType, StringType), nullable = false))), nullable = false),
      StructField("geometry", geomType))))
    val got = fc.collect().map { r =>
      val g = r.getStruct(2)
      (r.getString(0), r.getStruct(1).getMap[String, String](0).toMap,
        g.getString(0), g.getSeq[Double](1), (2 to 4).map(g.isNullAt))
    }.sortBy(_._1).toSeq
    val want = (0 until 25).filter(_ != 13).map { i =>
      (s"layer-19-$i",
        Map("objectid" -> i.toString, "NAME" -> s"Station $i",
          "STATUS" -> (if (i % 2 == 0) "Active" else "Closed")),
        "Point", Seq(-105.0 - i * 0.1, 39.0 + i * 0.1), Seq(true, true, true))
    }.sortBy(_._1)
    assert(got == want)
  }

  test("a point scan plans as one narrow projection: no Union, Generate or LocalTableScan") {
    ArcGisClientRegistry.register("inc4", mkClient())
    val fc = IncomingFlow.features(spark, "inc4", "19")
    fc.collect()
    val plan = fc.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    val nodes = plan.collect { case n => n }
    assert(nodes.count(_.isInstanceOf[BatchScanExec]) == 1, plan.treeString)
    assert(!nodes.exists(n => n.isInstanceOf[UnionExec] || n.isInstanceOf[GenerateExec] ||
      n.isInstanceOf[LocalTableScanExec]), plan.treeString)
  }

  test("over HTTP: one run fetches layer info at most twice, and a grown layer is read in full") {
    ArcGisLoopback.withServer { server =>
      val layer = new ArcGisLoopback.PointLayer(server, "grow",
        Seq("objectid" -> "esriFieldTypeOID", "NAME" -> "esriFieldTypeString"), 10)
      def feats(ids: Range) = ids.map(i =>
        s"""{"attributes":{"objectid":$i,"NAME":"n-$i"},"geometry":{"x":$i.5,"y":-$i.25}}""")
      layer.append(feats(0 until 25))
      ArcGisClientRegistry.register("inc-http", new HttpArcGisClient(layer.url))
      val tak = new MockTakClient
      TakClientRegistry.register("tak-http", tak)

      assert(IncomingFlow.run(spark, "inc-http", "tak-http", "7") == 25)
      assert(layer.requests("metadata") <= 2 && layer.requests("count") <= 2,
        s"metadata ${layer.requests("metadata")}, count ${layer.requests("count")}")
      assert(layer.requests("query") == 3)

      // rows appended between runs: the next run sizes its pages afresh
      layer.append(feats(25 until 32))
      tak.submitted.clear()
      assert(IncomingFlow.run(spark, "inc-http", "tak-http", "7") == 32)
      val ids = tak.submitted.toArray.map(_.toString)
        .map(j => "\"id\":\"([^\"]+)\"".r.findFirstMatchIn(j).get.group(1)).sorted.toSeq
      assert(ids == (0 until 32).map(i => s"layer-7-$i").sorted)
    }
  }
}
