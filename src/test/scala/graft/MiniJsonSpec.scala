package graft

import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.arcgis.{ArcGisErrorEnvelope, EsriFeature, MiniJson}

class MiniJsonSpec extends AnyFunSuite {
  test("parses the ArcGIS REST envelope shapes") {
    val body =
      """{"fields":[{"name":"objectid","type":"esriFieldTypeOID"},{"name":"nm","type":"esriFieldTypeString"}],
        |"maxRecordCount":2000,
        |"features":[{"attributes":{"objectid":7,"nm":"a \"quoted\" name","score":1.5},
        |             "geometry":{"x":-105.5,"y":39.25}}],
        |"addResults":[{"objectId":11,"success":true},{"success":false,"error":{"description":"bad row"}}]}"""
        .stripMargin
    val j = MiniJson.parse(body)
    assert(j.arr("fields").map(_.str("name")) == Seq("objectid", "nm"))
    assert(j.num("maxRecordCount").contains(2000.0))
    val f = j.arr("features").head
    assert(f.obj("attributes").get.num("objectid").contains(7.0))
    assert(f.obj("attributes").get.str("nm") == """a "quoted" name""")
    assert(f.obj("geometry").get.num("x").contains(-105.5))
    val res = j.arr("addResults")
    assert(res.head.bool("success").contains(true) && res.head.num("objectId").contains(11.0))
    assert(res(1).obj("error").get.str("description") == "bad row")
  }

  test("serializes features to ESRI JSON with escaping") {
    val out = MiniJson.featuresJson(Seq(
      EsriFeature(Map("cotuid" -> "u\"1", "n" -> 5L), Some((1.5, -2.5)))
    ))
    assert(out.contains("\"cotuid\":\"u\\\"1\""))
    assert(out.contains("\"n\":5"))
    assert(out.contains("\"geometry\":{\"x\":1.5,\"y\":-2.5"))
    // round-trips through the parser
    val back = MiniJson.parse(out.replaceFirst("\\[", "{\"features\":[").dropRight(1) + "]}")
    assert(back.arr("features").head.obj("attributes").get.str("cotuid") == "u\"1")
  }

  // ------------------------------------------------- feature page decoder
  // expected values are written out here, never taken from the decoder

  private def page(features: String*): Array[Byte] =
    features.mkString("""{"features":[""", ",", "]}").getBytes(StandardCharsets.UTF_8)

  private def decode(json: String): Seq[EsriFeature] =
    MiniJson.features(json.getBytes(StandardCharsets.UTF_8))

  test("decoder: string escapes, surrogate pairs and raw multi-byte UTF-8") {
    val smile = new String(Character.toChars(0x1F600))
    val got = MiniJson.features(page(
      """{"attributes":{"esc":"q\"b\\s\/e\u00e9\u4e2d\ud83d\ude00\n\t","k\u00e9y":1}}""",
      "{\"attributes\":{\"esc\":\"Z\u00fcrich \u6771\u4eac " + smile + "\",\"k\u00e9y\":2}}"))
    assert(got.map(_.attributes) == Seq(
      Map("esc" -> ("q\"b\\s/e\u00e9\u4e2d" + smile + "\n\t"), "k\u00e9y" -> 1L),
      Map("esc" -> ("Z\u00fcrich \u6771\u4eac " + smile), "k\u00e9y" -> 2L)))
  }

  test("decoder: null attributes are absent; keys may change order or set within a page") {
    val got = MiniJson.features(page(
      """{"attributes":{"a":1,"b":null,"c":"x"}}""",
      """{"attributes":{"a":2,"b":"y","c":null}}""",
      """{"attributes":{"c":"z","a":3}}""",
      """{"attributes":{"a":4,"b":"w","c":"v","d":true}}""",
      """{"attributes":{"a":5,"a":6,"b":"u","b":null}}""",
      """{"attributes":{}}""",
      """{"attributes":null}"""))
    assert(got.map(_.attributes) == Seq(
      Map("a" -> 1L, "c" -> "x"),
      Map("a" -> 2L, "b" -> "y"),
      Map("c" -> "z", "a" -> 3L),
      Map("a" -> 4L, "b" -> "w", "c" -> "v", "d" -> true),
      Map("a" -> 6L),
      Map.empty,
      Map.empty))
    assert(got.head.attributes.get("b").isEmpty && !got.head.attributes.contains("b"))
    assert(got.head.attributes.size == 2 && got(1).attributes.keySet == Set("a", "b"))
    assert(got(1).attributes.updated("z", 9L) == Map("a" -> 2L, "b" -> "y", "z" -> 9L))
  }

  test("decoder: envelope keys, geometry spatialReference and non-point shapes are skipped") {
    val got = decode(
      """{"objectIdFieldName":"objectid","geometryType":"esriGeometryPoint",
        |"spatialReference":{"wkid":4326,"latestWkid":4326},
        |"fields":[{"name":"objectid","type":"esriFieldTypeOID","alias":"OID"}],
        |"exceededTransferLimit":true,
        |"features":[
        | {"attributes":{"objectid":1},"geometry":{"x":-105.5,"y":39.25,"spatialReference":{"wkid":4326}}},
        | {"attributes":{"objectid":2},"geometry":null},
        | {"attributes":{"objectid":3}},
        | {"geometry":{"x":1,"y":2},"attributes":{"objectid":4}},
        | {"attributes":{"objectid":5},"geometry":{"paths":[[[1,2],[3,4]]]}},
        | {"attributes":{"objectid":6},"geometry":{"x":null,"y":2}}
        |],
        |"trailer":[1,"two",{"three":[null,false]}]}""".stripMargin)
    assert(got == Seq(
      EsriFeature(Map("objectid" -> 1L), Some((-105.5, 39.25))),
      EsriFeature(Map("objectid" -> 2L), None),
      EsriFeature(Map("objectid" -> 3L), None),
      EsriFeature(Map("objectid" -> 4L), Some((1.0, 2.0))),
      EsriFeature(Map("objectid" -> 5L), None),
      EsriFeature(Map("objectid" -> 6L), None)))
  }

  test("decoder: negative, exponent and beyond-2^53 numbers") {
    val got = decode(
      """{"features":[{"attributes":{"neg":-42,"zero":-0,"exp":1.5e3,"nexp":-2.5E-3,
        |"big":9007199254740993,"max":9223372036854775807,"huge":12345678901234567890,
        |"long17":0.30000000000000004,"frac":-105.123456789,"pos":1E+2}}]}""".stripMargin)
      .head.attributes
    // typed reads: `==` on boxed numbers would equate 2^53+1 with a lossy Double
    def long(k: String): Long = got(k).asInstanceOf[java.lang.Long]
    assert(long("neg") == -42L && long("zero") == 0L)
    assert(got("exp") == 1500.0 && got("nexp") == -0.0025 && got("pos") == 100.0)
    assert(long("big") == 9007199254740993L, "integers past 2^53 stay exact Longs")
    assert(long("max") == Long.MaxValue)
    assert(got("huge").asInstanceOf[java.lang.Double] == 1.2345678901234567e19)
    assert(got("long17") == 0.30000000000000004 && got("frac") == -105.123456789)
  }

  test("decoder: every double and long round-trips bit-exactly through its decimal text") {
    val rnd = new scala.util.Random(7)
    val doubles = Seq.fill(2000)(rnd.nextInt(5) match {
      case 0 => rnd.nextDouble() * 360 - 180
      case 1 => rnd.nextInt(3600000) / 10000.0 - 180.0
      case 2 => java.lang.Double.longBitsToDouble(rnd.nextLong()) match {
        case d if d.isNaN || d.isInfinite => 1.0
        case d => d
      }
      case 3 => rnd.nextInt(400000) / 4.0
      case _ => (rnd.nextLong() % 100000000000L) / 1000.0
    })
    val longs = Seq.fill(500)(rnd.nextLong())
    val attrs = (doubles.zipWithIndex.map { case (d, i) => s""""d$i":$d""" } ++
      longs.zipWithIndex.map { case (l, i) => s""""l$i":$l""" }).mkString(",")
    val got = decode(s"""{"features":[{"attributes":{$attrs}}]}""").head.attributes
    doubles.zipWithIndex.foreach { case (d, i) =>
      assert(java.lang.Double.doubleToLongBits(got(s"d$i").asInstanceOf[java.lang.Double]) ==
        java.lang.Double.doubleToLongBits(d), s"$d decoded as ${got(s"d$i")}")
    }
    longs.zipWithIndex.foreach { case (l, i) =>
      assert(got(s"l$i").asInstanceOf[java.lang.Long].longValue == l)
    }
  }

  test("decoder: empty pages, error envelopes and malformed bodies") {
    assert(decode("""{"features":[]}""").isEmpty)
    assert(decode("""{"objectIdFieldName":"objectid"}""").isEmpty)
    assert(decode("{}").isEmpty)
    val e = intercept[ArcGisErrorEnvelope](
      decode("""{"error":{"code":498,"message":"Invalid token.","details":["expired"]}}"""))
    assert(e.code == 498 && e.serverMessage == "Invalid token. (expired)")
    val r = intercept[ArcGisErrorEnvelope](
      MiniJson.reply("""{"error":{"code":400,"message":"bad"}}""".getBytes(StandardCharsets.UTF_8)))
    assert(r.code == 400 && r.serverMessage == "bad")
    for (bad <- Seq("""{"features":[{"attributes":{"a":1}""", """{"features":[{"attributes":{"a":tru}}]}""",
        """{"features":[{"attributes":{"a":"open}}]}""", "", """{"features":[{"attributes":{"a":-}}]}"""))
      assert(intercept[RuntimeException](decode(bad)).getMessage.contains("malformed ArcGIS JSON"), bad)
  }
}
