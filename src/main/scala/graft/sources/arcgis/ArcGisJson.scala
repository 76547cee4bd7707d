package graft.sources.arcgis

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import scala.collection.immutable.AbstractMap

/** An ArcGIS REST reply of the form `{"error":{"code":…,"message":…}}`.
  * Servers send it with HTTP 200 for expired or invalid tokens (498/499),
  * rejected edits and bad queries, so it must be read from the body: a
  * reader that only looks for `features` would take it for an empty page.
  */
final class ArcGisErrorEnvelope(val code: Int, val serverMessage: String)
    extends RuntimeException(
      s"server returned an error envelope (code=$code, message='$serverMessage')")

/** The attribute names of one page's features, shared by every feature of
  * the page whose attributes arrive in the same order (ArcGIS emits
  * `outFields` in one order for a whole reply).
  */
private[arcgis] final class AttrKeys(val names: Array[String]) extends Serializable {
  private val utf8 = names.map(_.getBytes(UTF_8))
  @transient private lazy val index: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](names.length * 2)
    names.indices.foreach(i => m.put(names(i), i))
    m
  }

  def size: Int = names.length

  def indexOf(name: String): Int = {
    val i = index.get(name)
    if (i == null) -1 else i
  }

  /** Is the raw (unescaped) UTF-8 key `buf[from, until)` name `i`? */
  def sameKey(i: Int, buf: Array[Byte], from: Int, until: Int): Boolean =
    java.util.Arrays.equals(buf, from, until, utf8(i), 0, utf8(i).length)
}

/** A feature's attributes: one value per name of the page's shared
  * [[AttrKeys]]. A JSON `null` attribute is absent from the map, as an
  * attribute the server left out would be.
  */
private[arcgis] final class EsriAttributes(
    val attrKeys: AttrKeys,
    values: Array[Any],
    override val size: Int
) extends AbstractMap[String, Any] with Serializable {

  /** Value of name `i` of [[attrKeys]], null when absent. */
  def valueAt(i: Int): Any = values(i)

  override def knownSize: Int = size

  override def get(key: String): Option[Any] = {
    val i = attrKeys.indexOf(key)
    if (i < 0) None else Option(values(i))
  }

  override def iterator: Iterator[(String, Any)] =
    values.indices.iterator.filter(values(_) != null).map(i => attrKeys.names(i) -> values(i))

  override def removed(key: String): Map[String, Any] = Map.from(this).removed(key)

  override def updated[V1 >: Any](key: String, value: V1): Map[String, V1] =
    Map.from(this).updated(key, value)
}

/** The JSON reader behind every ArcGIS endpoint, and the ESRI JSON writer
  * for `addFeatures`/`updateFeatures`. Dependency-free (the build is
  * offline). Replies are read straight from the response bytes: feature
  * pages decode in one pass into [[EsriFeature]]s with no intermediate
  * string or document; everything else (layer info, counts, edit results,
  * token replies) reads into a small [[JValue]] document.
  */
private[graft] object MiniJson {
  final case class JValue(value: Any) {
    def fields: Map[String, Any] = value match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    }
    def obj(k: String): Option[JValue] =
      fields.get(k).collect { case m: Map[_, _] => JValue(m) }
    def arr(k: String): Seq[JValue] = fields.get(k) match {
      case Some(s: Seq[_]) => s.map(JValue(_))
      case _ => Seq.empty
    }
    def str(k: String): String = fields.get(k).map(_.toString).getOrElse("")
    def strOpt(k: String): Option[String] = fields.get(k).map(_.toString)
    def num(k: String): Option[Double] = fields.get(k).collect {
      case d: Double => d
      case l: Long => l.toDouble
      case i: Int => i.toDouble
    }
    def bool(k: String): Option[Boolean] = fields.get(k).collect { case b: Boolean => b }
  }

  def parse(s: String): JValue = parse(s.getBytes(UTF_8))

  def parse(bytes: Array[Byte]): JValue = read(bytes)(r => JValue(r.document()))

  /** A REST reply document; an error envelope raises [[ArcGisErrorEnvelope]]. */
  def reply(bytes: Array[Byte]): JValue = checkReply(parse(bytes))

  def checkReply(json: JValue): JValue = {
    json.obj("error").foreach(e => throw envelope(e))
    json
  }

  /** The `features` of a query reply (empty when it has none); an error
    * envelope raises [[ArcGisErrorEnvelope]].
    */
  def features(bytes: Array[Byte]): Seq[EsriFeature] = read(bytes)(_.featureReply())

  private def envelope(e: JValue): ArcGisErrorEnvelope = {
    val details = e.arr("details").map(_.value).filter(_ != null).mkString("; ")
    new ArcGisErrorEnvelope(
      e.num("code").map(_.toInt).getOrElse(-1),
      e.str("message") + (if (details.isEmpty) "" else s" ($details)"))
  }

  private def read[T](bytes: Array[Byte])(f: Reader => T): T =
    try f(new Reader(bytes))
    catch {
      case e: ArcGisErrorEnvelope => throw e
      case e: RuntimeException =>
        throw new RuntimeException(
          s"malformed ArcGIS JSON response (${e.getClass.getSimpleName}): " +
            new String(bytes, 0, math.min(bytes.length, 120), UTF_8), e)
    }

  /** Serialize features to the ESRI JSON array `addFeatures` expects. */
  def featuresJson(feats: Seq[EsriFeature]): String =
    feats.map { f =>
      val attrs = f.attributes.map { case (k, v) =>
        val jv = v match {
          case s: String => "\"" + escape(s) + "\""
          case other => other.toString
        }
        "\"" + escape(k) + "\":" + jv
      }.mkString(",")
      val geom = f.geometry
        .map { case (x, y) => s""","geometry":{"x":$x,"y":$y,"spatialReference":{"wkid":102100}}""" }
        .getOrElse("")
      s"""{"attributes":{$attrs}$geom}"""
    }.mkString("[", ",", "]")

  private def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private val AttributesKey = "attributes".getBytes(UTF_8)
  private val GeometryKey = "geometry".getBytes(UTF_8)
  /** Exact powers of ten: a decimal of at most 15 digits scaled by one of
    * them is correctly rounded by a single multiply or divide.
    */
  private val Pow10 = Array.tabulate(23)(i => math.pow(10, i))

  /** A cursor over UTF-8 JSON bytes. */
  private final class Reader(buf: Array[Byte]) {
    private var i = 0
    private val n = buf.length

    private def fail(what: String): Nothing =
      throw new IllegalArgumentException(s"$what at byte $i")

    private def peek(): Char = {
      while (i < n && (buf(i) == ' ' || buf(i) == '\n' || buf(i) == '\r' || buf(i) == '\t')) i += 1
      if (i >= n) fail("unexpected end of input")
      buf(i).toChar
    }

    private def expect(c: Char): Unit = {
      if (peek() != c) fail(s"expected '$c'")
      i += 1
    }

    /** After an element: true past a comma, false past the closing `close`. */
    private def more(close: Char): Boolean = peek() match {
      case ',' => i += 1; true
      case c if c == close => i += 1; false
      case _ => fail(s"expected ',' or '$close'")
    }

    /** Enter an object or array; false (and past it) when it is empty. */
    private def open(c: Char, close: Char): Boolean = {
      expect(c)
      if (peek() == close) { i += 1; false } else true
    }

    // ------------------------------------------------------------- values

    def document(): Any = peek() match {
      case '{' =>
        val b = Map.newBuilder[String, Any]
        if (open('{', '}')) while ({
          val k = string(); expect(':'); b += k -> document(); more('}')
        }) ()
        b.result()
      case '[' =>
        val b = Vector.newBuilder[Any]
        if (open('[', ']')) while ({ b += document(); more(']') }) ()
        b.result()
      case '"' => string()
      case 't' => literal("true"); true
      case 'f' => literal("false"); false
      case 'n' => literal("null"); null
      case _ => if (number()) Long.box(longValue) else Double.box(doubleValue)
    }

    /** Skip one value without building it. */
    private def skip(): Unit = peek() match {
      case '{' => if (open('{', '}')) while ({ rawString(); expect(':'); skip(); more('}') }) ()
      case '[' => if (open('[', ']')) while ({ skip(); more(']') }) ()
      case '"' => rawString()
      case 't' => literal("true")
      case 'f' => literal("false")
      case 'n' => literal("null")
      case _ => number()
    }

    private def literal(word: String): Unit = {
      if (i + word.length > n || (0 until word.length).exists(j => buf(i + j) != word.charAt(j)))
        fail(s"expected $word")
      i += word.length
    }

    // ------------------------------------------------------------ strings

    /** Bounds of the last string read by [[rawString]], quotes excluded. */
    private var from, until = 0
    private var escaped = false

    /** Read a string token, leaving its raw bytes in `[from, until)`. */
    private def rawString(): Unit = {
      expect('"')
      from = i
      escaped = false
      while (i < n && buf(i) != '"') {
        if (buf(i) == '\\') { escaped = true; i += 1 }
        i += 1
      }
      if (i >= n) fail("unterminated string")
      until = i
      i += 1
    }

    private def string(): String = { rawString(); decoded() }

    /** The last raw string as text. */
    private def decoded(): String =
      if (escaped) unescape() else new String(buf, from, until - from, UTF_8)

    private def unescape(): String = {
      val sb = new java.lang.StringBuilder(until - from)
      var seg = from
      var j = from
      while (j < until) {
        if (buf(j) != '\\') j += 1
        else {
          sb.append(new String(buf, seg, j - seg, UTF_8))
          j += 1
          buf(j) match {
            case 'n' => sb.append('\n')
            case 't' => sb.append('\t')
            case 'r' => sb.append('\r')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              if (j + 4 >= until) fail("truncated \\u escape")
              sb.append(Integer.parseInt(new String(buf, j + 1, 4, ISO_8859_1), 16).toChar)
              j += 4
            case other => sb.append(other.toChar) // \" \\ \/
          }
          j += 1
          seg = j
        }
      }
      sb.append(new String(buf, seg, until - seg, UTF_8)).toString
    }

    private def rawIs(word: Array[Byte]): Boolean =
      !escaped && java.util.Arrays.equals(buf, from, until, word, 0, word.length)

    private def rawIs(c: Char): Boolean = !escaped && until - from == 1 && buf(from) == c

    // ------------------------------------------------------------ numbers

    private var longValue = 0L
    private var doubleValue = 0.0

    /** Read a number into `longValue` (true: an integer that fits a Long)
      * or `doubleValue` (false).
      */
    private def number(): Boolean = {
      val start = i
      val neg = peek() == '-'
      if (neg) i += 1
      var m = 0L
      var digits = 0
      while (i < n && buf(i) >= '0' && buf(i) <= '9') {
        if (digits < 18) m = m * 10 + (buf(i) - '0')
        digits += 1; i += 1
      }
      if (digits == 0) fail("expected a value")
      val integral = i >= n || (buf(i) != '.' && buf(i) != 'e' && buf(i) != 'E')
      if (integral && digits <= 18) { longValue = if (neg) -m else m; return true }
      var scale = 0
      if (!integral && buf(i) == '.') {
        i += 1
        while (i < n && buf(i) >= '0' && buf(i) <= '9') {
          if (digits < 18) { m = m * 10 + (buf(i) - '0'); scale -= 1 }
          digits += 1; i += 1
        }
      }
      if (i < n && (buf(i) == 'e' || buf(i) == 'E')) {
        i += 1
        val eneg = i < n && buf(i) == '-'
        if (i < n && (buf(i) == '-' || buf(i) == '+')) i += 1
        var e = 0
        while (i < n && buf(i) >= '0' && buf(i) <= '9') { e = math.min(e * 10 + (buf(i) - '0'), 9999); i += 1 }
        scale += (if (eneg) -e else e)
      }
      def text = new String(buf, start, i - start, ISO_8859_1)
      if (integral) {
        // more digits than a Long is sure to hold
        try { longValue = java.lang.Long.parseLong(text); return true }
        catch { case _: NumberFormatException => }
      }
      doubleValue =
        if (digits <= 15 && scale >= -22 && scale <= 22) {
          val d = if (scale >= 0) m * Pow10(scale) else m / Pow10(-scale)
          if (neg) -d else d
        } else java.lang.Double.parseDouble(text)
      false
    }

    // ----------------------------------------------------------- features

    /** A query reply: its `features`, other keys skipped. */
    def featureReply(): Seq[EsriFeature] = {
      var out: Seq[EsriFeature] = Vector.empty
      if (open('{', '}')) while ({
        val key = string()
        expect(':')
        key match {
          case "features" => out = featureArray()
          case "error" if peek() == '{' => throw envelope(JValue(document()))
          case _ => skip()
        }
        more('}')
      }) ()
      out
    }

    /** Names of the page so far; a feature whose keys arrive in this order
      * shares it.
      */
    private var pageKeys: AttrKeys = _

    private def featureArray(): Seq[EsriFeature] = {
      val b = Vector.newBuilder[EsriFeature]
      if (open('[', ']')) while ({
        var attrs: Map[String, Any] = Map.empty
        var geom: Option[(Double, Double)] = None
        if (open('{', '}')) while ({
          rawString()
          expect(':')
          if (rawIs(AttributesKey)) attrs = attributes()
          else if (rawIs(GeometryKey)) geom = point()
          else skip()
          more('}')
        }) ()
        b += EsriFeature(attrs, geom)
        more(']')
      }) ()
      b.result()
    }

    private def attributes(): Map[String, Any] = {
      if (peek() != '{') { skip(); return Map.empty }
      if (!open('{', '}')) return Map.empty
      val shared = pageKeys
      var values = new Array[Any](if (shared != null) shared.size else 8)
      var names: Array[String] = null // set once the keys leave the shared order
      var count, present = 0
      while ({
        rawString()
        val same = names == null && shared != null && count < shared.size && !escaped &&
          shared.sameKey(count, buf, from, until)
        if (!same) {
          if (names == null) {
            names = new Array[String](values.length)
            if (shared != null) System.arraycopy(shared.names, 0, names, 0, count)
          }
          if (count == values.length) {
            values = java.util.Arrays.copyOf(values.asInstanceOf[Array[AnyRef]], count * 2)
              .asInstanceOf[Array[Any]]
            names = java.util.Arrays.copyOf(names, count * 2)
          }
          names(count) = decoded()
        }
        expect(':')
        val v = document()
        if (v != null) present += 1
        values(count) = v
        count += 1
        more('}')
      }) ()
      if (names == null && count == shared.size) new EsriAttributes(shared, values, present)
      else {
        val keys = new AttrKeys(
          if (names == null) shared.names.take(count) else names.take(count))
        val vals = values.take(count)
        if (keys.names.distinct.length < count)
          // a repeated key: the last one wins, as in any JSON object
          keys.names.indices.map(j => keys.names(j) -> vals(j)).toMap.filter(_._2 != null)
        else {
          pageKeys = keys
          new EsriAttributes(keys, vals, present)
        }
      }
    }

    /** A point geometry `{"x":…,"y":…}`; anything else (null, no
      * geometry, non-point shapes) is None.
      */
    private def point(): Option[(Double, Double)] = {
      if (peek() != '{') { skip(); return None }
      var x, y = 0.0
      var hasX, hasY = false
      if (open('{', '}')) while ({
        rawString()
        expect(':')
        val isX = rawIs('x')
        val isY = rawIs('y')
        val c = peek()
        if ((isX || isY) && (c == '-' || (c >= '0' && c <= '9'))) {
          val v = if (number()) longValue.toDouble else doubleValue
          if (isX) { x = v; hasX = true } else { y = v; hasY = true }
        } else skip()
        more('}')
      }) ()
      if (hasX && hasY) Some((x, y)) else None
    }
  }
}
