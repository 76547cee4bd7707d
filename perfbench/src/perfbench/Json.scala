package perfbench

/** The benchmark's own JSON reader/writer. The fake server and the output
  * checks parse with this, never with the program's parser, so a change to
  * the program cannot change the server's cost or the checker's verdict.
  * Values: Map[String, Any], Vector[Any], String, Long, Double, Boolean, null.
  */
object Json {
  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.value()
    p.ws()
    require(p.i == s.length, s"trailing characters at ${p.i}")
    v
  }

  /** A parsed JSON number as a double. */
  def number(v: Any): Double = v match {
    case d: Double => d
    case n: Long => n.toDouble
  }

  def quote(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Render a value; maps keep their iteration order. */
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.iterator.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private final class Parser(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    private def expect(c: Char): Unit = {
      ws()
      require(i < s.length && s.charAt(i) == c, s"expected '$c' at $i")
      i += 1
    }
    private def literal(word: String, v: Any): Any = {
      require(s.startsWith(word, i), s"bad literal at $i")
      i += word.length
      v
    }
    def value(): Any = {
      ws()
      require(i < s.length, "unexpected end of input")
      s.charAt(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => literal("true", true)
        case 'f' => literal("false", false)
        case 'n' => literal("null", null)
        case _ => num()
      }
    }
    private def obj(): Map[String, Any] = {
      expect('{'); ws()
      val b = scala.collection.immutable.VectorMap.newBuilder[String, Any]
      if (s.charAt(i) == '}') { i += 1; return b.result() }
      var more = true
      while (more) {
        ws(); val k = str(); expect(':'); b += k -> value(); ws()
        if (s.charAt(i) == ',') i += 1 else { expect('}'); more = false }
      }
      b.result()
    }
    private def arr(): Vector[Any] = {
      expect('['); ws()
      val b = Vector.newBuilder[Any]
      if (s.charAt(i) == ']') { i += 1; return b.result() }
      var more = true
      while (more) {
        b += value(); ws()
        if (s.charAt(i) == ',') i += 1 else { expect(']'); more = false }
      }
      b.result()
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb.append('\n')
            case 't' => sb.append('\t')
            case 'r' => sb.append('\r')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' => sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case other => sb.append(other)
          }
        } else sb.append(c)
        i += 1
      }
      i += 1
      sb.toString
    }
    private def num(): Any = {
      val start = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      val t = s.substring(start, i)
      require(t.nonEmpty, s"unexpected character at $start")
      if (t.exists(c => c == '.' || c == 'e' || c == 'E')) t.toDouble else t.toLong
    }
  }
}
