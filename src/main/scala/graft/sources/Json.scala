package graft.sources

/** Minimal recursive-descent JSON parser (RFC 8259), from scratch —
  * the engine-side reader for metadata that ARRIVES as JSON inside
  * other formats (the Avro schema embedded in every object-container
  * header, Iceberg table metadata). Executor-side byte work, so it
  * follows the house totality law: any malformation — truncation,
  * bad escapes, trailing garbage, unterminated strings, numbers that
  * aren't — returns None, never a throw.
  *
  * Scope notes: numbers surface as (Long | Double) by shape (no
  * exponent/fraction → Long when it fits); \\u escapes decode to the
  * UTF-16 code unit (surrogate pairs pass through as their two
  * units, which is exactly Java's String representation); duplicate
  * object keys keep the LAST value (the common-parser behavior);
  * depth is capped (adversarial nesting would otherwise overflow the
  * stack). JsonSpec cross-pins against Jackson (Spark's to_json) on
  * round-tripped rows.
  */
object Json {

  sealed trait JValue
  case object JNull extends JValue
  final case class JBool(v: Boolean) extends JValue
  final case class JLong(v: Long) extends JValue
  final case class JDouble(v: Double) extends JValue
  final case class JString(v: String) extends JValue
  final case class JArray(items: Vector[JValue]) extends JValue
  final case class JObject(fields: Vector[(String, JValue)]) extends JValue {
    lazy val map: Map[String, JValue] = fields.toMap // last key wins
    def get(key: String): Option[JValue] = map.get(key)
  }

  private val MaxDepth = 64

  import Bytes.{Damage, damage}

  /** Parse one complete JSON document; trailing whitespace allowed,
    * trailing content is malformation.
    */
  def parse(s: String): Option[JValue] = {
    try {
      val p = new P(s)
      p.ws()
      val v = p.value(0)
      p.ws()
      if (p.pos != s.length) damage()
      Some(v)
    } catch { case _: Damage => None }
  }

  private final class P(s: String) {
    var pos = 0

    def ws(): Unit =
      while (pos < s.length && (s.charAt(pos) == ' ' || s.charAt(pos) == '\t' ||
        s.charAt(pos) == '\n' || s.charAt(pos) == '\r')) pos += 1

    private def ch(): Char = {
      if (pos >= s.length) damage()
      s.charAt(pos)
    }

    private def eat(c: Char): Unit = {
      if (pos >= s.length || s.charAt(pos) != c) damage()
      pos += 1
    }

    private def lit(word: String, v: JValue): JValue = {
      if (!s.startsWith(word, pos)) damage()
      pos += word.length
      v
    }

    def value(depth: Int): JValue = {
      if (depth > MaxDepth) damage()
      ch() match {
        case '{' => obj(depth)
        case '[' => arr(depth)
        case '"' => JString(string())
        case 't' => lit("true", JBool(true))
        case 'f' => lit("false", JBool(false))
        case 'n' => lit("null", JNull)
        case c if c == '-' || (c >= '0' && c <= '9') => number()
        case _ => damage()
      }
    }

    private def obj(depth: Int): JValue = {
      eat('{'); ws()
      val fields = Vector.newBuilder[(String, JValue)]
      if (ch() == '}') { pos += 1; return JObject(fields.result()) }
      var more = true
      while (more) {
        ws()
        val k = string()
        ws(); eat(':'); ws()
        fields += k -> value(depth + 1)
        ws()
        ch() match {
          case ',' => pos += 1
          case '}' => pos += 1; more = false
          case _ => damage()
        }
      }
      JObject(fields.result())
    }

    private def arr(depth: Int): JValue = {
      eat('['); ws()
      val items = Vector.newBuilder[JValue]
      if (ch() == ']') { pos += 1; return JArray(items.result()) }
      var more = true
      while (more) {
        ws()
        items += value(depth + 1)
        ws()
        ch() match {
          case ',' => pos += 1
          case ']' => pos += 1; more = false
          case _ => damage()
        }
      }
      JArray(items.result())
    }

    private def string(): String = {
      eat('"')
      val sb = new java.lang.StringBuilder()
      var done = false
      while (!done) {
        val c = ch(); pos += 1
        c match {
          case '"' => done = true
          case '\\' =>
            val e = ch(); pos += 1
            e match {
              case '"' => sb.append('"')
              case '\\' => sb.append('\\')
              case '/' => sb.append('/')
              case 'b' => sb.append('\b')
              case 'f' => sb.append('\f')
              case 'n' => sb.append('\n')
              case 'r' => sb.append('\r')
              case 't' => sb.append('\t')
              case 'u' =>
                if (pos + 4 > s.length) damage()
                val h = s.substring(pos, pos + 4)
                if (!h.forall(c => Character.digit(c, 16) >= 0)) damage()
                sb.append(Integer.parseInt(h, 16).toChar)
                pos += 4
              case _ => damage()
            }
          case c if c < 0x20 => damage() // control chars must be escaped
          case c => sb.append(c)
        }
      }
      sb.toString
    }

    private def number(): JValue = {
      val start = pos
      if (ch() == '-') pos += 1
      // int part: 0, or 1-9 digits (leading zeros are malformation)
      ch() match {
        case '0' => pos += 1
        case c if c >= '1' && c <= '9' =>
          while (pos < s.length && s.charAt(pos) >= '0' &&
            s.charAt(pos) <= '9') pos += 1
        case _ => damage()
      }
      var isInt = true
      if (pos < s.length && s.charAt(pos) == '.') {
        isInt = false; pos += 1
        if (pos >= s.length || s.charAt(pos) < '0' ||
          s.charAt(pos) > '9') damage()
        while (pos < s.length && s.charAt(pos) >= '0' &&
          s.charAt(pos) <= '9') pos += 1
      }
      if (pos < s.length &&
        (s.charAt(pos) == 'e' || s.charAt(pos) == 'E')) {
        isInt = false; pos += 1
        if (pos < s.length &&
          (s.charAt(pos) == '+' || s.charAt(pos) == '-')) pos += 1
        if (pos >= s.length || s.charAt(pos) < '0' ||
          s.charAt(pos) > '9') damage()
        while (pos < s.length && s.charAt(pos) >= '0' &&
          s.charAt(pos) <= '9') pos += 1
      }
      val text = s.substring(start, pos)
      if (isInt) {
        try JLong(java.lang.Long.parseLong(text))
        catch { case _: NumberFormatException => JDouble(text.toDouble) }
      } else {
        val d = text.toDouble
        if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
          damage()
        JDouble(d)
      }
    }
  }
}
