package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded JSON corpus for the codec workloads.
  *
  * Every document is first built as a tree (the model). The model is
  * printed twice: once as the raw input text, with the spellings a real
  * producer varies (key order, `\u` escapes, `\/`, exponent floats,
  * optional blanks), and once as the canonical text that
  * `variant_to_json` must give back (keys in UTF-8 byte order, compact,
  * Jackson's escaping and `Double.toString` floats). The same model
  * answers every `variant_query` question, so the checks never go
  * through the code under test.
  *
  * Rows come in blocks of [[Block]] ids that share one kind:
  *  - flat (50 %): one of four key templates per block, same key order on
  *    every row, so the encoder's last-row-shape speculation hits; one row
  *    in ten drops `country` and breaks the run;
  *  - wide (20 %): 20 to 50 keys drawn from `f00`..`f63` in random order;
  *  - nested (30 %): objects three deep, arrays of objects, escaped and
  *    non-ASCII strings, shuffled key order; about one nested row in
  *    twenty carries an integer of 20 to 25 digits, which the byte lexer
  *    hands to Jackson.
  */
object Corpus {
  sealed trait J
  final case class JObj(fields: Vector[(String, J)]) extends J
  final case class JArr(items: Vector[J]) extends J
  final case class JStr(s: String) extends J
  final case class JLong(v: Long) extends J
  final case class JDouble(v: Double) extends J
  final case class JBig(v: java.math.BigInteger) extends J
  final case class JBool(v: Boolean) extends J
  case object JNull extends J

  final val Block = 32
  val Kinds: Array[String] = Array("flat", "wide", "nested")
  val Events: Array[String] = Array("click", "view", "purchase", "signup", "error")
  val Countries: Array[String] = Array("US", "DE", "FR", "JP", "BR", "IN", "CN", "GB")
  val Cities: Array[String] = Array("Zürich", "São Paulo", "東京", "Москва", "Berlin",
    "New York", "Lagos", "Reykjavík", "Montréal", "Kraków")
  private val Devices = Array("ios", "android", "web", "tv")
  private val Words = Array("alpha", "beta", "gamma", "delta", "naïve", "café", "smörgås",
    "quote\"d", "back\\slash", "tab\there", "line\nbreak", "a/b", "emoji 🙂", "中文")
  private val MetaKeys = Array("source", "größe", "rank", "flags", "note", "v2", "_x")
  private val Templates: Array[Array[String]] = Array(
    Array("id", "event", "uid", "amount", "ok", "country", "ts", "val"),
    Array("id", "event", "uid", "amount", "device", "country", "session", "val", "ok"),
    Array("id", "event", "sku", "qty", "price", "val", "country"),
    Array("id", "event", "uid", "ref", "val", "country", "amount", "tag"))

  /** One generated document with the model facts the checks need. */
  final case class Doc(
      id: Long, kind: Int, json: String, canon: String, event: String,
      city: String, country: String, nItems: Int, sumQty: Long, nKeys: Int,
      valType: String, keys: Seq[String], userKeys: Seq[String], depth: Int,
      bigInt: Boolean, shape: Long)

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def kindOf(seed: Long, id: Long): Int = {
    val r = new SplittableRandom(mix(seed, id / Block + 0x5eedL)).nextInt(10)
    if (r < 5) 0 else if (r < 7) 1 else 2
  }

  def doc(seed: Long, id: Long): Doc = {
    val kind = kindOf(seed, id)
    val blockRng = new SplittableRandom(mix(seed, id / Block + 0xb10cL))
    val r = new SplittableRandom(mix(seed, id))
    val (value, userKeys) = kind match {
      case 0 => (flat(r, id, Templates(blockRng.nextInt(Templates.length))), Nil)
      case 1 => (wide(r, id), Nil)
      case _ => nested(r, id)
    }
    val obj = value.asInstanceOf[JObj]
    def field(k: String): Option[J] = obj.fields.collectFirst { case (`k`, v) => v }
    val items = field("items") match {
      case Some(JArr(xs)) => xs.collect { case JObj(fs) => fs.collectFirst { case ("qty", JLong(q)) => q }.get }
      case _ => Vector.empty
    }
    val city = field("user") match {
      case Some(JObj(fs)) => fs.collectFirst { case ("geo", JObj(g)) =>
        g.collectFirst { case ("city", JStr(c)) => c }.orNull }.orNull
      case _ => null
    }
    val keys = obj.fields.map(_._1)
    Doc(id, kind, raw(value, r), canonical(value),
      field("event").collect { case JStr(s) => s }.get, city,
      field("country").collect { case JStr(s) => s }.orNull,
      items.size, items.sum, keys.size, typeName(field("val").get), keys, userKeys,
      depth(value), hasBig(value), keys.sorted.foldLeft(17L)((h, k) => mix(h, k.hashCode.toLong)))
  }

  private def fmt(f: String, xs: Int*): String =
    String.format(java.util.Locale.ROOT, f, xs.map(Int.box): _*)
  private def pick[T](r: SplittableRandom, xs: Array[T]): T = xs(r.nextInt(xs.length))
  private def word(r: SplittableRandom): String = pick(r, Words)
  private def text(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => word(r)).mkString(" ")
  private def money(r: SplittableRandom): JDouble = JDouble(r.nextInt(4000000) / 4.0)

  private def mixedVal(r: SplittableRandom): J = r.nextInt(10) match {
    case 0 => JLong(r.nextInt(100).toLong)
    case 1 => JLong(1000L + r.nextInt(29000))
    case 2 => JLong(100000L + r.nextInt(2000000000))
    case 3 => JLong(3000000000L + r.nextLong(1L << 50))
    case 4 => JDouble(r.nextInt(100000) / 8.0)
    case 5 => JStr(word(r))
    case 6 => JBool(r.nextBoolean())
    case 7 => JNull
    case 8 => JArr(Vector(JLong(1), JStr(word(r)), JDouble(0.5)))
    case _ => JObj(Vector("x" -> JLong(r.nextInt(9).toLong), "y" -> JStr(word(r))))
  }

  private def common(r: SplittableRandom, id: Long): Map[String, J] = Map(
    "id" -> JLong(id), "event" -> JStr(pick(r, Events)), "val" -> mixedVal(r))

  private def flat(r: SplittableRandom, id: Long, template: Array[String]): J = {
    val base = common(r, id)
    val dropCountry = r.nextInt(10) == 0
    val fields = template.toVector.filterNot(k => dropCountry && k == "country").map { k =>
      k -> base.getOrElse(k, k match {
        case "uid" => JLong(r.nextInt(100000).toLong)
        case "amount" | "price" => money(r)
        case "ok" => JBool(r.nextBoolean())
        case "country" => JStr(pick(r, Countries))
        case "ts" => JStr(fmt("2024-%02d-%02dT%02d:00:00Z", 1 + r.nextInt(12), 1 + r.nextInt(28), r.nextInt(24)))
        case "device" => JStr(pick(r, Devices))
        case "session" => JStr(java.lang.Long.toHexString(r.nextLong()))
        case "sku" => JStr(s"SKU-${r.nextInt(100000)}")
        case "qty" => JLong(1L + r.nextInt(20))
        case "ref" => JLong(r.nextLong(1000000000000000L))
        case "tag" => JStr(word(r))
      })
    }
    JObj(fields)
  }

  private def wide(r: SplittableRandom, id: Long): J = {
    val base = common(r, id)
    val n = 20 + r.nextInt(31)
    val names = shuffle(r, (0 until 64).toVector).take(n).map(i => fmt("f%02d", i))
    val extra = names.map { k =>
      k -> (k.substring(1).toInt % 4 match {
        case 0 => JLong(r.nextInt(1000000).toLong)
        case 1 => JStr(word(r))
        case 2 => JDouble(r.nextInt(1000000) / 16.0)
        case _ => JBool(r.nextBoolean())
      })
    }
    JObj(Vector("id" -> base("id"), "event" -> base("event"), "val" -> base("val")) ++ extra)
  }

  private def nested(r: SplittableRandom, id: Long): (J, Seq[String]) = {
    val base = common(r, id)
    val geo = JObj(shuffle(r, Vector(
      "city" -> JStr(pick(r, Cities)),
      "lat" -> JDouble((r.nextInt(180000) - 90000) / 1000.0),
      "lon" -> JDouble((r.nextInt(360000) - 180000) / 1000.0))))
    val userFields = Vector(
      "id" -> JLong(r.nextInt(100000).toLong),
      "name" -> JStr(text(r, 2)),
      "geo" -> geo) ++
      (if (r.nextBoolean()) Vector("email" -> JStr(s"u${r.nextInt(100000)}@example.org")) else Vector.empty) ++
      (if (r.nextInt(4) == 0) Vector("age" -> JLong(18L + r.nextInt(70))) else Vector.empty)
    val items = JArr(Vector.fill(r.nextInt(7)) {
      JObj(shuffle(r, Vector(
        "sku" -> JStr(s"SKU-${r.nextInt(100000)}"),
        "qty" -> JLong(1L + r.nextInt(20)),
        "price" -> money(r)) ++
        (if (r.nextInt(3) == 0) Vector("opts" -> JArr(Vector.fill(1 + r.nextInt(3))(JStr(word(r)))))
         else Vector.empty)))
    })
    var fields = Vector[(String, J)]("id" -> base("id"), "event" -> base("event"),
      "val" -> base("val"), "user" -> JObj(shuffle(r, userFields)), "items" -> items,
      "note" -> JStr(text(r, 3 + r.nextInt(12))))
    if (r.nextInt(2) == 0) {
      val ks = shuffle(r, MetaKeys.toVector).take(1 + r.nextInt(5))
      fields :+= "meta" -> JObj(ks.map(k => k -> (if (r.nextBoolean()) JStr(word(r)) else JLong(r.nextInt(1000).toLong))))
    }
    if (r.nextInt(20) == 0) {
      val digits = 20 + r.nextInt(6)
      val sb = new StringBuilder().append((1 + r.nextInt(9)).toString)
      (1 until digits).foreach(_ => sb.append(r.nextInt(10)))
      val big = new java.math.BigInteger(sb.toString)
      fields :+= "big" -> JBig(if (r.nextBoolean()) big.negate() else big)
    }
    if (r.nextInt(3) == 0) fields :+= "tags" -> JArr(Vector.fill(r.nextInt(5))(JStr(word(r))))
    (JObj(shuffle(r, fields)), userFields.map(_._1))
  }

  private def shuffle[T](r: SplittableRandom, xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  def typeName(v: J): String = v match {
    case JObj(_) => "object"
    case JArr(_) => "array"
    case JStr(_) => "string"
    case JBool(_) => "boolean"
    case JNull => "null"
    case JDouble(_) => "double"
    case JBig(_) => "decimal(38,0)"
    case JLong(x) =>
      if (x >= Byte.MinValue && x <= Byte.MaxValue) "tinyint"
      else if (x >= Short.MinValue && x <= Short.MaxValue) "smallint"
      else if (x >= Int.MinValue && x <= Int.MaxValue) "int"
      else "bigint"
  }

  def depth(v: J): Int = v match {
    case JObj(fs) => 1 + (if (fs.isEmpty) 0 else fs.map(f => depth(f._2)).max)
    case JArr(xs) => 1 + (if (xs.isEmpty) 0 else xs.map(depth).max)
    case _ => 0
  }

  private def hasBig(v: J): Boolean = v match {
    case JObj(fs) => fs.exists(f => hasBig(f._2))
    case JArr(xs) => xs.exists(hasBig)
    case JBig(_) => true
    case _ => false
  }

  private def utf8Order(a: String, b: String): Boolean = {
    val x = a.getBytes(UTF_8); val y = b.getBytes(UTF_8)
    java.util.Arrays.compareUnsigned(x, y) < 0
  }

  /** Compact text in the form the codec's printer produces. */
  def canonical(v: J): String = { val sb = new java.lang.StringBuilder; canon(v, sb); sb.toString }

  private def canon(v: J, sb: java.lang.StringBuilder): Unit = v match {
    case JObj(fs) =>
      sb.append('{')
      fs.sortWith((a, b) => utf8Order(a._1, b._1)).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        quote(k, sb, escapeAll = false); sb.append(':'); canon(x, sb)
      }
      sb.append('}')
    case JArr(xs) =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); canon(x, sb) }
      sb.append(']')
    case JStr(s) => quote(s, sb, escapeAll = false)
    case JLong(x) => sb.append(x)
    case JDouble(x) => sb.append(java.lang.Double.toString(x))
    case JBig(x) => sb.append(x.toString)
    case JBool(x) => sb.append(x)
    case JNull => sb.append("null")
  }

  /** Input text: document key order, optional blanks, and producer-side
    * escape and number spellings drawn from `r`. */
  def raw(v: J, r: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder
    val spaced = r.nextInt(3) == 0
    def go(x: J): Unit = x match {
      case JObj(fs) =>
        sb.append('{')
        fs.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb.append(if (spaced) ", " else ",")
          quote(k, sb, escapeAll = false); sb.append(if (spaced) ": " else ":"); go(y)
        }
        sb.append('}')
      case JArr(xs) =>
        sb.append('[')
        xs.zipWithIndex.foreach { case (y, i) => if (i > 0) sb.append(','); go(y) }
        sb.append(']')
      case JStr(s) => quote(s, sb, escapeAll = r.nextInt(4) == 0)
      case JDouble(d) if r.nextInt(8) == 0 =>
        // same value, exponent spelling: 1234.5 -> 1.2345E3
        val bd = new java.math.BigDecimal(java.lang.Double.toString(d))
        sb.append(bd.movePointLeft(bd.precision() - bd.scale() - 1).toPlainString)
          .append("E").append(bd.precision() - bd.scale() - 1)
      case other => canon(other, sb)
    }
    go(v)
    sb.toString
  }

  /** JSON string literal. Canonical form escapes only `"`, `\` and
    * control characters (short forms for \n \t \r \b \f), as Jackson
    * does; `escapeAll` additionally writes every non-ASCII char and `/`
    * as an escape, the spelling of ASCII-only producers. */
  private def quote(s: String, sb: java.lang.StringBuilder, escapeAll: Boolean): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\t' => sb.append("\\t")
        case '\r' => sb.append("\\r")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '/' if escapeAll => sb.append("\\/")
        case _ if c < 0x20 || (escapeAll && c > 0x7e) =>
          sb.append("\\u").append(fmt("%04x", c.toInt))
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}
