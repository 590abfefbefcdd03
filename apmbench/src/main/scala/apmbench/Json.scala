package apmbench

/** Minimal JSON writer for the driver's raw result file.
  *
  * Numbers are rendered with `java.lang.Double.toString` and
  * `java.lang.Long.toString`, which ignore the default locale, so the
  * output stays valid JSON under a comma-decimal locale (the
  * `f"$x%.2f"` interpolator does not). NaN and infinities become null.
  */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case b: Boolean => sb.append(if (b) "true" else "false")
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null")
      else sb.append(java.lang.Double.toString(d))
    case f: Float => write(sb, f.toDouble)
    case l: Long => sb.append(java.lang.Long.toString(l))
    case i: Int => sb.append(java.lang.Integer.toString(i))
    case s: String => quote(sb, s)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case xs: Array[_] => write(sb, xs.toSeq)
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' =>
        val hex = Integer.toHexString(c.toInt)
        sb.append("\\u").append("0" * (4 - hex.length)).append(hex)
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
