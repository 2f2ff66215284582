package perfbench

import org.apache.spark.sql.Row

/** Minimal JSON writing for the result and check files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case '\r' => b ++= "\\r"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case f: Float => value(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case other => str(other.toString)
  }

  def rows(rs: Array[Row]): String =
    rs.map(r => r.toSeq.map(value).mkString("[", ",", "]")).mkString("[", ",", "]")
}
