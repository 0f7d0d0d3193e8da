package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Canonical digest of a query answer, in the form the repo's oracle check
  * compares answers: columns sorted by name, rows sorted. Every value is
  * rendered exactly (doubles by their shortest round-trip form, strings
  * quoted and escaped), so two answers share a digest only if they hold the
  * same typed values. */
object Digest {

  def of(schema: StructType, rows: Seq[Row]): String = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    val header = order.map { i =>
      val f = schema.fields(i)
      s"${quote(f.name)}:${f.dataType.simpleString}"
    }.mkString("\t")
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\t")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes(StandardCharsets.UTF_8))
    lines.foreach { l =>
      md.update('\n'.toByte)
      md.update(l.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private[perfbench] def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      s"ts:${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case i: java.time.Instant => s"ts:${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case t: java.time.LocalDateTime => s"ntz:$t"
    case d: java.sql.Date => s"date:$d"
    case d: java.time.LocalDate => s"date:$d"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("bin:", "", "")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}:${render(x)}" }.sorted.mkString("map{", ",", "}")
    case a: scala.collection.Seq[_] => a.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
