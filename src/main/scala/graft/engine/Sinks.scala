package graft.engine

import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Result sinks (reference query.rs): JSON array of row objects
  * (ArrayWriter semantics: null fields omitted) and the Arrow-style
  * ASCII pretty table the reference's golden tests assert on
  * (reference lynx.rs:337-343, 366-372).
  */
object Sinks {

  private val secondFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val microFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** Arrow renders Timestamp(Microsecond, None) as an ISO instant
    * without zone, fractional part only when non-zero (6 digits):
    * ts=1 → "1970-01-01T00:00:00.000001" (golden lynx.rs:341).
    */
  def formatCell(v: Any): String = v match {
    case null => ""
    case t: Timestamp =>
      formatMicros(Math.floorDiv(t.getTime, 1000L) * 1000000L +
        t.getNanos / 1000L)
    case i: Instant =>
      formatMicros(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case other => other.toString
  }

  private def formatMicros(micros: Long): String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L)
    val ldt = LocalDateTime.ofInstant(
      Instant.ofEpochSecond(secs, frac * 1000L), ZoneOffset.UTC)
    if (frac == 0) ldt.format(secondFmt) else ldt.format(microFmt)
  }

  /** Arrow `pretty_format_batches`-style grid (reference query.rs:32-34):
    * `+---+` borders, cells left-aligned, one space padding.
    */
  def toTable(result: QueryResult): String = {
    val headers = result.schema.fields.map(_.name)
    val cells = result.rows.map(r =>
      (0 until r.length).map(i => formatCell(r.get(i))).toArray)
    val widths = headers.indices.map { i =>
      (headers(i).length +: cells.map(_(i).length)).max
    }
    val border = widths.map(w => "-" * (w + 2)).mkString("+", "+", "+")
    def line(vals: Seq[String]) =
      vals.zip(widths).map { case (v, w) => " " + v.padTo(w, ' ') + " " }
        .mkString("|", "|", "|")
    val sb = new StringBuilder
    sb.append(border).append('\n')
    sb.append(line(headers.toIndexedSeq)).append('\n')
    sb.append(border).append('\n')
    cells.foreach(c => sb.append(line(c.toIndexedSeq)).append('\n'))
    sb.append(border)
    sb.toString
  }

  /** JSON array of row objects; null fields omitted (Arrow
    * ArrayWriter default, reference query.rs:20-28).
    */
  def toJson(result: QueryResult): String = {
    val fields = result.schema.fields
    val sb = new StringBuilder("[")
    var firstRow = true
    result.rows.foreach { r =>
      if (!firstRow) sb.append(',')
      firstRow = false
      sb.append('{')
      var first = true
      fields.indices.foreach { i =>
        val v = r.get(i)
        if (v != null) {
          if (!first) sb.append(',')
          first = false
          sb.append(jsonString(fields(i).name)).append(':')
          v match {
            case _: Timestamp | _: Instant =>
              sb.append(jsonString(formatCell(v)))
            case s: String => sb.append(jsonString(s))
            case b: Boolean => sb.append(b.toString)
            case d: Double if d.isNaN || d.isInfinite =>
              sb.append("null") // bare NaN/Infinity is not valid JSON
            case f: Float if f.isNaN || f.isInfinite => sb.append("null")
            case n @ (_: Int | _: Long | _: Double | _: Float |
                      _: Short | _: Byte) => sb.append(n.toString)
            case d: java.math.BigDecimal => sb.append(d.toPlainString)
            case other => sb.append(jsonString(other.toString))
          }
        }
      }
      sb.append('}')
    }
    sb.append(']')
    sb.toString
  }

  /** RFC 4180 CSV (extension; the reference has json/table only):
    * header row, CRLF line ends, fields quoted only when they contain
    * a comma, quote, CR or LF; embedded quotes double. Timestamps
    * render like the other sinks (ISO micros, no zone); nulls are
    * empty fields.
    */
  def toCsv(result: QueryResult): String = {
    def field(s: String): String =
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    val sb = new StringBuilder
    sb.append(result.schema.fields.map(f => field(f.name))
      .mkString(",")).append("\r\n")
    result.rows.foreach { r =>
      sb.append((0 until r.length)
        .map(i => field(formatCell(r.get(i)))).mkString(","))
        .append("\r\n")
    }
    sb.toString
  }

  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (<0x20), so a tab or CR in a value (or in query SQL written
    * to oracle_sql.json) cannot break a JSON reader.
    */
  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
    sb.toString
  }
}
