package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded input generator. Every row is a pure function of (seed, row
  * index), so the benchmark can compute the expected answer of any
  * query from its own rows, and a seed always yields byte-identical
  * request bodies. The program only ever sees the generated bodies.
  */
object Gen {
  val Namespace = "bench"
  val Table = "cpu"
  val JoinTable = "mem"
  val AuditNamespace = "bench_audit"
  val Hosts = 50
  val Regions = 5
  val DayMicros: Long = 86400L * 1000000L
  /** 2024-03-01T00:00:00Z: every generated timestamp counts from here. */
  val BaseMicros: Long = 1709251200L * 1000000L

  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Uniform draw in [0, n) for (seed, index, salt). */
  def draw(seed: Long, g: Long, salt: Int, n: Int): Int =
    java.lang.Math.floorMod(
      splitmix(splitmix(seed * 31L + salt) ^ g), n.toLong).toInt

  def host(i: Int): String = f"host-$i%02d"
  def region(hostIdx: Int): String = s"r${hostIdx % Regions}"

  /** One fleet point: host index, integer value, numeric `core` tag. */
  final case class Row(ts: Long, hostIdx: Int, value: Int, core: Int)

  /** A fleet row whose host is drawn from all 50 hosts. */
  def fleetRow(seed: Long, g: Long, ts: Long): Row =
    Row(ts, draw(seed, g, 1, Hosts), draw(seed, g, 2, 1000),
      draw(seed, g, 3, 8))

  /** A history row: day `d` only holds hosts 5d..5d+4 (mod 50), a fleet
    * whose members rotate through the days, so per-file host blooms
    * have host-free files to skip.
    */
  def historyRow(seed: Long, g: Long, perDay: Long): Row = {
    val day = g / perDay
    val ts = BaseMicros + day * DayMicros + (g % perDay) * (DayMicros / perDay)
    val h = ((5L * day + draw(seed, g, 1, 5)) % Hosts).toInt
    Row(ts, h, draw(seed, g, 2, 1000), draw(seed, g, 3, 8))
  }

  /** Appends one write object in the server's JSON wire shape. */
  def appendJson(sb: java.lang.StringBuilder, ns: String, r: Row): Unit = {
    sb.append("{\"namespace\":\"").append(ns)
      .append("\",\"measurement\":\"").append(Table)
      .append("\",\"value\":\"").append(r.value)
      .append("\",\"metadata\":{\"host\":\"").append(host(r.hostIdx))
      .append("\",\"region\":\"").append(region(r.hostIdx))
      .append("\",\"core\":").append(r.core)
      .append("},\"timestamp\":").append(r.ts).append('}')
  }

  /** A JSON-array write body of `rows`. */
  def arrayBody(ns: String, rows: Iterator[Row]): Array[Byte] = {
    val sb = new java.lang.StringBuilder("[")
    var first = true
    rows.foreach { r =>
      if (!first) sb.append(',')
      first = false
      appendJson(sb, ns, r)
    }
    sb.append(']').toString.getBytes(UTF_8)
  }

  /** A single-object write body (the reference client's shape). */
  def singleBody(ns: String, r: Row): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    appendJson(sb, ns, r)
    sb.toString.getBytes(UTF_8)
  }

  private val litFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** SQL timestamp literal for `micros` (UTC). */
  def tsLit(micros: Long): String = {
    val i = java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
    val t = java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    s"TIMESTAMP '${t.format(litFmt)}'"
  }

  /** The server's rendering of a timestamp cell (see Sinks.formatCell). */
  def tsCell(micros: Long): String =
    graft.engine.Sinks.formatCell(java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
}

/** Ingest bodies: writer `w` of `writers` sends batches b = 0, 1, ...;
  * batch (w, b) holds rows g = (b * writers + w) * batch + j, timestamps
  * advancing `stepMicros` per row, so the fleet's clock moves forward
  * across a few UTC days during a run.
  */
final class IngestGen(seed: Long, writers: Int, batch: Int, stepMicros: Long) {
  def firstRow(w: Int, b: Long): Long = (b * writers + w) * batch
  def row(g: Long): Gen.Row =
    Gen.fleetRow(seed, g, Gen.BaseMicros + g * stepMicros)
  def rows(w: Int, b: Long): Iterator[Gen.Row] = {
    val g0 = firstRow(w, b)
    Iterator.range(0, batch).map(j => row(g0 + j))
  }
  def body(w: Int, b: Long): Array[Byte] = Gen.arrayBody(Gen.Namespace, rows(w, b))
  def valueSum(w: Int, b: Long): Long = rows(w, b).map(_.value.toLong).sum
  def ts(g: Long): Long = Gen.BaseMicros + g * stepMicros
}
