package graft
import java.nio.file.{Files, Paths}

import graft.engine.Sinks.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Each result dir also gets a `_canonical.md5` — a deterministic hash of
  * the parquet AS WRITTEN (read back post-roundtrip, so it reflects the
  * exact types the driver's DuckDB sees). Format, reproduced bit-for-bit
  * by tools/canonical_hash.py against the oracle SQL: columns sorted by
  * name; every cell stringified (NULL literal; booleans lowercased;
  * doubles/floats as IEEE-754 bit-pattern hex so shortest-repr rules
  * can't diverge; timestamps as epoch micros UTC; dates as epoch days;
  * decimals as plain strings; binary as lowercase hex; arrays/structs/
  * maps bracketed recursively); rows sorted as string tuples; cells
  * joined by US (0x1f), rows by RS (0x1e); md5 of the UTF-8 bytes. A driver
  * hash mismatch then bisects in one read: same canonical hash on both
  * sides = ordering/type artifact in the driver's hasher; different =
  * real value divergence, and the per-row strings diff directly. */
object Verify {
  def cellStr(v: Any): String = v match {
    case null => "NULL"
    case b: java.lang.Boolean => if (b) "true" else "false"
    case b: Array[Byte] => "x:" + b.map("%02x".format(_)).mkString
    case d: java.lang.Double =>
      val bits = if (d.isNaN) 0x7ff8000000000000L
                 else java.lang.Double.doubleToLongBits(d)
      "d:" + java.lang.Long.toHexString(bits)
    case f: java.lang.Float =>
      val bits = if (f.isNaN) 0x7fc00000
                 else java.lang.Float.floatToIntBits(f)
      "f:" + java.lang.Integer.toHexString(bits)
    case t: java.sql.Timestamp =>
      "t:" + (t.getTime * 1000L + (t.getNanos / 1000) % 1000)
    case t: java.time.Instant =>
      "t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => // TIMESTAMP_NTZ collect() shape
      val u = t.toInstant(java.time.ZoneOffset.UTC)
      "t:" + (u.getEpochSecond * 1000000L + u.getNano / 1000)
    case d: java.sql.Date => "D:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D:" + d.toEpochDay
    case n: java.math.BigDecimal => "n:" + n.toPlainString
    case n: scala.math.BigDecimal => "n:" + n.bigDecimal.toPlainString
    case s: scala.collection.Seq[_] =>
      s.map(cellStr).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => cellStr(r.get(i)))
        .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, w) => cellStr(k) + "=" + cellStr(w) }
        .toSeq.sorted.mkString("<", ",", ">")
    case x => x.toString
  }

  /** Canonical hash of a result dataframe; see object doc for format. */
  def canonicalHash(df: org.apache.spark.sql.DataFrame): (String, Int) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
      .map(r => (0 until r.length).map(i => cellStr(r.get(i))).toList)
      .sortBy(identity)(Ordering.Implicits.seqOrdering[List, String])
    val body = rows.map(_.mkString("\u001f")).mkString("\u001e")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes("UTF-8"))
    (md.map("%02x".format(_)).mkString, rows.length)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // extra args = run only these queries (local bisection; the
    // driver always passes exactly two)
    val only = args.drop(2).toSet
    val spark = LocalSpark.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // Hash the parquet as written (driver-visible types), not the
        // in-flight dataframe. The file MUST be underscore-prefixed:
        // pyarrow's directory-as-dataset read treats any non-`_`/`.`
        // file as a parquet part and fails on it (this zeroed round 6's
        // correctness run); `_`-prefixed files are skipped by pyarrow,
        // Spark, and the driver's *.parquet glob alike.
        val (h, n) = canonicalHash(spark.read.parquet(s"$outDir/$name"))
        Files.writeString(Paths.get(s"$outDir/$name/_canonical.md5"),
          s"$h\nrows=$n\n")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
