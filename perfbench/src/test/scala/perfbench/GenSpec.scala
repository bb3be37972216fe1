package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def digest(bodies: Seq[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    bodies.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  private def ingestBodies(seed: Long) = {
    val g = new IngestGen(seed, writers = 3, batch = 100, stepMicros = 2000000L)
    for (b <- 0 until 20; w <- 0 until 3) yield g.body(w, b)
  }

  test("a seed always yields byte-identical write bodies") {
    assert(digest(ingestBodies(7)) == digest(ingestBodies(7)))
    val single = (0 until 50).map(i =>
      Gen.singleBody(Gen.Namespace, Gen.fleetRow(7, i, Gen.BaseMicros + i)))
    val again = (0 until 50).map(i =>
      Gen.singleBody(Gen.Namespace, Gen.fleetRow(7, i, Gen.BaseMicros + i)))
    assert(digest(single) == digest(again))
  }

  test("different seeds yield different bodies") {
    assert(digest(ingestBodies(7)) != digest(ingestBodies(8)))
  }

  test("bodies parse as the server parses them and carry the generator's rows") {
    val g = new IngestGen(3, writers = 3, batch = 100, stepMicros = 2000000L)
    val ws = graft.http.Json.parseWriteBatch(g.body(1, 4))
    assert(ws.size == 100)
    assert(ws.map(_.value.toLong).sum == g.valueSum(1, 4))
    val first = g.row(g.firstRow(1, 4))
    assert(ws.head.timestamp == first.ts)
    assert(ws.head.metadata("host").render == Gen.host(first.hostIdx))
    assert(ws.head.metadata("core").render == first.core.toString)
  }

  test("history days hold only their five rotating hosts") {
    val perDay = 1000L
    for (g <- 0L until 20 * perDay by 37) {
      val r = Gen.historyRow(11, g, perDay)
      val d = g / perDay
      assert(((r.hostIdx - 5 * d) % 50 + 50) % 50 < 5)
      assert(r.ts >= Gen.BaseMicros + d * Gen.DayMicros)
      assert(r.ts < Gen.BaseMicros + (d + 1) * Gen.DayMicros)
    }
  }

  test("timestamp literals and cells round-trip the server's formats") {
    assert(Gen.tsLit(Gen.BaseMicros) == "TIMESTAMP '2024-03-01 00:00:00.000000'")
    assert(Gen.tsCell(Gen.BaseMicros) == "2024-03-01T00:00:00")
    assert(Gen.tsCell(Gen.BaseMicros + 864000L) == "2024-03-01T00:00:00.864000")
  }

  test("the ASCII table sink parses back into cells") {
    val body = "+---+----+\n| n | s  |\n+---+----+\n| 3 | 12 |\n|   | x  |\n+---+----+"
    val (head, rows) = Loops.parseTable(body)
    assert(head == Seq("n", "s"))
    assert(rows == Seq(Seq("3", "12"), Seq("", "x")))
    assert(new String(Gen.arrayBody(Gen.Namespace, Iterator.empty), UTF_8) == "[]")
  }
}
