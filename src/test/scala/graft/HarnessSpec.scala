package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared measurement pieces every main leans on: the query selector,
  * the median and the JSON string escape. Pure functions, no Spark. */
class HarnessSpec extends AnyFunSuite {

  test("select: no names means every declared query, in declaration order") {
    assert(Harness.select("").keys.toSeq == SparkEntry.queries.keys.toSeq)
    assert(Harness.select(" , ").keys.toSeq == SparkEntry.queries.keys.toSeq)
  }

  test("select: named queries in the given order, duplicates once") {
    val names = SparkEntry.queries.keys.toSeq
    val (a, b) = (names(3), names(1))
    assert(Harness.select(s"$a,$b,$a").keys.toSeq == Seq(a, b))
    assert(Harness.select(s" $a ,$b,").keys.toSeq == Seq(a, b))
  }

  test("select: a misspelt name fails instead of selecting nothing") {
    val known = SparkEntry.queries.keys.head
    val e = intercept[IllegalArgumentException](
      Harness.select(s"$known,q01_agg_typo"))
    assert(e.getMessage.contains("q01_agg_typo"))
    assert(!e.getMessage.contains(known))
    intercept[IllegalArgumentException](Harness.select("nope"))
  }

  test("median: middle value for odd counts, mean of the two middles for even") {
    assert(Harness.median(Seq(3.0)) == 3.0)
    assert(Harness.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Harness.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Harness.median(Seq(1.0, 9.0)) == 5.0)
    intercept[IllegalArgumentException](Harness.median(Seq.empty))
  }

  test("jsonString: quotes, backslashes and every control character escaped") {
    assert(Harness.jsonString("plain") == "\"plain\"")
    assert(Harness.jsonString("a\"b\\c") == "\"a\\\"b\\\\c\"")
    assert(Harness.jsonString("l1\nl2\r\tx") == "\"l1\\nl2\\r\\tx\"")
    assert(Harness.jsonString("\u0000\u0001\u001f ") == "\"\\u0000\\u0001\\u001f \"")
    // Every char below 0x20 leaves the literal; parsing gives the input back.
    val all = (0 until 0x20).map(_.toChar).mkString + "ok\"\\"
    val lit = Harness.jsonString(all)
    assert(!lit.exists(_ < ' '))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(lit)
    assert(parsed.asText == all)
  }

  test("timed: returns the body's wall seconds and prints label and result") {
    val buf = new java.io.ByteArrayOutputStream
    val out = new java.io.PrintStream(buf, true, "UTF-8")
    val sec = Harness.timed("probe", out) { Thread.sleep(20); "rows=7" }
    Harness.timed("unit", out)(())
    assert(sec >= 0.02)
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    assert(lines.size == 2)
    assert(lines(0).startsWith("probe: rows=7 time="))
    assert(lines(1).startsWith("unit: time="))
  }
}
