package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins the stdout/file JSON contract of Bench. Its caller keeps a
  * bounded tail of Bench stdout and `json.load`s the LAST line, then
  * reads `metric`/`value`, the `sched` host-health probe and the
  * `queries` map; the file record additionally carries every query's
  * seconds and counted work. A malformed line silently
  * zeroes the bench artifact, so the rendering is pinned here as
  * PARSEABLE json with the exact expected keys — not just eyeballed.
  */
class BenchFormatSpec extends AnyFunSuite {

  private val results = Seq("q1_agg" -> 1.2345, "scan_pruned" -> 0.0,
    "dedup_exact" -> 12.3449)
  private val sched = Bench.schedJson(0.033, 0.339, 0.042, 0.363)

  // Minimal JSON object checks: balanced braces, the expected key:value
  // fragments, and no locale commas.
  private def assertFragments(line: String, frags: Seq[String]): Unit = {
    assert(line.count(_ == '{') == line.count(_ == '}'), line)
    assert(line.head == '{' && line.last == '}', line)
    frags.foreach(f => assert(line.contains(f), s"missing `$f` in $line"))
  }

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  test("total-only line: keys, rounding, and count") {
    val line = Bench.renderTotal(results, sched, "/data/sf0.1")
    // a mid-run query failure must be visible from the last line alone
    assertFragments(line, Seq("\"fails\":0"))
    assertFragments(Bench.renderTotal(results, sched, "/d", fails = 2),
      Seq("\"fails\":2"))
    assertFragments(line, Seq(
      "\"metric\":\"total\"",
      // 1.2345 + 0.0 + 12.3449 = 13.5794 → %.3f half-up
      "\"value\":13.579",
      "\"unit\":\"sec\"",
      "\"n\":3",
      "\"sched\":{\"pre_p50\":0.033,\"pre_max\":0.339,\"post_p50\":0.042,\"post_max\":0.363}",
      "\"sf\":\"/data/sf0.1\"",
      // a short suite fits whole, heaviest first
      "\"queries\":{\"dedup_exact\":12.345,\"q1_agg\":1.235,\"scan_pruned\":0.000}"))
  }

  test("full file record: per-query map with formatted seconds") {
    val work = results.zipWithIndex.map { case ((n, _), i) =>
      n -> Bench.Work(gcMs = 17L + i, ioMb = -1L, allocMb = 678L,
        tasks = 1234L, inRows = 7999999999L, spillMb = 0L, peakMb = 4321L)
    }
    val line = Bench.renderFullRecord(results, work, sched, "/data/sf0.1",
      fails = 1, cpus = "32")
    assertFragments(line, Seq(
      "\"queries\":{\"q1_agg\":1.235,\"scan_pruned\":0.000,\"dedup_exact\":12.345}",
      "\"metric\":\"total\"", "\"fails\":1", "\"cpus\":\"32\"", "\"sched\":",
      "\"gc_ms\":{\"q1_agg\":17,\"scan_pruned\":18,\"dedup_exact\":19}",
      "\"io_mb\":{\"q1_agg\":-1,", "\"in_rows\":{\"q1_agg\":7999999999,"))
    val json = parse(line)
    Bench.Work.keys.foreach { k =>
      assert(json.get(k).fieldNames.asScala.toSeq == results.map(_._1),
        s"$k map does not cover the suite in order")
    }
    assert(json.get("peak_mb").get("dedup_exact").asLong == 4321L)
    // an empty suite: empty but still-parseable maps
    val bare = Bench.renderFullRecord(Nil, Nil, sched, "/d", 0, "4")
    Bench.Work.keys.foreach(k => assert(bare.contains(s""""$k":{}"""), bare))
    parse(bare)
  }

  // Worst-case width: the real suite, every query at 99.999 s, and an
  // sf path longer than any the bench is run with.
  private lazy val worst = SparkEntry.selectNames(None).map(_ -> 99.999)
  private lazy val worstLine = Bench.renderTotal(worst,
    Bench.schedJson(12.345, 99.999, 12.345, 99.999),
    "/data/" + "x" * 40 + "/sf0.1", fails = 107)

  test("the full-suite last line fits the driver's 2000-byte tail") {
    assert(worst.size >= 100, "suite lost its queries")
    val bytes = worstLine.getBytes("UTF-8").length
    assert(bytes <= Bench.MaxLineBytes, s"last line is $bytes bytes")
    // the line plus its newline survives a 2000-byte stdout tail
    val stdout = worst.map { case (n, s) => s"""{"q":"$n","sec":${Bench.fmt(s)}}""" }
      .mkString("", "\n", "\n") + worstLine + "\n"
    assert(stdout.takeRight(2000).linesIterator.toSeq.last == worstLine)

    val json = parse(worstLine)
    Seq("metric", "value", "unit", "n", "fails", "sched", "sf", "queries")
      .foreach(k => assert(json.has(k), s"missing key $k"))
    assert(json.get("n").asInt == worst.size)
    // value sums ALL queries, not only the ones shown
    assert(json.get("value").asDouble == Bench.fmt(worst.map(_._2).sum).toDouble)
  }

  test("the last line lists the heaviest queries within the tail cap") {
    val bytes = worstLine.getBytes("UTF-8").length
    val shown = parse(worstLine).get("queries").properties.asScala.toSeq
      .map(e => e.getKey -> e.getValue.asDouble)
    assert(shown.nonEmpty && shown.size < worst.size, s"${shown.size} shown")
    val heaviest = worst.sortBy { case (n, s) => (-s, n) }
    assert(shown == heaviest.take(shown.size).map { case (n, s) =>
      n -> Bench.fmt(s).toDouble }, "queries is not the heaviest-first prefix")
    // the map stops at the cap, not before it
    val next = heaviest(shown.size)
    assert(bytes + s""","${next._1}":${Bench.fmt(next._2)}""".length >
      Bench.MaxLineBytes, "the map stopped short of the cap")

    // distinct times: the heaviest come first whatever the name order
    val mixed = worst.zipWithIndex.map { case ((n, _), i) => n -> i / 10.0 }
    val top = parse(Bench.renderTotal(mixed, sched, "/d"))
      .get("queries").fieldNames.asScala.toSeq
    assert(top == mixed.sortBy(-_._2).take(top.size).map(_._1))
  }

  test("fmt is locale-pinned to a dot decimal separator") {
    // No global Locale.setDefault here: mutating the JVM default races
    // any concurrently-running suite. The pin is demonstrated by
    // contrast instead — an unpinned GERMANY format of the same value
    // yields the comma decimal fmt exists to prevent.
    assert(Bench.fmt(1.5) == "1.500")
    assert(String.format(java.util.Locale.GERMANY, "%.3f",
      Double.box(1.5)) == "1,500")
  }

  test("sf dir is JSON-escaped; query names need no escaping") {
    val line = Bench.renderTotal(results, sched, """C:\data "x"""")
    assert(line.contains(""""sf":"C:\\data \"x\""""))
    assert(parse(line).get("sf").asText == """C:\data "x"""")
    assert(Bench.jstr("a\nb\tc") == "a\\u000ab\\u0009c")
  }

  test("empty suite still renders a parseable record") {
    val line = Bench.renderTotal(Seq.empty, sched, "/d")
    assertFragments(line, Seq("\"value\":0.000", "\"n\":0", "\"queries\":{}"))
    parse(line)
  }
}
