package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench driver keeps only the LAST 2000 bytes of stdout and parses the
  * metric JSON line out of that window. BENCH_r04 registered "parsed": null
  * because the full-precision line (1987 bytes) plus sbt's trailing
  * "[success]" line overflowed it. Bench now prints millisecond precision
  * and degrades to a compact slowest-20 line once the full map outgrows the
  * window (the full map always lands in bench_metric.json); this spec pins
  * that whatever is PRINTED fits, at any catalog size.
  */
class BenchMetricSpec extends AnyFunSuite {

  // Worst-case value width at ms precision: "99.999" (6 chars) — any
  // single catalog query past 100 s is itself a red-flag regression
  // (the whole r4 run was 36 s).
  private val worstCase =
    SparkEntry.queries.keys.toSeq.map(k => k -> 99.999)

  test("printed metric line fits the driver's 2000-byte stdout tail") {
    val (printed, full) =
      Bench.metricLine(worstCase, "/root/testdata/sf0.1")
    assert(printed.length <= 1900,
      s"printed metric line is ${printed.length} bytes; the driver tail " +
        "window is 2000 — the compact fallback should have engaged")
    // the file line always carries every query, compact or not
    SparkEntry.queries.keys.foreach(k => assert(full.contains("\"" + k + "\"")))
  }

  test("compact fallback keeps the all-query total and parses as JSON-ish") {
    val many = (1 to 300).map(i => f"q_synthetic_query_name_$i%03d" -> i / 1000.0)
    val (printed, full) = Bench.metricLine(many, "/sf")
    assert(printed.length <= 1900 && full.length > 1900)
    val expected = Bench.sec3(many.map(_._2).sum)
    assert(printed.contains("\"value\":" + expected))
    assert(printed.contains("bench_metric.json"))
    // slowest queries (highest seconds) are the ones shown
    assert(printed.contains("q_synthetic_query_name_300"))
    assert(!printed.contains("q_synthetic_query_name_001\""))
  }

  test("small catalogs print the full map on stdout") {
    val few = Seq("q_a" -> 1.0, "q_b" -> 2.5)
    val (printed, full) = Bench.metricLine(few, "/sf")
    assert(printed == full)
    assert(printed.contains("\"q_b\":2.500") && printed.contains("\"value\":3.500"))
  }

  test("file line records per-query max, retimed, and env; stdout schema unchanged") {
    val few = Seq("q_a" -> 1.0, "q_b" -> 2.5)
    val maxes = Seq("q_a" -> 1.2, "q_b" -> 9.9)
    val env = Seq(("ts_start", "2026-08-13T10:00:00Z"),
      ("load_start", "0.52 0.61 0.70 2/345 6789"),
      ("ts_end", "2026-08-13T10:01:00Z"),
      ("load_end", "1.10 0.75 0.71 1/345 6999"))
    val (printed, full) = Bench.metricLine(few, "/sf", maxes = maxes,
      retimed = Seq("q_b:2.500(prior 0.500)"), env = env)
    assert(!printed.contains("queries_max") && !printed.contains("retimed") &&
      !printed.contains("load_start"),
      "stdout line schema must not grow")
    assert(full.contains("\"queries_max\":{\"q_a\":1.200,\"q_b\":9.900}"))
    assert(full.contains("\"retimed\":[\"q_b:2.500(prior 0.500)\"]"))
    assert(full.contains("\"queries\":{\"q_a\":1.000,\"q_b\":2.500}"))
    // the file line must stay machine-parseable
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(full)
    assert(parsed.path("queries_max").path("q_b").asDouble() == 9.9)
    assert(parsed.path("retimed").get(0).asText().startsWith("q_b:"))
    assert(parsed.path("env").path("load_start").asText().startsWith("0.52"))
    assert(parsed.path("env").path("ts_end").asText() == "2026-08-13T10:01:00Z")
  }

  test("a face that throws is a failure, not a fast sample") {
    // the throw lands on the second run: the first run's time must not
    // survive as a sample either
    var runs = 0
    val thrown = Bench.timed(3) {
      runs += 1
      if (runs == 2) throw new IllegalStateException("boom")
    }
    assert(thrown == Left("java.lang.IllegalStateException: boom"))
    assert(runs == 2, "timing stops at the first failure")
    val ok = Bench.timed(2)(Thread.sleep(5))
    assert(ok.exists(ts => ts.size == 2 && ts.forall(_ >= 0.005)), ok.toString)
    // a failed face is named on the file line and timed nowhere
    val (printed, full) = Bench.metricLine(Seq("q_a" -> 1.0), "/sf",
      maxes = Seq("q_a" -> 1.5), failed = Seq("q_bad"))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(full)
    assert(parsed.path("failed").size() == 1 &&
      parsed.path("failed").get(0).asText() == "q_bad")
    assert(parsed.path("queries").path("q_bad").isMissingNode &&
      parsed.path("queries_max").path("q_bad").isMissingNode)
    assert(parsed.path("value").asDouble() == 1.0)
    assert(!printed.contains("failed") && !printed.contains("q_bad"),
      "stdout line schema must not grow")
  }

  test("baseline block: both ratios, capped breach list, and it rides the stdout line") {
    val base = Map("q_a" -> 1.0, "q_b" -> 2.0, "q_gone" -> 3.0)
    val cur = Seq("q_a" -> 1.0, "q_b" -> 5.0, "q_new" -> 4.0)
    val block = Bench.baselineBlock(cur, 6.0, base)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(block)
    assert(parsed.path("r1_total").asDouble() == 6.0 && parsed.path("r1_n").asInt() == 3)
    assert(parsed.path("shared_n").asInt() == 2)
    assert(math.abs(parsed.path("raw_ratio").asDouble() -
      (1.0 + 5.0 + 4.0) / 6.0) < 0.001)
    assert(math.abs(parsed.path("comparable_ratio").asDouble() -
      (1.0 + 5.0) / 6.0) < 0.001)
    assert(parsed.path("breach_count").asInt() == 1)
    assert(parsed.path("breaches").get(0).asText() == "q_b:5.000(r1 2.000)")
    assert(parsed.path("r1_missing").get(0).asText() == "q_gone")
    // field ORDER contract (r17 judge directive #6): the adjudicating
    // readings — comparable ratio + breach list — lead the block
    assert(block.startsWith("{\"comparable_ratio\":"),
      s"comparable_ratio must be the first field: ${block.take(60)}")
    assert(block.indexOf("\"breaches\":") < block.indexOf("\"raw_ratio\":"),
      "breaches must precede the raw ratio")
    // the block lands in BOTH lines — the driver's artifact is the
    // captured stdout tail, so the gate must be adjudicable from it
    val (printed, full) = Bench.metricLine(cur, "/sf", baseline = Some(block))
    assert(printed.contains("\"baseline\":{") && full.contains("\"baseline\":{"))
    assert(printed.contains("\"comparable_ratio\":"))
    // and the COMPACT fallback still fits the tail window with a full
    // breach list attached (worst realistic case)
    val many = (1 to 300).map(i => f"q_synthetic_query_name_$i%03d" -> 99.9)
    val bigBase = many.take(51).map { case (k, _) => k -> 1.0 }.toMap
    val bigBlock = Bench.baselineBlock(many, 39.45, bigBase)
    val p2 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bigBlock)
    assert(p2.path("breach_count").asInt() == 51 && p2.path("breaches").size() == 8)
    val (printed2, _) = Bench.metricLine(many, "/sf", baseline = Some(bigBlock))
    assert(printed2.length <= 1900,
      s"compact line + baseline block is ${printed2.length} bytes")
  }

  test("baseline block: rename map keeps renamed faces in the comparable subset") {
    val base = Map("q_a" -> 1.0, "q_multimodal" -> 2.0,
      "q_multimodal_frames" -> 1.5)
    val cur = Seq("q_a" -> 1.0, "q_payload_slice" -> 5.0,
      "q_payload_slice_frames" -> 1.0)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.baselineBlock(cur, 4.5, base))
    // all three r1 faces land in the shared subset via the rename map —
    // no r1_missing, and a renamed face can still breach under its r1 time
    assert(parsed.path("shared_n").asInt() == 3, parsed.toString)
    assert(parsed.path("r1_missing_count").isMissingNode())
    assert(math.abs(parsed.path("comparable_ratio").asDouble() - 7.0 / 4.5) < 0.001)
    assert(parsed.path("breach_count").asInt() == 1)
    assert(parsed.path("breaches").get(0).asText() ==
      "q_payload_slice:5.000(r1 2.000)")
    // invariant the in-place fold relies on: no rename target collides
    // with a surviving r1 name (a collision would silently drop an entry)
    val (_, r1qs) = Bench.r1Baseline().get
    assert(Bench.r1Renames.values.toSet.intersect(r1qs.keySet).isEmpty,
      "rename targets must not collide with r1 query names")
    assert(Bench.r1Renames.keySet.subsetOf(r1qs.keySet),
      "rename sources should exist in the r1 map")
  }

  test("r1Baseline parses the captured r1 artifact in this repo") {
    // this repo carries BENCH_r01.json — the operative baseline must load
    val b = Bench.r1Baseline()
    assert(b.nonEmpty, "BENCH_r01.json should parse")
    val (total, qs) = b.get
    assert(math.abs(total - 39.45) < 0.01 && qs.size == 51)
    assert(qs.contains("q_flagship"))
  }

  test("ms formatting is locale-proof and plain-notation") {
    assert(Bench.sec3(0.0001234) == "0.000")
    assert(Bench.sec3(31.7) == "31.700")
    assert(!Bench.sec3(1e-5).contains("E") && !Bench.sec3(1e-5).contains(","))
  }
}
