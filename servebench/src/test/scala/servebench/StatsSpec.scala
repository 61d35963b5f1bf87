package servebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(percentile(xs, 50) == 50.0)
    assert(percentile(xs, 90) == 90.0)
    assert(percentile(xs, 99) == 99.0)
    assert(percentile(scala.util.Random.shuffle(xs), 90) == 90.0)
    assert(percentile(Seq(7.0), 50) == 7.0)
  }

  test("highest percentile with at least ten samples beyond it") {
    assert(highestSupported(19).isEmpty)
    assert(highestSupported(20).contains(50.0))
    assert(highestSupported(99).contains(50.0))
    assert(highestSupported(100).contains(90.0))
    assert(highestSupported(999).contains(90.0))
    assert(highestSupported(1000).contains(99.0))
    assert(highestSupported(10000).contains(99.9))
  }

  test("a run too short for p90 is flagged") {
    val short = summarize((1 to 60).map(i => Outcome(i.toDouble, ok = true)))
    assert(!short.p90Supported)
    assert(short.highest.contains(50.0))
    val long = summarize((1 to 100).map(i => Outcome(i.toDouble, ok = true)))
    assert(long.p90Supported)
    assert(long.highest.contains(90.0) && long.highestValue == 90.0)
  }

  test("failed requests count as attempted and miss every latency limit") {
    val os = (1 to 18).map(i => Outcome(i.toDouble, ok = true)) ++
      Seq(Outcome(0.5, ok = false), Outcome(1.0, ok = false))
    val s = summarize(os)
    assert(s.attempted == 20 && s.failed == 2)
    assert(s.errorFrac == 0.1)
    // the two failures are fast but rank above every success
    assert(s.p90 == 18.0)
    assert(percentile(latencies(os), 95).isPosInfinity)
    val allBad = summarize(Seq(Outcome(1.0, ok = false)))
    assert(allBad.p50.isPosInfinity && allBad.errorFrac == 1.0)
  }

  test("closed-loop throughput is clients over mean latency, counting only passing requests") {
    val os = Seq(Outcome(500, ok = true), Outcome(1500, ok = true), Outcome(1000, ok = false))
    // 3 s of client time; 2 passed
    assert(closedLoopRps(os, 2) == 2 * 2 / 3.0)
    assert(closedLoopRps(Seq(Outcome(250, ok = true)), 1) == 4.0)
  }

  test("covered length merges overlaps and clips to the parent") {
    assert(coveredNs(Seq((0L, 10L), (5L, 15L)), 0, 100) == 15)
    assert(coveredNs(Seq((0L, 10L), (20L, 30L)), 0, 100) == 20)
    assert(coveredNs(Seq((0L, 10L), (2L, 4L)), 0, 100) == 10)
    assert(coveredNs(Seq((-5L, 5L), (95L, 120L)), 0, 100) == 10)
    assert(coveredNs(Nil, 0, 100) == 0)
  }

  test("self time subtracts direct children only") {
    val spans = Seq(
      Span(0, -1, 1, "api.request", 0, 100),
      Span(1, 0, 1, "engine.build", 10, 40),
      Span(2, 1, 1, "exec.job", 20, 30),       // grandchild of the request
      Span(3, 0, 1, "api.collect", 35, 90),    // overlaps build by 5
      Span(4, 3, 1, "exec.job", 50, 80))
    val st = selfTimes(spans)
    assert(st(0) == 100 - 80) // children cover [10, 90)
    assert(st(1) == 30 - 10)
    assert(st(2) == 10)
    assert(st(3) == 55 - 30)
    assert(st(4) == 30)
    val by = selfByLayer(spans)
    assert(by("api") == 20 + 25)
    assert(by("engine") == 20)
    assert(by("exec") == 40)
    // self times partition the root's wall time when children nest cleanly
    val nested = spans.filterNot(_.id == 3).filterNot(_.id == 4)
    assert(selfTimes(nested).values.sum == 100)
  }

  test("external spans find the innermost enclosing span") {
    val spans = Seq(
      Span(0, -1, 1, "api.request", 0, 100),
      Span(1, 0, 1, "api.collect", 40, 90),
      Span(2, -1, 2, "api.request", 0, 100))
    assert(enclosing(spans, 1, 50).map(_.id).contains(1))
    assert(enclosing(spans, 1, 10).map(_.id).contains(0))
    assert(enclosing(spans, 2, 50).map(_.id).contains(2))
    assert(enclosing(spans, 3, 50).isEmpty)
    assert(ancestry(spans, spans(1)) == List("api.collect", "api.request"))
  }

  test("stage call sites map to pipeline modules") {
    assert(moduleOf("parquet at TextStats.scala:470") == "TextStats")
    assert(moduleOf("collect at Refresh.scala:212") == "Refresh")
    assert(moduleOf("count at PairMaintenance.scala:88") == "PairMaintenance")
    // a site outside the pipeline falls back to the long form's frames
    val details =
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3562)\n" +
        "graft.pipeline.Quantize$.trainPqCodebooks(Quantize.scala:120)\n" +
        "graft.pipeline.Refresh$.buildAll(Refresh.scala:99)"
    assert(moduleOf("collect at Kernels.scala:10", details) == "Quantize")
    assert(moduleOf("collect at Kernels.scala:10", "") == "other")
    assert(moduleOf(null, null) == "other")
  }

  test("glob matching is independent of the engine's") {
    val names = IndexedSeq("dc0.h001.cpu", "dc0.h002.mem", "dc1.h001.cpu", "dc1.h010.cpu")
    assert(Gen.matching(names, "dc0.*.cpu") == IndexedSeq("dc0.h001.cpu"))
    assert(Gen.matching(names, "*.h00*.cpu") == IndexedSeq("dc0.h001.cpu", "dc1.h001.cpu"))
    assert(Gen.matching(names, "dc[01].*.{cpu,mem}") == names)
    assert(Gen.matching(names, "dc1.h0?0.cpu") == IndexedSeq("dc1.h010.cpu"))
    assert(Gen.matching(names, "*.cpu").isEmpty) // * never crosses a dot
  }

  test("generated inputs depend on the seed alone") {
    val a = Gen.SeriesSpec(7, 2, 3, IndexedSeq("cpu"), 0L, 60L, 50)
    val b = Gen.SeriesSpec(7, 2, 3, IndexedSeq("cpu"), 0L, 60L, 50)
    val c = Gen.SeriesSpec(8, 2, 3, IndexedSeq("cpu"), 0L, 60L, 50)
    assert(a.row(4).sameElements(b.row(4)))
    assert(!a.row(4).sameElements(c.row(4)))
    assert(a.digestString == b.digestString)
    assert(Gen.docText(3, 11, 0) == Gen.docText(3, 11, 0))
    assert(Gen.docText(3, 11, 0) != Gen.docText(4, 11, 0))
  }
}
