package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: percentiles, sustained rates,
  * open-loop due times and span self time. Run with `sbt test` from `perfbench/`. */
class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between ranks and reports its sample count") {
    val xs = Seq(40.0, 10.0, 30.0, 20.0) // sorted: 10 20 30 40
    assert(Stats.percentile(xs, 50) === Stats.Pct(25.0, 4))
    assert(Stats.percentile(xs, 0).value === 10.0)
    assert(Stats.percentile(xs, 100).value === 40.0)
    // rank 0.99 * 3 = 2.97: 30 + 0.97 * (40 - 30)
    assert(math.abs(Stats.percentile(xs, 99).value - 39.7) < 1e-9)
    assert(Stats.percentile(Seq(7.0), 99) === Stats.Pct(7.0, 1))
  }

  test("percentile of nothing is 0 from 0 samples, and p outside [0, 100] is refused") {
    assert(Stats.percentile(Nil, 99) === Stats.Pct(0.0, 0))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("p99 of 1..1000 matches Python's statistics.quantiles(method='inclusive')") {
    // statistics.quantiles(range(1, 1001), n=100, method='inclusive')[98] == 990.01
    val p = Stats.percentile((1 to 1000).map(_.toDouble), 99)
    assert(math.abs(p.value - 990.01) < 1e-9)
    assert(p.samples === 1000)
  }

  test("sustained rate is the inverse slope of time over position, batch steps included") {
    // 2,000 records/s delivered in batches of 400, each batch stamped at
    // once 0.2 s after its first record was due.
    val batched = (0L until 4000L).map(i => (i, (i / 400 * 400) * 500000L + 200000000L))
    assert(math.abs(Stats.sustainedRate(batched) / 2000 - 1) < 0.02)
    // A pipeline that falls behind: each batch lands 10% later than due.
    val slow = (0L until 4000L).map(i => (i, (i / 400 * 400) * 550000L))
    assert(math.abs(Stats.sustainedRate(slow) / (2000 / 1.1) - 1) < 0.02)
    assertThrows[IllegalArgumentException](Stats.sustainedRate(Seq((0L, 0L))))
  }

  test("open loop: record i is due at t0 + i/rate, independent of when others were sent") {
    val p = Pacing(t0Nanos = 1000000000L, ratePerSec = 2000)
    assert(p.dueNanos(0) === 1000000000L)
    assert(p.dueNanos(1) === 1000500000L)
    assert(p.dueNanos(2000) === 2000000000L)
    assert(p.dueBy(999999999L, 100) === 0)
    assert(p.dueBy(1000000000L, 100) === 1) // record 0 is due at t0 itself
    assert(p.dueBy(1000499999L, 100) === 1)
    assert(p.dueBy(1000500000L, 100) === 2)
    assert(p.dueBy(5000000000L, 100) === 100) // capped at the stream length
  }

  test("due-time bookkeeping holds at a rate that does not divide a second") {
    val p = Pacing(0L, 3)
    (0 until 30).foreach { i =>
      assert(p.dueBy(p.dueNanos(i), 1000) === i + 1, s"record $i")
      assert(p.dueBy(p.dueNanos(i) - 1, 1000) === i, s"just before record $i")
    }
  }

  test("lateness is measured from the due time and never negative") {
    val p = Pacing(0L, 1000)
    assert(p.lateMs(5, 5000000L) === 0.0)
    assert(p.lateMs(5, 7500000L) === 2.5)
    assert(p.lateMs(5, 1000000L) === 0.0)
  }

  test("span self time is duration minus the union of its children") {
    val spans = Seq(
      Span(0, -1, "workload", 0, 100),
      Span(1, 0, "stream.batch", 10, 50),
      Span(2, 0, "stream.batch", 40, 70), // overlaps batch 1: counted once
      Span(3, 1, "sink.writeBatch", 20, 30),
      Span(4, 0, "stream.batch", 90, 120)) // sticks out of its parent: clipped
    val self = Spans.selfNs(spans)
    assert(self(0) === 100 - (60 + 10))
    assert(self(1) === 40 - 10)
    assert(self(3) === 10)
    assert(self(4) === 30)
  }

  test("per-layer self times of a nested tree add up to the root's duration") {
    val spans = Seq(
      Span(0, -1, "workload", 0, 1000),
      Span(1, 0, "pass", 0, 900),
      Span(2, 1, "query.construct", 0, 300),
      Span(3, 1, "query.execute", 300, 800),
      Span(4, 1, "query.construct", 800, 850))
    val byLayer = Spans.selfByLayer(spans)
    assert(math.abs(byLayer("queries") - 350e-9) < 1e-15)
    assert(math.abs(byLayer("exec") - 500e-9) < 1e-15)
    assert(math.abs(byLayer("harness") - 150e-9) < 1e-15)
    assert(math.abs(byLayer.values.sum - 1000e-9) < 1e-15)
  }

  test("a disabled recorder records nothing but still runs the body") {
    val r = new SpanRecorder(false)
    assert(r.timed(-1, "pass")(_ => 42) === 42)
    assert(r.all.isEmpty)
    val on = new SpanRecorder(true)
    on.timed(-1, "pass")(id => on.timed(id, "query.execute")(_ => ()))
    assert(on.all.map(s => (s.name, s.parent)) === Seq(("pass", -1), ("query.execute", 0)))
  }
}
