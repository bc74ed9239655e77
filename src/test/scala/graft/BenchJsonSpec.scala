package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench JSON line's width against the driver's capture
  * window. The driver keeps only the LAST 2000 chars of Bench's
  * output; a line that outgrows that is truncated mid-JSON and the
  * whole round's bench signal is nulled (BENCH_r01–r03). This spec
  * renders the line over the REAL query inventory at worst-case
  * per-value widths, so inventory growth or a formatting change that
  * would cross the ceiling fails the build instead of the round. */
class BenchJsonSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq.sorted

  /** Render with every query at `sec` seconds and `nFailed` failures. */
  private def render(sec: Double, nFailed: Int, wu: Double,
      wio: Double): String = {
    val results = names.zipWithIndex.map { case (n, i) =>
      (n, sec, i >= names.size - nFailed)
    }.map { case (n, s, failTail) => (n, s, !failTail) }
    // mid AND late markers always render on a real run (q134 and q182
    // are in the inventory), so the width pin includes both pairs at
    // worst-case width
    Bench.renderJson(results, wu, wio, wu, wio, "sf0.1",
      mid = Some((wu, wio)), late = Some((wu, wio)))
  }

  test("worst-case line width stays under the driver's 2000-char tail") {
    // 9.9 s is the widest sub-10 rendering (3 chars); ≥10 s values are
    // clamped to whole seconds, so 999 s is the widest plausible slow
    // rendering (3 chars; a 1000 s query has failed the 2x gate long
    // before width matters). Five failures cover a partial-outage run
    // (an all-failed run is dead regardless of line width). wu wide too.
    val worst = Seq(render(9.9, 5, 99.99, 99.99),
      render(999.4, 5, 99.99, 99.99))
      .map(_.length).max
    assert(worst < 1950,
      s"bench JSON worst-case width $worst is inside the truncation " +
        "danger zone — shrink the format before growing the inventory")
  }

  test("typical line parses as JSON with the contract keys") {
    val line = render(0.3, 0, 1.23, 2.34)
    assert(line.startsWith("{\"metric\":\"total\",\"value\":"))
    assert(line.contains("\"wu\":1.23"))
    assert(line.contains("\"wio\":2.34"))
    assert(line.contains("\"wu2\":1.23") && line.contains("\"wio2\":2.34"))
    assert(line.contains("\"queries\":{"))
    assert(line.contains("\"failed\":[]"))
    assert(line.endsWith("\"sf\":0.1}"))
    // keys are the bare ordinals and stay unique
    assert(line.contains("\"01\":0.3"))
    assert(!line.contains("\"q01\""))
  }

  test("value clamping: 1 decimal under 10 s, whole seconds above") {
    val r = Seq(("q01_a", 0.25, true), ("q02_b", 12.6, true),
      ("q03_c", 3.0, true))
    val line = Bench.renderJson(r, 0.5, 0.5, 0.5, 0.5, "sf0.01")
    assert(line.contains("\"01\":0.3") || line.contains("\"01\":0.2"))
    assert(line.contains("\"02\":13"))
    assert(line.contains("\"03\":3"))
    assert(line.endsWith("\"sf\":0.01}"))
  }

  test("compact contingency: deciseconds + dropped empty failed, parseable") {
    // the standing compaction for the next inventory growth (r13
    // verdict ask #7) — same ±0.05 s information as the 1-decimal
    // default (which IS deciseconds with a decimal point), gated off
    // until the line needs the room
    val r = Seq(("q01_a", 0.25, true), ("q02_b", 12.64, true),
      ("q03_c", 3.0, true), ("q04_d", 0.04, true))
    val line = Bench.renderJson(r, 1.23, 2.34, 1.11, 2.22, "sf0.1",
      compact = true)
    assert(line.contains("\"u\":\"ds\""), "compact mode must mark its unit")
    assert(line.contains("\"01\":3") || line.contains("\"01\":2"))
    assert(line.contains("\"02\":126"))
    assert(line.contains("\"03\":30"))
    assert(line.contains("\"04\":0"))
    assert(!line.contains("\"failed\""),
      "an empty failed list is encoded as absence in compact mode")
    // a real failure must STILL render, compact or not
    val lineF = Bench.renderJson(Seq(("q01_a", 0.2, true),
      ("q07_bad", 0.1, false)), 0.5, 0.5, 0.5, 0.5, "sf0.1",
      compact = true)
    assert(lineF.contains("\"failed\":[\"07\"]"))
    // the judged total and the markers keep their 2-dp second format
    assert(line.contains("\"value\":15.93"))
    assert(line.contains("\"wu\":1.23") && line.contains("\"wio2\":2.22"))
    // both renderings stay structurally valid JSON (brace/quote walk:
    // ujson isn't on the test classpath, so count structural tokens)
    for (l <- Seq(line, lineF)) {
      assert(l.count(_ == '{') == l.count(_ == '}'))
      assert(l.count(_ == '"') % 2 == 0)
      assert(l.startsWith("{\"metric\":\"total\",\"value\":")
        && l.endsWith("\"sf\":0.1}"))
    }
  }

  test("compact worst-case width buys real headroom over the default") {
    val results = names.map(n => (n, 9.94, true))
    val dflt = Bench.renderJson(results, 99.99, 99.99, 99.99, 99.99,
      "sf0.1")
    val cmp = Bench.renderJson(results, 99.99, 99.99, 99.99, 99.99,
      "sf0.1", compact = true)
    // all-9.9s is the widest sub-10 case in BOTH formats ("9.9" vs "99")
    assert(cmp.length < 1950, s"compact worst-case ${cmp.length}")
    assert(cmp.length <= dflt.length - 100,
      s"compaction must buy >= 100 chars at worst case " +
        s"(default ${dflt.length}, compact ${cmp.length})")
  }

  test("compact never renders wider than default (slow-regime fallback)") {
    // deciseconds cost one char per value in [10,1000) s ("126" vs
    // f1's whole-second "13"; "9994" vs "999") — a slow/outage run
    // full of them would render the compact line WIDER than the
    // default, past the driver's tail window, exactly when the
    // contingency is supposed to help. Compact mode emits whichever
    // render is shorter; the fallback drops the "u" marker so the
    // parser reads seconds, and the default worst-case spec above
    // then bounds compact mode in every regime.
    val slow = names.map(n => (n, 999.4, true))
    val dflt = Bench.renderJson(slow, 99.99, 99.99, 99.99, 99.99, "sf0.1")
    val cmp = Bench.renderJson(slow, 99.99, 99.99, 99.99, 99.99, "sf0.1",
      compact = true)
    assert(cmp.length <= dflt.length,
      s"compact must never exceed the default render " +
        s"(default ${dflt.length}, compact ${cmp.length})")
    assert(!cmp.contains("\"u\":\"ds\""),
      "the fallback is the seconds render — it must not claim ds units")
    assert(cmp.length < 1950, s"slow-regime compact width ${cmp.length}")
    // the fast-regime case still takes the ds render
    val fast = names.map(n => (n, 0.3, true))
    val cmpFast = Bench.renderJson(fast, 1.0, 2.0, 1.0, 2.0, "sf0.1",
      compact = true)
    assert(cmpFast.contains("\"u\":\"ds\""),
      "fast-regime compact lines must keep the decisecond render")
  }

  test("rendering is locale-independent (decimal POINT under any default)") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY) // decimal comma
    try {
      val line = Bench.renderJson(Seq(("q01_a", 12.34, true)), 1.23,
        4.56, 1.23, 4.56, "sf0.1")
      assert(line.contains("\"value\":12.34") && line.contains("\"wu\":1.23"),
        s"locale leaked into number formatting: $line")
    } finally java.util.Locale.setDefault(prev)
  }

  test("mid-inventory and late markers render only when measured") {
    // the r15-verdict segment instruments: wum/wiom re-probe the box
    // right before q134's timed section, wul/wiol before q182's
    val r = Seq(("q01_a", 0.2, true))
    val withMid = Bench.renderJson(r, 0.5, 0.5, 0.5, 0.5, "sf0.1",
      mid = Some((1.87, 6.42)), late = Some((1.11, 4.22)))
    assert(withMid.contains("\"wum\":1.87") && withMid.contains("\"wiom\":6.42"))
    assert(withMid.contains("\"wul\":1.11") && withMid.contains("\"wiol\":4.22"))
    val noMid = Bench.renderJson(r, 0.5, 0.5, 0.5, 0.5, "sf0.1")
    assert(!noMid.contains("\"wum\"") && !noMid.contains("\"wiom\""))
    assert(!noMid.contains("\"wul\"") && !noMid.contains("\"wiol\""))
    val cmp = Bench.renderJson(r, 0.5, 0.5, 0.5, 0.5, "sf0.1",
      mid = Some((1.0, 2.0)), compact = true)
    assert(cmp.contains("\"wum\":1") && cmp.contains("\"u\":\"ds\""))
    // structurally valid in both modes with all optional keys present
    for (l <- Seq(withMid, cmp)) {
      assert(l.count(_ == '{') == l.count(_ == '}'))
      assert(l.count(_ == '"') % 2 == 0)
    }
    assert(Bench.MidMarkerQuery == "q134_session_cooccurrence")
    // the late pair brackets the disk tail: q182 heads q182–q187 in
    // sorted order (the r17 "sixth sighting" tail-swell stretch)
    assert(Bench.LateMarkerQuery == "q182_ivfpq_disk")
  }

  test("failed queries are listed by ordinal") {
    val r = Seq(("q01_a", 0.2, true), ("q07_bad", 0.1, false))
    val line = Bench.renderJson(r, 0.5, 0.5, 0.5, 0.5, "custom-dir")
    assert(line.contains("\"failed\":[\"07\"]"))
    // non-numeric sf dir falls back to a quoted string
    assert(line.endsWith("\"sf\":\"custom-dir\"}"))
  }
}
