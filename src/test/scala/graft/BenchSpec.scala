package graft

import org.scalatest.funsuite.AnyFunSuite

/** Dry tests of the bench harness's self-defense trigger (r17): the
  * adjudication re-run fires on committed-ruler inflation only — never
  * on sub-second jitter, never without a ruler — and the ruler reader
  * survives real committed records.
  */
class BenchSpec extends AnyFunSuite {

  test("adjudication trigger: ratio x floor x cap, largest inflation first") {
    val ruler = Map("a" -> 1.0, "b" -> 0.2, "c" -> 5.0, "d" -> 0.1)
    val current = Seq(
      "a" -> 3.5,  // > 3x ruler and > 1 s floor -> suspect (ratio 3.5)
      "b" -> 0.9,  // inflated 4.5x but under the 1 s floor -> no
      "c" -> 14.0, // 2.8x -> under the ratio -> no
      "d" -> 2.0,  // 20x -> suspect, ranks first
      "e" -> 50.0) // no committed ruler -> no
    assert(Bench.adjudicationSuspects(current, ruler) == Seq("d", "a"))
  }

  test("adjudication trigger caps the re-run set at MaxRerun, keeping the worst") {
    val ruler = (1 to 40).map(i => s"q$i" -> 0.5).toMap
    val current = (1 to 40).map(i => s"q$i" -> (1.0 + i.toDouble)) // all inflated
    val got = Bench.adjudicationSuspects(current, ruler)
    assert(got.size == Bench.MaxRerun)
    assert(got.head == "q40") // largest ratio first
  }

  test("adoption rule: rerun median adopted only when lower AND back under the trigger") {
    // contamination disproved: rerun well under 3x ruler -> adopt rerun
    assert(Bench.adjudicatedValue(original = 16.0, rerunMedian = 5.0, ruler = 5.0)
      .contains(5.0))
    // rerun faster but STILL suspicious (> 3x ruler): keep the original
    // — a possibly-real regression must not be scrubbed by a marginally
    // better warm re-measurement (r17 verdict's symmetry item)
    assert(Bench.adjudicatedValue(original = 30.0, rerunMedian = 20.0, ruler = 5.0).isEmpty)
    // rerun slower: never adopt upward
    assert(Bench.adjudicatedValue(original = 16.0, rerunMedian = 17.0, ruler = 5.0).isEmpty)
    // boundary: exactly at the trigger threshold counts as back under
    assert(Bench.adjudicatedValue(original = 16.0, rerunMedian = 15.0, ruler = 5.0)
      .contains(15.0))
    // the trigger's floor half: a rerun under 1.0 s is back under the
    // trigger even above 3x a tiny ruler, so it is adopted
    assert(Bench.adjudicatedValue(original = 4.0, rerunMedian = 0.8, ruler = 0.1)
      .contains(0.8))
    assert(Bench.adjudicationSuspects(Seq("q" -> 0.8), Map("q" -> 0.1)).isEmpty)
    // above both halves it is still suspect: keep the original
    assert(Bench.adjudicatedValue(original = 4.0, rerunMedian = 1.2, ruler = 0.1).isEmpty)
    assert(Bench.adjudicationSuspects(Seq("q" -> 1.2), Map("q" -> 0.1)) == Seq("q"))
  }

  test("committedRuler reads real committed records and takes per-query mins") {
    // the repo carries BENCH_LOCAL_r15 (clean) and r16 (driver-
    // contaminated: heavy_hitters at 24.95 where r15 reads sub-second);
    // the min across records is what makes the ruler usable
    val ruler = Bench.committedRuler(excludeRound = Some(99))
    assert(ruler.nonEmpty, "no committed BENCH_LOCAL records parsed")
    assert(ruler.get("heavy_hitters").exists(_ < 5.0),
      s"heavy_hitters ruler should come from the clean record: ${ruler.get("heavy_hitters")}")
  }
}
