package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The bench line is a machine channel (driver → BENCH_r{N}.json); this
  * pins the contract that round 4 broke: it must parse, stay compact,
  * and keep the headline fields at the TAIL so front-truncation cannot
  * eat them. json4s rides in from Spark's classpath — no new dep. */
class BenchJsonSpec extends AnyFunSuite {

  private val results = (1 to 69).map(i => s"q_$i" -> i / 7.0).toMap + ("q_fail" -> -1.0)
  private val json = Bench.renderJson(results, "/root/testdata/sf0.1")

  test("bench line parses and carries total/unit/sf plus every query") {
    val parsed = JsonMethods.parse(json)
    val JString("total") = parsed \ "metric"
    val JString("sec") = parsed \ "unit"
    val JString("/root/testdata/sf0.1") = parsed \ "sf"
    val JObject(qs) = parsed \ "queries"
    assert(qs.size == 70)
    val JDouble(total) = parsed \ "value"
    val expected = results.values.filter(_ >= 0).sum
    assert(math.abs(total - expected) < 0.002 * results.size)
    val JInt(fail) = parsed \ "queries" \ "q_fail"
    assert(fail == -1, "a failed query must stay visible as -1")
  }

  test("headline fields sit after the queries map and the line stays compact") {
    assert(json.indexOf("\"metric\"") > json.indexOf("\"queries\""),
      "metric must come AFTER queries so tail capture keeps it")
    assert(json.indexOf("\"value\"") > json.indexOf("\"queries\""))
    // 3-decimal rounding: ~20 bytes per query, not ~30
    assert(json.length < 70 * 22 + 200, s"line grew to ${json.length} bytes")
    assert(!json.contains("\n"), "must be ONE line")
  }

  test("median: middle of 3, ignores failed reps, upper-middle when even") {
    assert(Bench.median(Seq(5.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(-1.0, 4.0, 2.0)) == 4.0) // 2 ok -> upper middle
    assert(Bench.median(Seq(-1.0, -1.0, 3.0)) == 3.0)
    assert(Bench.median(Seq(-1.0, -1.0, -1.0)) == -1.0)
    assert(Bench.median(Seq(7.0)) == 7.0)
  }

  test("flaggedIdx: a hot canary window flags exactly the keys it brackets") {
    // 12 keys, probe every 4 → probes at blocks 0,1,2 plus the closing
    // one. Window hits the middle block: probe(1) hot on entry.
    // p25 base = 0.15 (2nd smallest of 0.15,0.16,0.60,0.15).
    val probes = IndexedSeq(0.15, 0.60, 0.16, 0.15)
    val f = Bench.flaggedIdx(12, probes, every = 4, factor = 1.6)
    // keys 0-3 bracketed by (0.15, 0.60) → flagged; 4-7 by (0.60,
    // 0.16) → flagged; 8-11 by (0.16, 0.15) → clean
    assert(f == (0 to 7))
  }

  test("flaggedIdx: base is the run's lower quartile — jitter and uniform regimes flag nothing") {
    assert(Bench.flaggedIdx(10, IndexedSeq(0.2, 0.21, 0.19, 0.2), 4, 1.6).isEmpty)
    // ~1.5× probe jitter from residual JVM state (the first live run's
    // pattern) must NOT flag — only genuine windows vs the median do
    assert(Bench.flaggedIdx(12,
      IndexedSeq(0.41, 0.62, 0.55, 0.53), 4, 1.6).isEmpty)
    // a uniformly-HOT run flags nothing either: cross-round
    // normalization owns uniform regimes, the flag owns windows
    assert(Bench.flaggedIdx(10, IndexedSeq(0.6, 0.61, 0.6, 0.62), 4, 1.6).isEmpty)
    // run starts hot, cools for the majority: the early window flags
    val f = Bench.flaggedIdx(12, IndexedSeq(0.5, 0.15, 0.16, 0.15), 4, 1.6)
    assert(f == (0 to 3))
  }

  test("flaggedIdx: empty inputs are safe") {
    assert(Bench.flaggedIdx(0, IndexedSeq(0.2), 5, 1.6).isEmpty)
    assert(Bench.flaggedIdx(5, IndexedSeq.empty, 5, 1.6).isEmpty)
  }

  test("betterMedian: lower wins, -1 never beats a real measurement") {
    assert(Bench.betterMedian(2.0, 3.0) == 2.0)
    assert(Bench.betterMedian(3.0, 2.0) == 2.0)
    assert(Bench.betterMedian(-1.0, 2.0) == 2.0)
    assert(Bench.betterMedian(2.0, -1.0) == 2.0)
    assert(Bench.betterMedian(-1.0, -1.0) == -1.0)
  }

  test("builtBetween: only tags whose build count rose, sorted") {
    val before = Map("undadj" -> 1, "postings-tf" -> 2)
    val after = Map("undadj" -> 1, "postings-tf" -> 3, "knnedges" -> 1, "baskets" -> 1)
    assert(Bench.builtBetween(before, after) == Seq("baskets", "knnedges", "postings-tf"))
    assert(Bench.builtBetween(after, after).isEmpty)
    assert(Bench.builtBetween(Map.empty, Map.empty).isEmpty)
  }

  test("query keys are emitted in sorted order — byte-comparable captures") {
    val keys = "\"(q_[a-z0-9_]+)\":".r.findAllMatchIn(json).map(_.group(1)).toSeq
    assert(keys == keys.sorted, "renderJson must sort keys (VERDICT r6 #2)")
    assert(keys.size == 70)
  }
}
