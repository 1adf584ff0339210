package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.queries.SimilarityQueries

/** k-core peeling ([[SimilarityQueries.kcore]]): the windowed
  * recurrence against a plain-Scala replay of the same unrolled
  * peeling, and the lazy-plan contract (no job and no pin at
  * construction). */
class GraphPeelingSpec extends SparkSpec {

  // SimilarityQueries.KcoreK and KcoreRounds
  private val K = 3
  private val Rounds = 6

  /** The oracle's peeling, replayed on a local edge list: round r keeps
    * the edges of round r − 1 whose endpoints both had degree ≥ K. */
  private def replay(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    var e = edges.collect { case (a, b) if a != b => (a min b, a max b) }.distinct
    def ends = e.flatMap { case (a, b) => Seq(a, b) }
    def stats(r: Int) = (r.toLong, ends.distinct.size.toLong, e.size.toLong)
    (0 to Rounds).map { r =>
      if (r > 0) {
        val deg = ends.groupBy(identity).map { case (v, s) => v -> s.size }
        e = e.filter { case (a, b) => deg(a) >= K && deg(b) >= K }
      }
      stats(r)
    }
  }

  private def peel(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val s = spark; import s.implicits._
    SimilarityQueries.kcoreOnEdges(edges.toDF("src", "dst")).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  test("kcoreOnEdges equals a plain-Scala peeling replay on seeded random graphs") {
    (1 to 20).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 6 + rnd.nextInt(30)
      // self-loops, duplicates and both orientations on purpose: the
      // query's undirected dedup must absorb them
      val edges = Seq.fill(rnd.nextInt(4 * n) + 1)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assert(peel(edges) === replay(edges), s"seed $seed")
    }
  }

  test("kcoreOnEdges: an empty edge list gives one zero row per round") {
    val zeros = (0 to Rounds).map(r => (r.toLong, 0L, 0L))
    assert(peel(Seq.empty) === zeros)
    assert(replay(Seq.empty) === zeros)
  }

  test("kcoreOnEdges: a star hub falls apart in round 1") {
    val star = (1L to 12L).map(leaf => (0L, leaf))
    val got = peel(star)
    assert(got === replay(star))
    assert(got.head === ((0L, 13L, 12L)))
    assert(got.tail.forall(r => r._2 == 0L && r._3 == 0L))
  }

  test("kcoreOnEdges: a clique with a long pendant path is still peeling at round 6") {
    // K5 on 0..4, then a path-square tail 4, 5, …, 30 (i ~ i+1, i ~ i+2):
    // its two end nodes have degree < 3, so the tail loses one node per
    // round and has not reached the clique by the last unrolled round
    val clique = for (a <- 0L to 4L; b <- a + 1 to 4L) yield (a, b)
    val tail = (4L to 29L).map(i => (i, i + 1)) ++ (4L to 28L).map(i => (i, i + 2))
    val edges = clique ++ tail
    val got = peel(edges)
    assert(got === replay(edges))
    assert(got(Rounds) != got(Rounds - 1), s"peeling stopped early: $got")
    assert(got(Rounds)._2 > 5L, s"the tail should outlive round $Rounds: $got")
  }

  test("kcore over a warm undadj trunk starts no Spark job and writes no pin") {
    SimilarityQueries.undAdjScratch(spark, sfDir).count() // warm the trunk
    val sc = spark.sparkContext
    val pinDir = new java.io.File(s"${Tables.scratchDir}/pins/${Tables.sessionToken(spark)}")
    def pins = Option(pinDir.list()).fold(Set.empty[String])(_.toSet)
    val pinsBefore = pins
    val marker = "graph-peeling-marker"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val df = SimilarityQueries.kcore(spark, sfDir)
      // a marker job behind construction: once its start event arrives,
      // every job construction started has been counted
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      assert(jobs.get == 0, s"construction started ${jobs.get} job(s)")
      assert(pins == pinsBefore, s"construction wrote pins ${pins -- pinsBefore}")
      assert(df.collect().length == Rounds + 1)
      assert(pins == pinsBefore, s"the action wrote pins ${pins -- pinsBefore}")
    } finally sc.removeSparkListener(listener)
  }
}
