package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import graft.queries.SimilarityQueries

/** PageRank, personalized PageRank and label propagation
  * ([[SimilarityQueries.pageRankOnEdges]], `pprSeedsOnEdges`,
  * `labelPropOn`): each window recurrence against a plain-Scala replay
  * of the oracle's iteration on seeded random graphs, and the plan
  * shape the recurrences exist for — one read of the edge relation,
  * no join, at most one exchange per round plus a fixed few. */
class GraphIterationSpec extends SparkSpec {

  // SimilarityQueries.PrIters, PrScale, CcSeeds, PprTop, LpIters
  private val PrIters = 5
  private val Scale = 1000000000000L
  private val Seeds = 8
  private val PprTop = 20
  private val LpIters = 3

  type Edges = Seq[(Long, Long)]

  /** The out-degree of every source; the node set is its key set. */
  private def outDeg(edges: Edges): Map[Long, Long] =
    edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }

  /** The oracle's integer iteration: p' = (teleport(v) + 85·Σ p(s) div
    * o(s) over v's in-edges) div 100, on the source nodes only. */
  private def massReplay(edges: Edges, p0: Long => Long, teleport: Long => Long): Map[Long, Long] = {
    val out = outDeg(edges)
    var p = out.keys.map(v => v -> p0(v)).toMap
    for (_ <- 1 to PrIters) {
      val inflow = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => p(s) / out(s) }.sum
      }
      p = p.keys.map(v => v -> (teleport(v) + 85L * inflow.getOrElse(v, 0L)) / 100L).toMap
    }
    p
  }

  private def pageRankReplay(edges: Edges): Seq[(Long, Long)] = {
    val p0 = Scale / outDeg(edges).size
    massReplay(edges, _ => p0, _ => 15L * p0).toSeq.sorted
  }

  private def pprReplay(edges: Edges): Seq[(Int, Long, Long)] = {
    val seeds = outDeg(edges).keys.toSeq.sorted.take(Seeds).toSet
    val tele = Scale / Seeds
    def t(v: Long) = if (seeds(v)) tele else 0L
    massReplay(edges, t, v => 15L * t(v)).toSeq
      .sortBy { case (v, p) => (-p, v) }.take(PprTop)
      .zipWithIndex.map { case ((v, p), i) => (i + 1, v, p) }
  }

  /** Frozen-frontier majority vote: a hidden node (vec_id % 5 == 0)
    * takes the most frequent label among its labeled in-neighbors,
    * the smaller label on a tie; edges from non-nodes cast no vote. */
  private def labelPropReplay(edges: Edges, emb: Map[Long, Int]): Seq[(Long, Int, Option[Int])] = {
    var lab = emb.map { case (v, l) => v -> (if (v % 5 == 0) None else Some(l)) }
    val inEdges = edges.groupBy(_._2)
    for (_ <- 1 to LpIters) {
      lab = lab.map { case (v, cur) =>
        v -> cur.orElse {
          val votes = inEdges.getOrElse(v, Nil).flatMap { case (s, _) => lab.get(s).flatten }
          if (votes.isEmpty) None
          else Some(votes.groupBy(identity).toSeq.map { case (l, vs) => (l, vs.size) }
            .maxBy { case (l, c) => (c, -l) }._1)
        }
      }
    }
    emb.keys.filter(_ % 5 == 0).toSeq.sorted.map(v => (v, emb(v), lab(v)))
  }

  /** A seeded random directed graph on 0 until n, with duplicate edges
    * and self-loops, plus fixed gadgets: a hidden chain 1000 → 1005 →
    * 1010 → 1015 fed by one labeled node (the frontier needs every
    * round and 1015 stays unlabeled), a hidden node whose in-neighbors
    * are all hidden and unfed (2000), and a hidden node with a tied
    * vote (3000 ← 3001, 3002). */
  private def graph(seed: Int): (Edges, Map[Long, Int]) = {
    val rnd = new scala.util.Random(seed)
    val n = 6 + rnd.nextInt(35)
    val random = Seq.fill(1 + rnd.nextInt(4 * n))(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val dups = random.take(rnd.nextInt(4)) ++ Seq.fill(2)(rnd.nextInt(n).toLong).map(v => (v, v))
    val gadgets = Seq(1001L -> 1000L, 1000L -> 1005L, 1005L -> 1010L, 1010L -> 1015L,
      2005L -> 2000L, 2010L -> 2000L, 3001L -> 3000L, 3002L -> 3000L)
    // labels in 0..2 so ties are common; some graph nodes are not
    // embedded (their out-edges cast no vote) and some embedded nodes
    // are outside the graph
    val graphNodes = (0L until n.toLong).filter(_ => rnd.nextInt(6) != 0)
    val outside = (n.toLong until n + 5L)
    val emb = (graphNodes ++ outside).map(v => v -> rnd.nextInt(3)).toMap ++
      Seq(1000L, 1001L, 1005L, 1010L, 1015L, 2000L, 2005L, 2010L, 3000L).map(_ -> 0) ++
      Seq(3001L -> 2, 3002L -> 1)
    (random ++ dups ++ gadgets, emb)
  }

  private def edgesDf(edges: Edges): DataFrame = {
    val s = spark; import s.implicits._
    edges.toDF("src", "dst")
  }

  test("pageRankOnEdges equals the integer replay on seeded random graphs") {
    (1 to 20).foreach { seed =>
      val (edges, _) = graph(seed)
      val got = SimilarityQueries.pageRankOnEdges(edgesDf(edges)).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got === pageRankReplay(edges), s"seed $seed")
    }
  }

  test("pprSeedsOnEdges equals the integer replay on seeded random graphs") {
    (1 to 20).foreach { seed =>
      val (edges, _) = graph(seed)
      val got = SimilarityQueries.pprSeedsOnEdges(edgesDf(edges)).collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      assert(got === pprReplay(edges), s"seed $seed")
    }
  }

  test("labelPropOn equals the frozen-frontier replay on seeded random graphs") {
    val s = spark; import s.implicits._
    (1 to 20).foreach { seed =>
      val (edges, emb) = graph(seed)
      val got = SimilarityQueries.labelPropOn(edgesDf(edges), emb.toSeq.toDF("vec_id", "label"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Int])))
      val want = labelPropReplay(edges, emb)
      assert(got === want, s"seed $seed")
      val pred = want.map(w => w._1 -> w._3).toMap
      assert(pred(1010L).isDefined && pred(1015L).isEmpty && pred(2000L).isEmpty, s"seed $seed")
      assert(pred(3000L) === Some(1), s"seed $seed: the tie goes to the smaller label")
    }
  }

  /** Every node of the plan, subqueries included. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] =
    plan.collectWithSubqueries { case p => p }

  test("each recurrence scans the edge relation once, joins nothing and shuffles once per round") {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      Seq(
        ("pageRank", () => SimilarityQueries.pageRank(spark, sfDir), PrIters),
        ("pprSeeds", () => SimilarityQueries.pprSeeds(spark, sfDir), PrIters),
        ("labelProp", () => SimilarityQueries.labelProp(spark, sfDir), LpIters)
      ).foreach { case (name, build, rounds) =>
        val plan = nodes(build().queryExecution.executedPlan)
        val edgeScans = plan.collect {
          case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName.startsWith("knnedges-")) => s
        }
        assert(edgeScans.size == 1, s"$name scans the edge relation ${edgeScans.size} times")
        val joins = plan.collect { case j: BaseJoinExec => j.nodeName }
        assert(joins.isEmpty, s"$name plans joins $joins")
        assert(!plan.exists(_.isInstanceOf[BroadcastExchangeExec]), s"$name broadcasts")
        val shuffles = plan.count(_.isInstanceOf[ShuffleExchangeExec])
        assert(shuffles <= rounds + 3, s"$name plans $shuffles exchanges for $rounds rounds")
      }
    } finally spark.conf.set(key, was)
  }
}
