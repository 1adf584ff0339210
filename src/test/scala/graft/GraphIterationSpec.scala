package graft

import org.apache.spark.{OneToOneDependency, ShuffleDependency}
import org.apache.spark.rdd.{CoGroupedRDD, RDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.FileScanRDD
import graft.queries.{GraphRounds, SimilarityQueries}

/** PageRank, personalized PageRank and label propagation
  * ([[SimilarityQueries.pageRankOnEdges]], `pprSeedsOnEdges`,
  * `labelPropOn`): each message-passing fixpoint against a plain-Scala
  * replay of the oracle's iteration on seeded random graphs. For these
  * and k-core (replayed in `GraphPeelingSpec`), the lineage the
  * [[GraphRounds]] kernel exists for — one read of the edge trunk, no
  * join, narrow zips only, one shuffle per round plus the edges' (and
  * label propagation's node partitioning), and at most one job at
  * construction — and the size of the kernel's class file. */
class GraphIterationSpec extends SparkSpec {

  // SimilarityQueries.PrIters, PrScale, CcSeeds, PprTop, LpIters, KcoreRounds
  private val PrIters = 5
  private val Scale = 1000000000000L
  private val Seeds = 8
  private val PprTop = 20
  private val LpIters = 3
  private val KcoreRounds = 6

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
    // the seed set is merged from several partitions' top-8s
    val (edges, _) = graph(21)
    val got = SimilarityQueries.pprSeedsOnEdges(edgesDf(edges).repartition(3)).collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got === pprReplay(edges), "edges over 3 partitions")
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
    // a null and a negative label: 11 is unlabeled but not hidden, takes
    // 12's -1 in round 1 and passes it to hidden 10 in round 2; hidden
    // 15's tie between -1 and 2 goes to -1; hidden 20's true label is
    // null. A state that used -1 as "no label" would leave 10 unlabeled.
    val edges = Seq(12L -> 11L, 11L -> 10L, 13L -> 15L, 16L -> 15L, 13L -> 20L)
    val emb = Seq[(Long, Option[Int])](10L -> Some(4), 11L -> None, 12L -> Some(-1),
      13L -> Some(-1), 15L -> Some(-1), 16L -> Some(2), 20L -> None).toDF("vec_id", "label")
    val got = SimilarityQueries.labelPropOn(edgesDf(edges), emb).collect().toSeq
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3)))
    assert(got === Seq((10L, 4, -1, 0), (15L, -1, -1, 1), (20L, null, -1, null)))
  }

  /** Every RDD of `rdd`'s lineage, once each. */
  private def lineage(rdd: RDD[_]): Seq[RDD[_]] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]
    def visit(r: RDD[_]): Unit =
      if (!seen.contains(r.id)) { seen(r.id) = r; r.dependencies.foreach(d => visit(d.rdd)) }
    visit(rdd)
    seen.values.toSeq
  }

  test("each fixpoint scans the edge relation once, joins narrowly and shuffles once per round") {
    Seq(
      // the edges' partitioning, then one message shuffle per round
      ("pageRank", () => SimilarityQueries.pageRank(spark, sfDir), "knnedges", PrIters),
      ("pprSeeds", () => SimilarityQueries.pprSeeds(spark, sfDir), "knnedges", PrIters),
      // plus the node state's partitioning
      ("labelProp", () => SimilarityQueries.labelProp(spark, sfDir), "knnedges", LpIters),
      ("kcore", () => SimilarityQueries.kcore(spark, sfDir), "undadj", KcoreRounds)
    ).foreach { case (name, build, trunk, rounds) =>
      val rdds = build().queryExecution.logical.collect { case l: LogicalRDD => l.rdd }
      assert(rdds.size == 1, s"$name reads ${rdds.size} RDDs")
      val all = lineage(rdds.head)
      val trunkScans = all.collect {
        case s: FileScanRDD
          if s.filePartitions.exists(_.files.exists(_.filePath.toString.contains(s"/$trunk-"))) => s
      }
      assert(trunkScans.size == 1, s"$name scans the $trunk trunk ${trunkScans.size} times")
      val cogroups = all.collect { case c: CoGroupedRDD[_] => c }
      assert(cogroups.isEmpty, s"$name joins: $cogroups")
      // ZippedPartitionsRDD2 is private to Spark: matched by name
      val zips = all.filter(_.getClass.getSimpleName == "ZippedPartitionsRDD2")
      assert(zips.size == 2 * rounds, s"$name zips ${zips.size} times, want ${2 * rounds}")
      zips.foreach { z =>
        assert(z.dependencies.forall(_.isInstanceOf[OneToOneDependency[_]]),
          s"$name shuffles into a zip: ${z.dependencies}")
      }
      val shuffles = rounds + (if (name == "labelProp") 2 else 1)
      val n = all.flatMap(_.dependencies).count(_.isInstanceOf[ShuffleDependency[_, _, _]])
      assert(n == shuffles, s"$name shuffles $n times, want $shuffles")
    }
  }

  test("constructing labelPropOn starts no job, pageRankOnEdges and pprSeedsOnEdges one each") {
    val s = spark; import s.implicits._
    val (edges, emb) = graph(1)
    val (e, n) = (edgesDf(edges), emb.toSeq.toDF("vec_id", "label"))
    assert(jobsDuring(SimilarityQueries.labelPropOn(e, n))._2 == 0)
    assert(jobsDuring(SimilarityQueries.pageRankOnEdges(e))._2 == 1)
    assert(jobsDuring(SimilarityQueries.pprSeedsOnEdges(e))._2 == 1)
    // over warm trunks (and a warm corpus-schema memo) the keys' own
    // builders start the same counts: kcore and labelProp none
    val keys = Seq[(String, () => DataFrame, Int)](
      ("kcore", () => SimilarityQueries.kcore(spark, sfDir), 0),
      ("labelProp", () => SimilarityQueries.labelProp(spark, sfDir), 0),
      ("pageRank", () => SimilarityQueries.pageRank(spark, sfDir), 1),
      ("pprSeeds", () => SimilarityQueries.pprSeeds(spark, sfDir), 1))
    keys.foreach { case (_, build, _) => build() }
    keys.foreach { case (name, build, want) =>
      val got = jobsDuring(build())._2
      assert(got == want, s"constructing $name started $got job(s), want $want")
    }
  }

  test("the GraphRounds kernel's class file stays small") {
    // Spark's ClosureCleaner reads and parses the whole class file that
    // defines a closure each time the closure is passed to an RDD
    // operator; every round closure of the graph fixpoints lives in
    // GraphRounds$, so its size is paid per operator per construction
    val in = classOf[GraphRounds.Edges].getClassLoader.getResourceAsStream("graft/queries/GraphRounds$.class")
    assert(in != null, "GraphRounds$.class not found")
    val bytes = try in.readAllBytes().length finally in.close()
    assert(bytes <= 64 * 1024, s"GraphRounds$$.class is $bytes bytes")
  }
}
