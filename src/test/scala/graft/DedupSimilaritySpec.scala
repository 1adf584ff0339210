package graft

import org.apache.spark.sql.functions._
import graft.queries.{DedupQueries, SimilarityQueries, TextQueries}

/** Near-dup + ANN correctness against exact baselines — the check the
  * DuckDB oracle can't do for engine-hash-based queries. */
class DedupSimilaritySpec extends SparkSpec {

  /** Ground truth: ALL pairs with exact shingle Jaccard >= 0.5 over the
    * full corpus — what the verified LSH/SimHash outputs must equal. */
  private def bruteForcePairs: Set[(Long, Long, Double)] = bruteForcePairsIn(sfDir)

  private def bruteForcePairsIn(dir: String): Set[(Long, Long, Double)] = {
    val sh = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, greatest(length(text) - 11, 1)), i -> substring(text, i, 12)))")).as("s"))
      .localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    sh.select(col("doc_id").as("d1"), col("s"))
      .join(sh.select(col("doc_id").as("d2"), col("s")), Seq("s"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .withColumn("j", col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("j") >= 0.5)
      .select(col("d1"), col("d2"), round(col("j"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("minhash LSH verified output EQUALS brute-force exact-Jaccard pairs") {
    val brute = bruteForcePairs
    assert(brute.nonEmpty, "fixture should contain planted near-dups")
    val mh = DedupQueries.minhashLsh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mh == brute, s"missing=${brute -- mh} extra=${mh -- brute}")
  }

  test("simhash verified output EQUALS brute-force exact-Jaccard pairs") {
    val brute = bruteForcePairs
    val sp = DedupQueries.simhashPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sp == brute, s"missing=${brute -- sp} extra=${sp -- brute}")
  }

  test("planted 1000-copy cluster completes without a quadratic LSH bucket") {
    // 1000 exact copies + 300 distinct docs: stage-1 collapse reduces the
    // clique to ONE representative, so no LSH bucket ever holds the
    // copies; without it every band bucket would contain all 1000
    // (the r1/r2 named scale-killer). The verified output must still
    // report the full clique: C(1000,2) J=1.0 pairs and nothing else.
    val docs = spark.range(0, 1300).selectExpr(
      "id AS doc_id",
      """CASE WHEN id < 1000 THEN 'the same boilerplate document body repeated verbatim across the corpus'
         ELSE concat('unique ', md5(concat('a', id)), ' ', md5(concat('b', id)), ' ', md5(concat('c', id))) END AS text""")
    val out = DedupQueries.minhashLshOn(docs)
    assert(out.filter(col("jaccard") === 1.0).count() === 1000L * 999 / 2)
    assert(out.filter(col("jaccard") =!= 1.0).count() === 0)
  }

  test("oversized LSH buckets are salted, not dropped: >256 NEAR-exact duplicates all pair up") {
    // ADVICE r3: the r3 MaxBucket cap silently dropped every pair of a
    // bucket holding >256 distinct representatives. Plant 270 docs that
    // share a 400-char body but differ in an 8-char suffix: NOT exact
    // duplicates (stage-1 collapse keeps all 270 as representatives,
    // pairwise J ≈ 0.96), so every minhash band bucket holds ~270 >
    // TargetBucket docs. Salted sub-bucketing must still find every
    // C(270,2) pair; the r3 cap found ZERO.
    val n = 270
    val body = ("the shared boilerplate paragraph that appears in every templated document " +
      "of this planted corpus and is long enough to dominate the shingle set entirely " +
      "so that pairwise jaccard similarity sits near one for all pairs of documents " +
      "in the clique while the unique suffix keeps the content hashes distinct overall ")
      .take(400)
    val docs = spark.range(0, n).selectExpr(
      "id AS doc_id",
      s"concat('$body', substring(md5(concat('x', id)), 1, 8)) AS text")
    val expected = n.toLong * (n - 1) / 2
    val mh = DedupQueries.minhashLshOn(docs)
    assert(mh.count() === expected, "minhash lost pairs of an oversized bucket")
    assert(mh.filter(col("jaccard") < 0.5).count() === 0)
    val sp = DedupQueries.simhashPairsOn(docs)
    assert(sp.count() === expected, "simhash lost pairs of an oversized bucket")
  }

  test("fixture true pairs sit inside the guaranteed-recall band of both generators") {
    // ADVICE r3: the oracle-equality contract is only sound where
    // candidate recall is near-certain — minhash 8-bands-of-2 misses a
    // pair with P = (1-J²)^8, which crosses 1e-3 around J ≈ 0.76, and
    // simhash banding is DETERMINISTIC only to Hamming 11. Assert the
    // fixture contains no true pair in the uncovered band, at the test
    // SF and at the driver's oracle SF (sf0.01).
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val pairs = bruteForcePairsIn(dir)
      assert(pairs.nonEmpty)
      pairs.foreach { case (d1, d2, j) =>
        assert(j >= 0.76, s"$dir pair ($d1,$d2) at J=$j falls in the weak-recall band [0.5,0.76)")
      }
      val sig = DedupQueries.simhash(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      pairs.foreach { case (d1, d2, _) =>
        val ham = java.lang.Long.bitCount(sig(d1) ^ sig(d2))
        assert(ham <= 11, s"$dir pair ($d1,$d2) at Hamming $ham exceeds the deterministic radius 11")
      }
    }
  }

  test("ANN LSH results are true cosine values and recall brute-force hits in-bucket") {
    val brute = SimilarityQueries.cosineTopk(spark, sfDir)
      .select("qid", "cid", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ann = SimilarityQueries.annLsh(spark, sfDir)
      .select("qid", "cid", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(ann.nonEmpty)
    // any pair ANN returns that brute force also ranked must agree on cosine
    ann.foreach { case (k, c) =>
      brute.get(k).foreach(b => assert(math.abs(b - c) < 1e-9, s"cos mismatch at $k"))
    }
    // LSH recall floor: 4 planes + hamming-1 multiprobe over weakly-similar
    // vectors (top cos ≈ 0.35 → P(plane agrees) ≈ 0.62) gives ~50%
    // theoretical recall; assert a conservative floor
    val hits = brute.keySet.count(k => ann.exists(_._1 == k))
    assert(hits >= (brute.size * 0.3).toInt, s"ANN recall too low: $hits/${brute.size}")
  }

  test("ANN re-rank returns true cosines, bounded exact-stage work, recall near plain LSH") {
    val brute = SimilarityQueries.cosineTopk(spark, sfDir)
      .select("qid", "cid", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val rer = SimilarityQueries.annRerank(spark, sfDir)
      .select("qid", "cid", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(rer.nonEmpty)
    // the exact stage reports TRUE cosines (proxy only selects, never scores)
    rer.foreach { case (k, c) =>
      brute.get(k).foreach(b => assert(math.abs(b - c) < 1e-6, s"cos mismatch at $k"))
    }
    // top-5 per query, never more
    rer.groupBy(_._1._1).foreach { case (q, rs) => assert(rs.length <= 5, s"query $q overflow") }
    // recall floor: the M=50 proxy shortlist keeps re-rank within a few
    // points of plain LSH (measured 0.44-0.46 vs 0.46-0.48)
    val hits = brute.keySet.count(k => rer.exists(_._1 == k))
    assert(hits >= (brute.size * 0.3).toInt, s"re-rank recall too low: $hits/${brute.size}")
  }

  test("IVF ANN recalls most brute-force neighbors probing 2 of 8 cells") {
    val brute = SimilarityQueries.cosineTopk(spark, sfDir)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityQueries.annIvf(spark, sfDir)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall")
  }

  test("seeded IVF recalls brute-force neighbors and its cell decisions have float-safe margins") {
    val brute = SimilarityQueries.cosineTopk(spark, sfDir)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityQueries.annIvfSeeded(spark, sfDir)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"seeded-IVF recall $recall")
    // the oracle-equality contract rests on cell assignments and probe
    // ranks being stable under cross-engine summation-order rounding
    // (~1e-15): assert every rank-adjacent cosine margin clears 1e-6 —
    // nine orders above the rounding scale (measured fixture min:
    // 1.2e-4) — at BOTH the test SF and the driver's oracle SF (the
    // SignLshBucketSpec sign-margin pattern)
    import org.apache.spark.sql.expressions.Window
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      graft.functions.CosineSimilarity.register(spark)
      val emb = graft.Tables(spark, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"), col("embedding").as("se"))
      val w = Window.partitionBy("vec_id").orderBy(desc("ccos"), asc("cell"))
      val ranked = emb.crossJoin(broadcast(seeds))
        .withColumn("ccos", expr("cosine_sim(embedding, se)"))
        .withColumn("r", row_number().over(w))
      val gaps = ranked.filter(col("r") <= 3)
        .groupBy("vec_id").agg(
          (max(when(col("r") === 1, col("ccos"))) -
            max(when(col("r") === 2, col("ccos")))).as("g12"),
          (max(when(col("r") === 2, col("ccos"))) -
            max(when(col("r") === 3, col("ccos")))).as("g23"))
        .agg(min("g12").as("m12"), min("g23").as("m23")).head()
      assert(gaps.getDouble(0) > 1e-6, s"$dir assignment margin ${gaps.getDouble(0)}")
      assert(gaps.getDouble(1) > 1e-6, s"$dir probe margin ${gaps.getDouble(1)}")
    }
  }

  test("keep-mode and full clustering are consistent with the verified pair graph") {
    val keep = DedupQueries.dedupKeep(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // every doc present, canonical is the component minimum, canonicals keep themselves
    assert(keep.size == graft.Tables(spark, sfDir, "documents").count())
    keep.foreach { case (doc, (canon, kept)) =>
      assert(canon <= doc, s"canonical $canon above member $doc")
      assert(kept == (doc == canon))
      assert(keep(canon)._2, s"canonical $canon of $doc is not itself kept")
    }
    // both endpoints of every verified near-dup pair share a canonical
    DedupQueries.minhashLsh(spark, sfDir).collect().foreach { r =>
      assert(keep(r.getLong(0))._1 == keep(r.getLong(1))._1,
        s"pair (${r.getLong(0)},${r.getLong(1)}) split across clusters")
    }
    // clusters_full = exactly the non-singleton components of keep
    val full = DedupQueries.dedupClustersFull(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val nonSingleton = keep.groupBy(_._2._1).filter(_._2.size >= 2).flatMap {
      case (root, members) => members.keys.map(d => (d, root, d == root))
    }.toSet
    assert(full == nonSingleton)
  }

  test("minhash and simhash agree on the FULL verified output at the bench SF (sf0.1)") {
    // the r3 recall bug (64-bit term swamping the 32-bit ring) passed
    // every small-SF check and only surfaced at sf0.1 — but the exact
    // brute force is quadratic there. Cheap strong guard: the two
    // generators use INDEPENDENT hash families (Broder two-hash minhash
    // bands vs simhash Hamming bands), so recall loss in either would
    // have to drop the SAME pairs in both to escape this equality.
    // The count is additionally pinned to the validated golden value.
    val dir = "/root/testdata/sf0.1"
    val mh = DedupQueries.minhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sp = DedupQueries.simhashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mh == sp, s"only-minhash=${(mh -- sp).take(5)} only-simhash=${(sp -- mh).take(5)}")
    assert(mh.size == 256, s"pair count drifted from the validated golden 256: ${mh.size}")
  }

  test("components converges on a long chain and nested cliques (path halving)") {
    // a 64-node path is the worst case for plain min-label propagation
    // (diameter rounds); with path halving it must still converge — to
    // the exact same labels — in O(log n) rounds. Add a clique and a
    // triangle with non-minimal ids to catch label leakage across
    // components.
    val s = spark
    import s.implicits._
    val chain = (0L until 63L).map(i => (i, i + 1))
    val clique = for (a <- 100L to 105L; b <- (a + 1) to 105L) yield (a, b)
    val tri = Seq((201L, 200L), (200L, 202L))
    val pairs = (chain ++ clique ++ tri).toDF("d1", "d2")
    val got = DedupQueries.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 63L).foreach(d => assert(got(d) == 0L, s"chain node $d -> ${got(d)}"))
    (100L to 105L).foreach(d => assert(got(d) == 100L))
    (200L to 202L).foreach(d => assert(got(d) == 200L))
    assert(got.size == 64 + 6 + 3)
  }

  test("exact dedup accounting is consistent") {
    val r = TextQueries.dedupExact(spark, sfDir).head()
    assert(r.getAs[Long]("n_docs") ===
      r.getAs[Long]("n_distinct") + r.getAs[Long]("n_dups"))
  }

  test("incremental ingest dedup EQUALS the brute-force cross-split pairs and emits ONLY cross pairs") {
    val brute = bruteForcePairs
    def isBatch(d: Long) = d % 10 == 7
    // orient the symmetric brute pairs as (existing, new); drop
    // batch×batch and corpus×corpus pairs — not this operator's job
    val expected = brute.collect {
      case (a, b, j) if isBatch(a) ^ isBatch(b) =>
        if (isBatch(b)) (a, b, j) else (b, a, j)
    }
    assert(expected.nonEmpty, "fixture should have cross-split near-dups")
    val got = DedupQueries.dedupIncremental(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    got.foreach { case (e, n, _) =>
      assert(!isBatch(e) && isBatch(n), s"non-cross pair ($e,$n) leaked into the output")
    }
  }

  test("incremental dedup probes a planted hot index bucket without dropping pairs") {
    // 300 corpus docs sharing a template body (every band bucket >
    // TargetBucket on the INDEX side) + one batch doc near the
    // template: the salted asymmetric join must return all 300
    // cross pairs — and none of the C(300,2) corpus-side pairs.
    val body = ("the shared boilerplate paragraph that appears in every templated document " +
      "of this planted corpus and is long enough to dominate the shingle set entirely " +
      "so that pairwise jaccard similarity sits near one for all pairs of documents ")
      .take(260)
    val docs = spark.range(0, 301).selectExpr(
      "IF(id < 300, id * 10, 7) AS doc_id", // 300 corpus ids (≢7 mod 10), one batch id 7
      s"concat('$body', IF(id < 300, substring(md5(concat('x', id)), 1, 6), 'batchy')) AS text")
    val out = DedupQueries.dedupIncrementalOn(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.size == 300, s"expected all 300 cross pairs, got ${out.size}")
    assert(out.forall(_._2 == 7L))
  }

  test("dedup trunk is materialized ONCE per data dir; later consumers only read scratch") {
    // VERDICT r4 #1: q_minhash_lsh / q_dedup_keep / q_dedup_clusters_full
    // share the collapse→signature→band→prefilter→verify trunk; the
    // first caller writes it to scratch parquet, the others must do a
    // pure read — proven two ways: the build count stays at 1, and
    // the scratch files' mtimes are byte-for-byte untouched.
    val trunkTags = Seq("deduptrunk-verified", "deduptrunk-labels")
    (trunkTags :+ "dedupgroups").foreach(t =>
      graft.Tables.scratchUnmark(spark, s"graft.pin.$t", sfDir))
    def trunkWrites = trunkTags.map(graft.Tables.pinBuilds)
    def groupsWrites = graft.Tables.pinBuilds("dedupgroups")
    val (trunk1, groups1) = (trunkWrites.map(_ + 1), groupsWrites + 1)
    DedupQueries.minhashLsh(spark, sfDir).count()
    assert(trunkWrites == trunk1, "first consumer must write the trunk")
    assert(groupsWrites == groups1, "first consumer must write the stage-1 collapse")
    val key = graft.Tables.sessionKey(spark, sfDir)
    val trunkDirs = trunkTags.map(t =>
      new java.io.File(s"${graft.Tables.scratchDir}/pins-keyed/$t-$key.parquet"))
    def mtimes: Map[String, Long] = trunkDirs
      .flatMap(d => Option(d.listFiles).getOrElse(Array.empty[java.io.File]))
      .map(f => f.getPath -> f.lastModified).toMap
    val before = mtimes
    assert(before.nonEmpty)
    DedupQueries.dedupKeep(spark, sfDir).count()
    DedupQueries.dedupClustersFull(spark, sfDir).count()
    // the SimHash family shares ONLY the stage-1 collapse (ADVICE r5):
    // it must neither rewrite the groups parquet nor touch the trunk
    DedupQueries.simhashPairs(spark, sfDir).count()
    assert(trunkWrites == trunk1, "a later consumer re-ran the trunk write")
    assert(groupsWrites == groups1, "a later consumer re-ran the stage-1 collapse write")
    assert(mtimes == before, "a later consumer rewrote the scratch files")
  }

  test("fixpoint convergence rides the round job: no count() action, one action per plain round") {
    // VERDICT r4 #4: components() used to run a second count() action
    // per round to detect convergence; the changed-label count is now
    // an observe() metric on the frame the round's pin writes, so the
    // pin write is the round's only action. QueryExecutionListener sees
    // every Dataset action — assert zero "count" actions, and on an
    // all-plain-rounds graph (triangle: converges in 2 plain rounds)
    // exactly 4 actions total: edges pin + initial labels pin + ONE
    // pin write per round.
    val names = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        names.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    val s = spark
    import s.implicits._
    def stable(): List[String] = { // the listener bus is async: poll until quiet
      var prev = -1; var cur = names.size()
      while (cur != prev) { Thread.sleep(200); prev = cur; cur = names.size() }
      import scala.jdk.CollectionConverters._
      names.asScala.toList
    }
    spark.listenerManager.register(listener)
    try {
      val tri = Seq((201L, 200L), (200L, 202L)).toDF("d1", "d2")
      DedupQueries.components(tri) // the PinChain writes run eagerly inside
      val triActions = stable()
      assert(!triActions.contains("count"), s"count() action in round loop: $triActions")
      assert(triActions.size == 4, s"expected 4 actions (2 setup + 2 plain rounds): $triActions")
      names.clear()
      // a 64-chain flips into path halving (its jumps read the
      // previous round's pinned labels, so a halving round is still one
      // pin write) but must still never count()
      val chain = (0L until 63L).map(i => (i, i + 1)).toDF("d1", "d2")
      val got = DedupQueries.components(chain)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (0L to 63L).foreach(d => assert(got(d) == 0L))
      val chainActions = stable()
      assert(!chainActions.filterNot(_ == "collect").contains("count"),
        s"count() action in halving rounds: $chainActions")
    } finally spark.listenerManager.unregister(listener)
  }
}
