package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{AnalyticsQueries, ExtensionQueries, SimilarityQueries}

/** Round-12 additions: the scratch-pin lifecycle (VERDICT r11 #1), the
  * shared seeded-BFS trunk (#2), the pin-wipe chaos test (#6), and the
  * ADVICE r11 expression guards. The whole-surface join plan gate (#3)
  * lives in [[PlanGateSpec]]. */
class Round12Spec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def pinEntries(): Int = {
    // recursive PIN-DIRECTORY count (the r13 layout nests pins under a
    // per-session token dir, pins/<token>/<tag>.parquet): the invariant
    // is storage bounded by pin SITES, so the unit is the pin dir — one
    // per site — not the raw file count, which jitters with AQE's
    // post-shuffle part-count decisions between reps (r16: a stats
    // shift flipped one write's coalesce boundary and the exact file
    // count diverged 908 → 914 with zero leaked sites)
    def walk(f: java.io.File): Int =
      if (f.isDirectory) {
        val self = if (f.getName.endsWith(".parquet")) 1 else 0
        self + Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      } else 0
    walk(new java.io.File(s"${Tables.scratchDir}/pins"))
  }

  // ------------------------------------------ pin lifecycle (#1)

  test("repeated graph queries do not grow the pin root: storage is bounded by pin sites, not query count") {
    // three full invocations of iterative graph operators (each writes
    // adjacency + per-round pins); with deterministic overwrite paths
    // the entry count after rep 3 equals the count after rep 1
    SimilarityQueries.sssp(spark, sfDir).count()
    SimilarityQueries.dbscan(spark, sfDir).count()
    val afterRep1 = pinEntries()
    assert(afterRep1 > 0)
    (2 to 3).foreach { _ =>
      SimilarityQueries.sssp(spark, sfDir).count()
      SimilarityQueries.dbscan(spark, sfDir).count()
    }
    val afterRep3 = pinEntries()
    assert(afterRep3 == afterRep1,
      s"pin root grew with reps: $afterRep1 -> $afterRep3 (r11 leaked one dir per pin per invocation)")
  }

  test("seeded-BFS trunk is shared: closeness and betweenness reuse one keyed relation and agree with the OnEdges path") {
    val c1 = rows(SimilarityQueries.closenessCentrality(spark, sfDir))
    val keyedRoot = new java.io.File(s"${Tables.scratchDir}/pins-keyed")
    val trunks = keyedRoot.list().filter(n =>
      n.startsWith("symadj-") || n.startsWith("seedbfs-"))
    assert(trunks.length >= 2, s"expected keyed symadj+seedbfs pins, found ${trunks.mkString(",")}")
    val mod1 = keyedRoot.list().map(n =>
      n -> new java.io.File(keyedRoot, n).lastModified()).toMap
    // betweenness must READ the trunk, not rebuild it
    val b1 = rows(SimilarityQueries.betweennessSeeds(spark, sfDir))
    val mod2 = keyedRoot.list().map(n =>
      n -> new java.io.File(keyedRoot, n).lastModified()).toMap
    trunks.foreach { t =>
      assert(mod2(t) == mod1(t), s"keyed trunk $t was rewritten by betweenness")
    }
    // and both finishes agree with the un-keyed OnEdges derivation
    val edges = SimilarityQueries.knnGraph(spark, sfDir).select("src", "dst", "cos")
    assert(c1 == rows(SimilarityQueries.closenessCentralityOnEdges(edges)))
    assert(b1 == rows(SimilarityQueries.betweennessOnEdges(edges)))
  }

  // ------------------------------------------ pin-wipe chaos (#6)

  test("wiping the pin roots mid-query-sequence is absorbed: later queries rebuild and answer identically") {
    val before = rows(SimilarityQueries.betweennessSeeds(spark, sfDir))
    // simulate a tmp-cleaner / disk-pressure wipe of BOTH pin roots
    def wipe(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(hp)) fs.delete(hp, true)
    }
    wipe(s"${Tables.scratchDir}/pins")
    wipe(s"${Tables.scratchDir}/pins-keyed")
    val after = rows(SimilarityQueries.betweennessSeeds(spark, sfDir))
    assert(after == before)
    assert(rows(SimilarityQueries.closenessCentrality(spark, sfDir)).size == 8)
  }

  // ------------------------------------------ ADVICE r11 guards

  test("holtLinear emits zero rows on a degenerate 1-day span (matching the recursive oracle)") {
    val s = spark
    import s.implicits._
    val oneDay = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 08:00:00"), 1L, "purchase", 10.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-03-01 17:00:00"), 2L, "purchase", 20.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(ExtensionQueries.holtLinearOf(oneDay).collect().isEmpty)
    // and a 2-day span still answers (l1 = x1, b1 = x2 - x1)
    val twoDay = oneDay.union(Seq(
      (3L, java.sql.Timestamp.valueOf("2024-03-02 08:00:00"), 1L, "purchase", 40.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = ExtensionQueries.holtLinearOf(twoDay).collect().head
    assert(r.getAs[Long]("n_days") == 2L)
    assert(r.getAs[Double]("level") == 40.0 && r.getAs[Double]("trend") == 10.0)
  }

  // ------------------------------------------ round-12 wave operators

  test("bpeTrain replays the classic low/lower/lowest merge sequence exactly") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "low low low lower lowest", "en", "web", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.queries.TextQueries.bpeTrainOf(docs, 6).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_count"))).toSeq
    // hand-derived greedy BPE: lo(5) beats ow(5) lexicographically,
    // then low(5), lowe(2), then the 1-count ties resolve (lowe,r) <
    // (lowe,s) < (s,t) by (a, b) order
    assert(got == Seq(
      (1, "l", "o", "lo", 5L),
      (2, "lo", "w", "low", 5L),
      (3, "low", "e", "lowe", 2L),
      (4, "lowe", "r", "lower", 1L),
      (5, "lowe", "s", "lowes", 1L),
      (6, "lowes", "t", "lowest", 1L)))
  }

  test("bpeTrain merge application is greedy left-to-right: an odd run merges floor(n/2) pairs") {
    val s = spark
    import s.implicits._
    // "aaaaa" = 5 a's: greedy (a,a) merging gives [aa, aa, a] — the
    // delimited-replace trick must not double-consume the middle a
    val docs = Seq((1L, "aaaaa aaaaa", "en", "web", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.queries.TextQueries.bpeTrainOf(docs, 2).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_count"))).toSeq
    // round 1: pair (a,a) count = 8 (4 per word occurrence × 2 words);
    // after merging: [aa, aa, a] per word → round 2 ties (aa,aa)=2 with
    // (aa,a)=2 and the lexicographic b tie-break ("a" < "aa") picks
    // (aa,a) → "aaa"
    assert(got == Seq((1, "aa", 8L), (2, "aaa", 2L)))
  }

  test("phraseSearchN finds a planted 3-word phrase with a repeated term and counts overlaps correctly") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the data the data the end", "en", "web", 26L), // "the data the" at pos 0 AND 2
      (2L, "the data lake", "en", "web", 13L),              // prefix only — no hit
      (3L, "data the data the", "en", "web", 17L),          // hit at pos 1
      (4L, "the the data the", "en", "web", 16L))           // hit at pos 1
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.queries.TextQueries.phraseMultiOf(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits"),
        r.getAs[Int]("first_pos"))).toSeq
    assert(got == Seq((1L, 2L, 0), (3L, 1L, 1), (4L, 1L, 1)))
  }

  test("iv2sls satisfies the Wald identity and reports a finite first-stage F") {
    val r = ExtensionQueries.iv2sls(spark, sfDir).collect().head
    // independent recomputation of the Wald estimator from group means
    // (a different algebraic path over the same per-user relation)
    val ev = Tables(spark, sfDir, "events")
    val users = ev.groupBy("user_id")
      .agg(count(lit(1)).as("x"),
        coalesce(sum(when(col("event_type") === "purchase",
          graft.functions.Det.cents(col("value")))), lit(0L)).as("y"))
      .withColumn("z", expr(
        s"CASE WHEN ${graft.queries.TextQueries.splitBucketOf("user_id")} < 50 THEN 1 ELSE 0 END"))
    val g = users.groupBy("z")
      .agg(avg("x").as("mx"), avg("y").as("my")).collect()
      .map(row => row.getAs[Int]("z") -> (row.getAs[Double]("mx"), row.getAs[Double]("my"))).toMap
    val wald = (g(1)._2 - g(0)._2) / (g(1)._1 - g(0)._1) / 100.0
    assert(math.abs(r.getAs[Double]("beta_iv") - wald) < 1e-3)
    assert(r.getAs[Double]("first_stage_f") >= 0.0)
    assert(!r.getAs[Double]("beta_ols").isNaN)
  }

  test("huberLocation reproduces the center of a symmetric sample and shrugs off an outlier") {
    val s = spark
    import s.implicits._
    def evs(cents: Seq[Long]) = cents.zipWithIndex.map { case (c, i) =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"),
        i.toLong, "purchase", c / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // symmetric: IRLS cannot move off the center
    val sym = ExtensionQueries.huberLocationOf(
      evs(Seq(400L, 450L, 500L, 550L, 600L))).collect().head
    assert(sym.getAs[Double]("huber_dollars") == 5.0)
    assert(sym.getAs[Double]("mad_dollars") == 0.5)
    // 4 × $5 + one $50 outlier: mean is $14, huber stays by the mass
    val rob = ExtensionQueries.huberLocationOf(
      evs(Seq(500L, 500L, 500L, 500L, 5000L))).collect().head
    assert(rob.getAs[Double]("huber_dollars") < 5.5)
    assert(rob.getAs[Long]("n_purchases") == 5L)
  }

  test("overlapDepth reads max depth 2 from a planted half-overlapping zone layout") {
    val s = spark
    import s.implicits._
    def ev(id: Long, sec: Long) =
      (id, new java.sql.Timestamp(sec * 1000L), 1L, "view", 1.0, "{}")
    // zone 0 (ids 0..255): [0, 100]s; zone 1 (256..511): [50, 150]s —
    // starts inside zone 0; zone 2 (512..767): [200, 300]s — disjoint
    val evs = Seq(ev(0L, 0L), ev(255L, 100L), ev(256L, 50L),
      ev(511L, 150L), ev(512L, 200L), ev(767L, 300L))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = ExtensionQueries.overlapDepthOf(evs).collect().head
    assert(r.getAs[Long]("zones_total") == 3L)
    assert(r.getAs[Long]("max_overlap_depth") == 2L)
    assert(r.getAs[Long]("zones_starting_inside_another") == 1L)
  }

  test("jlDistortion is exactly 1 for a unit-coordinate difference (sign matrix columns are ±1)") {
    val s = spark
    import s.implicits._
    // vec 0 = 0, vec 3 = e_0 (and 3 % 29 == 3 puts it in the candidate
    // sample): dy2 = Σ_j s(j,0)² = 16 → ratio = 16/16/1 = 1 exactly
    val emb = Seq(
      (0L, Array.fill(64)(0.0f), "a"),
      (3L, (1.0f +: Array.fill(63)(0.0f)).toArray, "b"))
      .toDF("vec_id", "embedding", "label")
    val r = graft.queries.SimilarityQueries.jlDistortionOf(emb).collect().head
    assert(r.getAs[Long]("n_pairs") == 1L)
    assert(r.getAs[Double]("mean_ratio") == 1.0)
    assert(r.getAs[Double]("min_ratio") == 1.0 && r.getAs[Double]("max_ratio") == 1.0)
  }

  test("matryoshkaAudit agrees with a plain-Scala replay of both rankings") {
    val emb = Tables(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float], d: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < d) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      if (na * nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def top5(qid: Long, d: Int): Set[Long] =
      emb.toSeq.filter(_._1 != qid)
        .map { case (cid, ce) => (cid, cos(emb(qid), ce, d)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(5).map(_._1).toSet
    val got = graft.queries.SimilarityQueries.matryoshkaAudit(spark, sfDir)
      .collect().map(r => r.getAs[Long]("qid") ->
        (r.getAs[Long]("n_common"), r.getAs[Boolean]("top1_match"))).toMap
    (0L until 10L).foreach { q =>
      val (full, pre) = (top5(q, 64), top5(q, 16))
      assert(got(q)._1 == (full & pre).size.toLong, s"anchor $q overlap")
    }
  }

  test("pprSeeds on K4 (all nodes seeded) reaches the symmetric integer fixpoint") {
    val s = spark
    import s.implicits._
    // complete graph on 4 nodes, symmetric edge list: every node is a
    // seed (limit 8 takes all), by symmetry every round is uniform.
    // Hand fold: p0 = tele = 1e12 div 8; r≥1: inflow = 3·(p div 3),
    // p' = (15·tele + 85·inflow) div 100 = 124999999998 (fixpoint)
    val edges = (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b, 1.0))
      .toDF("src", "dst", "cos")
    val sym = edges.unionAll(edges.select(col("dst"), col("src"), col("cos"))
      .toDF("src", "dst", "cos"))
    val got = graft.queries.SimilarityQueries.pprSeedsOnEdges(sym).collect()
    assert(got.length == 4)
    got.foreach { r => assert(r.getAs[Long]("ppr12") == 124999999998L) }
    assert(got.map(_.getAs[Long]("vec_id")).toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("logregStep descends: ln2 baseline, exact first-step loss on a separable fixture, perfect accuracy") {
    val s = spark
    import s.implicits._
    // 2 English docs say "aa" (slot 32), 2 others say "bb" (slot 0):
    // step 0 gradient moves w(aa) to +2.0 and w(bb) to −2.0 exactly
    // (integer update (∓1e12·8) div 4 div 1000 = ±2e9), so step-1
    // margins are ±2.0 and the loss is ln(1+e⁻²) = 0.126928
    val docs = Seq(
      (1L, "aa", "en", "web", 2L), (2L, "aa", "en", "web", 2L),
      (3L, "bb", "de", "web", 2L), (4L, "bb", "fr", "web", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.queries.TextQueries.logregStepOf(docs).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[Double]("logloss"),
        r.getAs[Long]("acc_ppm"))).toSeq
    assert(got.map(_._1) == Seq(0, 1, 2))
    assert(got(0)._2 == 0.693147)
    assert(got(1)._2 == 0.126928)
    assert(got(2)._2 < got(1)._2 && got(1)._2 < got(0)._2)
    assert(got(1)._3 == 1000000L && got(2)._3 == 1000000L)
  }

  test("sinkhornOt moves a single-atom marginal pair at exactly the hour distance") {
    val s = spark
    import s.implicits._
    // all clicks at hour 3, all purchases at hour 7: every feasible
    // plan puts ALL mass in cell (3,7), so <P,c> = c(3,7) = 4 exactly
    // (row constraint holds after any u-update, fence-level error only)
    val evs = ((1 to 50).map(i => (i.toLong,
      java.sql.Timestamp.valueOf("2024-01-01 03:10:00"), 1L, "click", 1.0, "{}")) ++
      (51 to 90).map(i => (i.toLong,
        java.sql.Timestamp.valueOf("2024-01-02 07:20:00"), 1L, "purchase", 2.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = ExtensionQueries.sinkhornOtOf(evs).collect().head
    assert(r.getAs[Long]("n_clicks") == 50L && r.getAs[Long]("n_purchases") == 40L)
    assert(r.getAs[Double]("sinkhorn_cost") == 4.0)
    assert(r.getAs[Double]("row_marginal_err") == 0.0)
  }

  test("confidentLearning puts a planted flipped label in the off-diagonal cell") {
    val s = spark
    import s.implicits._
    // find doc ids per split under the engine's own bucket rule
    val ids = spark.range(400).select(col("id").as("doc_id"),
        expr(s"${graft.queries.TextQueries.splitBucketOf("doc_id")}").as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val valIds = ids.filter { case (_, b) => b >= 80 && b < 90 }.keys.toSeq.sorted
    assert(valIds.nonEmpty)
    val flipped = valIds.head
    val docs = (0L until 400L).map { id =>
      val en = id % 2 == 0
      val text = if (en) "aa aa aa" else "bb bb bb"
      // ONE val doc keeps English text but carries a wrong label
      val lang = if (id == flipped) { if (en) "de" else "en" }
        else if (en) "en" else "de"
      (id, text, lang, "web", 8L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val cells = graft.queries.TextQueries.confidentLearningOf(docs).collect()
      .map(r => (r.getAs[Int]("labeled_en"), r.getAs[Int]("confident_en"))
        -> r.getAs[Long]("n_docs")).toMap
    val flippedIsEven = flipped % 2 == 0
    // the flipped doc: labeled opposite its (perfectly separable) text
    val offCell = if (flippedIsEven) (0, 1) else (1, 0)
    assert(cells.getOrElse(offCell, 0L) == 1L, s"cells=$cells flipped=$flipped")
    assert(cells.getOrElse((1, 1), 0L) > 0L && cells.getOrElse((0, 0), 0L) > 0L)
    // no other off-diagonal mass on a separable fixture
    val otherOff = if (flippedIsEven) (1, 0) else (0, 1)
    assert(cells.getOrElse(otherOff, 0L) == 0L)
  }

  test("scalingLaw: nested prefixes grow, val NLL falls, the log-log slope is negative") {
    val rows = graft.queries.TextQueries.scalingLaw(spark, sfDir).collect()
    assert(rows.map(_.getAs[Int]("pct")).toSeq == Seq(10, 20, 40, 80))
    val tb = rows.map(_.getAs[Long]("train_bigrams"))
    assert(tb.zip(tb.tail).forall { case (a, b) => a < b })
    val nll = rows.map(_.getAs[Double]("val_nll"))
    assert(nll.last < nll.head, s"more data did not lower val NLL: $nll")
    val slopes = rows.map(_.getAs[Double]("fit_slope")).distinct
    assert(slopes.length == 1 && slopes.head < 0.0)
  }

  test("eceCalibration: the reported ECE equals the bin-weighted gap recomputed from its own rows") {
    val rows = graft.queries.TextQueries.eceCalibration(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getAs[Long]("n")).sum
    val replay = rows.map { r =>
      r.getAs[Long]("n") * math.abs(r.getAs[Double]("avg_p") - r.getAs[Double]("pos_rate"))
    }.sum / n
    val ece = rows.map(_.getAs[Double]("ece")).distinct
    assert(ece.length == 1)
    assert(math.abs(ece.head - replay) < 1e-4, s"ece=${ece.head} replay=$replay")
    rows.foreach { r => assert(r.getAs[Int]("bin") >= 0 && r.getAs[Int]("bin") < 10) }
  }

  test("youdenThreshold equals a plain-Scala sweep over the score histogram") {
    val docs = Tables(spark, sfDir, "documents")
    val hist = graft.queries.TextQueries.rocHistFrom(docs).collect()
      .map(r => (r.getAs[Long]("score"), r.getAs[Long]("np"), r.getAs[Long]("nn")))
      .sortBy(-_._1)
    val p = hist.map(_._2).sum
    val n = hist.map(_._3).sum
    var (ctp, cfp) = (0L, 0L)
    val sweep = hist.map { case (s, np, nn) =>
      ctp += np; cfp += nn
      (s, ctp, cfp, ctp * n - cfp * p)
    }
    val best = sweep.maxBy(t => (t._4, -t._1)) // J·P·N desc, score asc
    val got = graft.queries.TextQueries.youdenThreshold(spark, sfDir).collect().head
    assert(got.getAs[Long]("threshold") == best._1)
    assert(got.getAs[Double]("youden_j") ==
      math.floor((best._2.toDouble / p - best._3.toDouble / n) * 1e6 + 0.5) / 1e6)
  }

  test("mcc is exactly 1 on a separable fixture and degrades under a planted flip") {
    val s = spark
    import s.implicits._
    def corpus(flip: Option[Long]): org.apache.spark.sql.DataFrame =
      (0L until 400L).map { id =>
        val en = id % 2 == 0
        val lang = if (flip.contains(id)) { if (en) "de" else "en" }
          else if (en) "en" else "de"
        (id, if (en) "aa aa aa" else "bb bb bb", lang, "web", 8L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val clean = graft.queries.TextQueries.mccScoreOf(corpus(None)).collect().head
    assert(clean.getAs[Long]("fp") == 0L && clean.getAs[Long]("fn") == 0L)
    assert(clean.getAs[Double]("mcc") == 1.0)
    // flip a val-split doc's label: exactly one off-diagonal cell
    val ids = spark.range(400).select(col("id"),
        expr(s"${graft.queries.TextQueries.splitBucketOf("id")}").as("b"))
      .collect().collect { case r if r.getInt(1) >= 80 && r.getInt(1) < 90 => r.getLong(0) }
    val noisy = graft.queries.TextQueries.mccScoreOf(corpus(Some(ids.min))).collect().head
    assert(noisy.getAs[Long]("fp") + noisy.getAs[Long]("fn") == 1L)
    assert(noisy.getAs[Double]("mcc") < 1.0 && noisy.getAs[Double]("mcc") > 0.8)
  }

  test("minKProb scores are bounded above by the doc's full KN average") {
    val docs = Tables(spark, sfDir, "documents")
    val mink = graft.queries.TextQueries.minKProbOf(docs).collect()
    assert(mink.nonEmpty && mink.length <= 10)
    val full = graft.queries.TextQueries.knBigram(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logp")).toMap
    mink.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      // the mean of the LOWEST k log-probs cannot exceed the full mean
      assert(r.getAs[Double]("mink_avg_logp") <= full(d) + 1e-9, s"doc $d")
      assert(r.getAs[Long]("k_used") ==
        math.max(1L, r.getAs[Long]("n_bigrams") / 5), s"doc $d k")
    }
  }

  test("spectralEntropy of a constant daily series is 0, not NaN (0*ln(0) convention)") {
    val s = spark
    import s.implicits._
    val evs = (1 to 30).map { d =>
      (d.toLong, java.sql.Timestamp.valueOf(f"2024-01-${d}%02d 12:00:00"),
        1L, "purchase", 50.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = AnalyticsQueries.spectralEntropyOf(evs).collect().head
    assert(r.getAs[Double]("spectral_entropy") == 0.0)
    assert(r.getAs[Double]("h_norm") == 0.0)
  }
}
