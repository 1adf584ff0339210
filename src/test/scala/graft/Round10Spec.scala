package graft

import org.apache.spark.sql.functions._
import graft.queries.TextQueries

/** Round-10 closures of the r9 verdict: the single-pass winnowing
  * kernel equals the r9 explode pipeline value-for-value, and the
  * MOSS over-frequent-fingerprint cut drops planted boilerplate. */
class Round10Spec extends SparkSpec {

  test("winnowFps kernel equals the explode pipeline on real sf0.001 documents") {
    val docs = Tables(spark, sfDir, "documents")
    val kernel = TextQueries.winnowFpsKernelOf(docs)
      .groupBy("doc_id").agg(sort_array(collect_list("mh")).as("fps"))
    val explode = TextQueries.winnowFpsExplodeOf(docs)
      .groupBy("doc_id").agg(sort_array(collect_list("mh")).as("fps"))
    val diff = kernel.join(explode, Seq("doc_id"), "full_outer")
    assert(diff.count() > 0)
    assert(
      kernel.as("k").join(explode.as("e"), Seq("doc_id"), "full_outer")
        .filter(not(col("k.fps") <=> col("e.fps"))).count() === 0L)
  }

  test("winnowFps kernel: short text below one full window yields no fingerprints") {
    val s = spark; import s.implicits._
    graft.functions.WinnowFps.register(spark)
    // k=8, w=4 → needs at least k+w-1 = 11 chars for one full window
    val r = Seq("0123456789", "0123456789a", "abc")
      .toDF("t")
      .select(size(expr("winnow_fps(t, 8, 4)")).as("n"))
      .collect().map(_.getInt(0))
    assert(r(0) === 0) // 10 chars: 3 grams < w
    assert(r(1) >= 1)  // 11 chars: exactly one full window
    assert(r(2) === 0) // shorter than k
  }

  test("winnowFps kernel: multi-byte UTF-8 uses character (not byte) addressing") {
    val s = spark; import s.implicits._
    graft.functions.WinnowFps.register(spark)
    val txt = "αβγδεζηθικλμνξο πρστυφχψω" // greek: 2-byte chars
    val kernel = Seq((1L, txt)).toDF("doc_id", "text")
    val viaKernel = TextQueries.winnowFpsKernelOf(kernel)
      .select("mh").collect().map(_.getString(0)).sorted
    val viaExplode = TextQueries.winnowFpsExplodeOf(kernel)
      .select("mh").collect().map(_.getString(0)).sorted
    assert(viaKernel.nonEmpty)
    assert(viaKernel.toSeq === viaExplode.toSeq)
  }

  test("winnowing df cut drops a planted hot fingerprint, keeps rare ones") {
    val s = spark; import s.implicits._
    // 40 docs all sharing one boilerplate sentence (df = 40 > thr =
    // max(4, 40 div 100 = 0) = 4) plus per-doc unique filler; two docs
    // additionally share a unique passage (df = 2 ≤ thr).
    val boiler = "subscribe to our newsletter today"
    val sharedRare = "the quick brown fox jumps over the lazy dog"
    val docs = (1 to 40).map { i =>
      val unique = s"document number $i carries payload ${i * 7919} end"
      val extra = if (i == 3 || i == 17) s" $sharedRare" else ""
      (i.toLong, s"$boiler $unique$extra")
    }.toDF("doc_id", "text")
    val fps = TextQueries.winnowFpsKernelOf(docs)
    val cut = TextQueries.winnowCutOf(fps)
    // fingerprints of the pure boilerplate text (windows fully inside
    // it) must be gone after the cut
    val boilerFps = TextQueries.winnowFpsKernelOf(
      Seq((0L, boiler)).toDF("doc_id", "text"))
      .select("mh").collect().map(_.getString(0)).toSet
    assert(boilerFps.nonEmpty)
    val kept = cut.select("mh").distinct().collect().map(_.getString(0)).toSet
    assert(boilerFps.intersect(kept).isEmpty,
      "planted hot (boilerplate) fingerprints must be cut")
    // the rare shared passage's fingerprints survive: docs 3 and 17
    // still share at least one fingerprint
    val pairShared = cut.as("a").join(cut.as("b"), "mh")
      .filter(col("a.doc_id") === 3L && col("b.doc_id") === 17L)
      .count()
    assert(pairShared > 0, "rare shared fingerprints must survive the cut")
  }

  test("bloom probe stays codegen'd: negative-literal and column probes under CODEGEN_ONLY") {
    // VERDICT r9 #2: upstream BloomFilterMightContain emits
    // `(Long)<operand>`; a folded NEGATIVE literal (xxhash64('a') < 0)
    // makes janino parse a subtraction off the class name `Long` and
    // the projection silently falls back to interpreter mode.
    // GraftMightContain drops the pointless boxing cast; CODEGEN_ONLY
    // turns any residual fallback into a hard failure.
    graft.functions.BloomProbe.register(spark)
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      spark.range(0, 500).selectExpr("CAST(id AS STRING) AS s")
        .createOrReplaceTempView("r10_bloom_train")
      // negative-literal probe (the exact judge-log repro: VALUES-backed
      // build side, constant-folded negative hash on the probe side)
      val lit = spark.sql(
        "SELECT graft_might_contain(" +
          "(SELECT graft_bloom_agg(xxhash64(s), CAST(100 AS BIGINT), CAST(800 AS BIGINT))" +
          " FROM VALUES ('a'), ('b') AS t(s)), xxhash64('a'))").head().getBoolean(0)
      assert(lit === true)
      // column probe, the decontaminationBloom hot-path shape
      val n = spark.sql(
        """SELECT s FROM r10_bloom_train
          |WHERE graft_might_contain(
          |  (SELECT graft_bloom_agg(xxhash64(s), 500L, 4000L) FROM r10_bloom_train),
          |  xxhash64(s))""".stripMargin).count()
      assert(n === 500L) // no false negatives
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("decontaminationBloom equals exact decontamination under CODEGEN_ONLY") {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val bloom = queries.TextQueries.decontaminationBloom(spark, sfDir).collect()
      val exact = queries.TextQueries.decontamination(spark, sfDir).collect()
      assert(bloom.toSeq === exact.toSeq)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("dbscan convergence audit: converged planted graph reports 0, deep chain reports > 0") {
    val s = spark; import s.implicits._
    // converged case: two 4-cliques (diameter 1) — audit must be 0
    val cliqueA = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b, 0.9)
    val cliqueB = for (a <- 8L to 11L; b <- a + 1 to 11L) yield (a, b, 0.9)
    val small = (cliqueA ++ cliqueB).toDF("src", "dst", "cos")
    val gotSmall = queries.SimilarityQueries.dbscanOnEdges(small).collect()
    assert(gotSmall.forall(_.getAs[Long]("n_label_moves_last_round") === 0L))
    // deep case: a chain of 15 triangles (every node degree >= 3 so all
    // are core; core-graph diameter ~ 30 > the 10-round unroll) — the
    // min label cannot reach the far end, and the audit must say so
    val tri = (0 until 15).flatMap { i =>
      val (a, b, c) = (3L * i + 1, 3L * i + 2, 3L * i + 3)
      Seq((a, b, 0.9), (a, c, 0.9), (b, c, 0.9)) ++
        (if (i < 14) Seq((c, 3L * (i + 1) + 1, 0.9)) else Nil)
    }.toDF("src", "dst", "cos")
    val gotDeep = queries.SimilarityQueries.dbscanOnEdges(tri).collect()
    assert(gotDeep.head.getAs[Long]("n_label_moves_last_round") > 0L,
      "non-convergence must be observable")
  }

  test("percolationProfile convergence audit: long chain reports moves, short chain 0") {
    val s = spark; import s.implicits._
    val shortChain = Seq((1L, 2L, 0.31), (2L, 3L, 0.27), (4L, 5L, 0.33))
      .toDF("src", "dst", "cos")
    val gotShort = queries.SimilarityQueries.percolationProfileOnEdges(shortChain).collect()
    assert(gotShort.forall(_.getAs[Long]("n_label_moves_last_round") === 0L))
    val longChain = (1L until 30L).map(i => (i, i + 1, 0.5))
      .toDF("src", "dst", "cos")
    val gotLong = queries.SimilarityQueries.percolationProfileOnEdges(longChain).collect()
    assert(gotLong.forall(_.getAs[Long]("n_label_moves_last_round") > 0L))
  }

  test("kdeGrid: degenerate all-equal corpus yields finite densities") {
    val s = spark; import s.implicits._
    val orders = Seq.fill(5)((1L, 1L, "O", 42.0,
      java.sql.Timestamp.valueOf("1996-01-01 00:00:00"), "1-URGENT"))
      .zipWithIndex.map { case ((_, ck, st, tp, d, pr), i) => (i.toLong, ck, st, tp, d, pr) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val got = queries.AnalyticsQueries.kdeGridOf(orders).collect()
    assert(got.length === 21)
    assert(got.forall(r => !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite))
  }

  test("tableChecksum: NULL fields canonicalize via sentinel, distinct rows stay distinct") {
    val s = spark; import s.implicits._
    // two rows that concat_ws WITHOUT sentinels would canonicalize
    // identically: (status=NULL, priority='X|P') vs (status='X', priority='P')
    // — with per-field sentinels + separators they hash differently
    val mk = (k: Long, st: String, pr: String) => (k, 1L, st, 10.0,
      java.sql.Timestamp.valueOf("1996-01-01 00:00:00"), pr)
    val a = Seq(mk(1L, null, "P")).toDF("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    val b = Seq(mk(1L, "P", null)).toDF("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    val ca = queries.AnalyticsQueries.tableChecksumOf(a).collect()
    val cb = queries.AnalyticsQueries.tableChecksumOf(b).collect()
    // both digests exist (no NULL-propagation row drop)...
    assert(ca.length === 2 && cb.length === 2)
    // ...and the two field layouts produce DIFFERENT checksums
    assert(ca.map(_.getLong(2)).toSeq !== cb.map(_.getLong(2)).toSeq)
  }

  test("chaos: deleting the scratch root mid-session rebuilds every trunk consumer") {
    // VERDICT r9 #8: the failure mode durable scratch exists to absorb.
    // Cycle build -> rm -rf scratch -> re-run for consumers of two
    // different trunks (dedup trunk: q_dedup_keep + q_minhash_lsh;
    // winnow trunk: q_winnowing) and assert identical results.
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).sorted.toSeq
    val before = Map(
      "q_dedup_keep" -> rows("q_dedup_keep"),
      "q_minhash_lsh" -> rows("q_minhash_lsh"),
      "q_winnowing" -> rows("q_winnowing"))
    // simulate the operator/tmp-cleaner wiping scratch mid-session
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    val scratch = new java.io.File(s"${Tables.scratchDir}/pins-keyed")
    assert(scratch.exists, "trunks must have been written")
    scratch.listFiles()
      .filter(f => f.getName.startsWith("deduptrunk-") ||
        f.getName.startsWith("dedupgroups-") || f.getName.startsWith("winnowfps-"))
      .foreach(rm)
    // guards must detect the missing files and rebuild, not crash
    before.foreach { case (name, want) =>
      assert(rows(name) === want, s"$name must survive a scratch wipe")
    }
  }

  private def ordersOf(rows: Seq[(Long, Long, Double, String)]) = {
    val s = spark; import s.implicits._
    rows.map { case (ok, ck, tp, d) =>
      (ok, ck, "O", tp, java.sql.Timestamp.valueOf(d + " 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
  }

  test("rbo: identical half-rankings converge to 1 - p^k, disjoint to 0") {
    // same three customers, same revenue ORDER in both halves
    val orders = ordersOf(Seq(
      (1L, 1L, 300.0, "1997-01-01"), (2L, 2L, 200.0, "1997-02-01"),
      (3L, 3L, 100.0, "1997-03-01"),
      (4L, 1L, 330.0, "1999-01-01"), (5L, 2L, 220.0, "1999-02-01"),
      (6L, 3L, 110.0, "1999-03-01")))
    val got = queries.ExtensionQueries.rboOf(orders).collect()
    assert(got.length === 20)
    val byD = got.map(r => r.getInt(0) -> r).toMap
    // at depth 1..3: X_d = d (identical prefixes), agree = 1
    assert((1 to 3).forall(d => byD(d).getAs[Long]("x_d") === d.toLong))
    assert(byD(3).getAs[Double]("agree") === 1.0)
    // closed form: rbo_cum(20) = 0.1 * sum p^(d-1) * min(d,3)/d
    val want = (1 to 20).map(d => 0.1 * math.pow(0.9, d - 1) * math.min(d, 3).toDouble / d).sum
    assert(math.abs(byD(20).getAs[Double]("rbo_cum") - want) < 1e-5)
    // disjoint halves: customers 1-3 in H1 only, 4-6 in H2 only
    val disj = ordersOf(Seq(
      (1L, 1L, 300.0, "1997-01-01"), (2L, 2L, 200.0, "1997-02-01"),
      (3L, 3L, 100.0, "1997-03-01"),
      (4L, 4L, 330.0, "1999-01-01"), (5L, 5L, 220.0, "1999-02-01"),
      (6L, 6L, 110.0, "1999-03-01")))
    val got2 = queries.ExtensionQueries.rboOf(disj).collect()
    assert(got2.forall(_.getAs[Double]("rbo_cum") === 0.0))
  }

  test("segmentMigration: planted upgrade, churn, and arrival cells") {
    // c1: high -> low; c2: absent -> mid; c3: mid -> mid
    val orders = ordersOf(Seq(
      (1L, 1L, 2000000.0, "1997-01-01"), (2L, 1L, 10.0, "1999-01-01"),
      (3L, 2L, 600000.0, "1999-01-01"),
      (4L, 3L, 600000.0, "1997-01-01"), (5L, 3L, 700000.0, "1999-01-01")))
    val got = queries.ExtensionQueries.segmentMigrationOf(orders).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("high", "low", 1L), ("none", "mid", 1L), ("mid", "mid", 1L)))
  }

  test("abcAnalysis: 80/15/5 revenue split classifies one part per class") {
    val s = spark; import s.implicits._
    // revenues 80.00 / 15.00 / 5.00 dollars, no discount
    val li = Seq((1L, 101L, 80.0), (2L, 102L, 15.0), (3L, 103L, 5.0))
      .map { case (ok, pk, price) =>
        (ok, pk, 1L, 1, 1.0, price, 0.0, 0.0, "N", "O",
          java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val got = queries.ExtensionQueries.abcAnalysisOf(li).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq(("A", 1L, 80.0), ("B", 1L, 15.0), ("C", 1L, 5.0)))
  }

  test("entropyRate: deterministic chain scores 0, fair alternation ln 2") {
    val s = spark; import s.implicits._
    // user 1: a->b->a->b deterministic; user 2: c->(d|e) 50/50
    val base = "2024-01-01 00:0"
    val ev = Seq(
      (1L, 1L, "a", 0), (2L, 1L, "b", 1), (3L, 1L, "a", 2), (4L, 1L, "b", 3),
      (5L, 1L, "a", 4),
      (10L, 2L, "c", 0), (11L, 2L, "d", 1), (12L, 2L, "c", 2), (13L, 2L, "e", 3),
      (14L, 2L, "c", 4)
    ).map { case (id, u, t, m) =>
      (id, java.sql.Timestamp.valueOf(s"$base$m:00"), u, t, 1.0, """{"x":1}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = queries.ExtensionQueries.entropyRateOf(ev).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("h_cond_nats")).toMap
    assert(got("a") === 0.0) // a always -> b
    assert(math.abs(got("c") - math.log(2)) < 1e-5) // c -> d or e evenly
  }

  test("clusterPurity: label-aligned clusters score purity 1 and NMI 1") {
    val s = spark; import s.implicits._
    // 16 vectors in two orthogonal groups, labels follow the groups;
    // seeds (vec_id < 8) cover both groups
    val emb = (0L until 16L).map { i =>
      val g = (i % 2).toInt
      val v = Array.tabulate(64)(j => if (j == g) 1.0f else 0.0f)
      (i, v, if (g == 0) "x" else "y")
    }.toDF("vec_id", "embedding", "label")
    val r = queries.SimilarityQueries.clusterPurityOf(emb).collect()(0)
    assert(r.getAs[Double]("purity") === 1.0)
    assert(r.getAs[Double]("nmi") === 1.0)
  }

  test("topicCoherence: co-occurring top terms beat never-co-occurring ones") {
    val s = spark; import s.implicits._
    // group 0 docs share alpha+beta (always together); group 1 docs
    // alternate gamma / delta (never together)
    val emb = (0L until 16L).map { i =>
      val g = (i % 2).toInt
      (i, Array.tabulate(64)(j => if (j == g) 1.0f else 0.0f), s"l$g")
    }.toDF("vec_id", "embedding", "label")
    val docs = (0L until 16L).map { i =>
      if (i % 2 == 0) (i, "alpha beta alpha beta alpha beta", "en", "web", 30L)
      else if (i % 4 == 1) (i, "gamma gamma gamma gamma gamma gamma", "en", "web", 30L)
      else (i, "delta delta delta delta delta delta", "en", "web", 30L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = queries.SimilarityQueries.topicCoherenceOf(emb, docs).collect()
    assert(got.nonEmpty)
    val byCohesion = got.map(_.getAs[Double]("coherence"))
    // at least one strongly-negative (the gamma/delta cells) and the
    // alpha-beta cells near 0 (ln((D+1)/D) > 0 slightly)
    assert(byCohesion.max > byCohesion.min)
  }

  test("closenessCentrality: path graph distances from the end seed") {
    val s = spark; import s.implicits._
    // path 1-2-3-4-5; seeds are all 5 nodes (CcSeeds=8 > 5)
    val edges = (1L until 5L).map(i => (i, i + 1, 0.9)).toDF("src", "dst", "cos")
    val got = queries.SimilarityQueries.closenessCentralityOnEdges(edges).collect()
    val r1 = got.find(_.getAs[Long]("seed") === 1L).get
    // from node 1: dists 1,2,3,4 -> sum 10, harmonic 1+1/2+1/3+1/4
    assert(r1.getAs[Long]("n_reached") === 4L)
    assert(r1.getAs[Long]("sum_dist") === 10L)
    assert(math.abs(r1.getAs[Double]("harmonic") - (1.0 + 0.5 + 1.0 / 3 + 0.25)) < 1e-5)
    val r3 = got.find(_.getAs[Long]("seed") === 3L).get
    assert(r3.getAs[Long]("sum_dist") === 6L) // 1+2 both directions
  }

  test("codeSwitch: stitched doc outranks homogeneous docs") {
    val s = spark; import s.implicits._
    val en = Seq.fill(20)("the").mkString(" ")          // density 1
    val other = Seq.fill(20)("zzz").mkString(" ")        // density 0
    val docs = Seq(
      (1L, s"$en $other", "en", "web", 83L),            // mixed: range 1
      (2L, s"$en $en", "en", "web", 83L),               // uniform: range 0
      (3L, s"$other $other", "xx", "web", 83L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = queries.TextQueries.codeSwitchOf(docs).collect()
    assert(got.head.getAs[Long]("doc_id") === 1L)
    assert(got.head.getAs[Double]("mix_range") === 1.0)
    assert(got.filter(_.getAs[Long]("doc_id") === 2L)
      .head.getAs[Double]("mix_range") === 0.0)
  }

  test("weightedJaccard: rare shared vocabulary outranks boilerplate-only overlap") {
    val s = spark; import s.implicits._
    // docs 1,2 share a RARE word; docs 3,4 share only corpus-wide
    // boilerplate (present in all docs -> low idf weight)
    val boiler = "common words everywhere always"
    val docs = Seq(
      (1L, s"$boiler quetzalcoatl alpha", "en", "web", 30L),
      (2L, s"$boiler quetzalcoatl beta", "en", "web", 30L),
      (3L, s"$boiler gamma", "en", "web", 20L),
      (4L, s"$boiler delta", "en", "web", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = queries.TextQueries.weightedJaccardOf(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got((1L, 2L)) > got((3L, 4L)),
      "rare-word pair must outrank boilerplate-only pair")
  }

  test("readability: long unpunctuated vowel-heavy text scores lower flesch") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "See the cat. It sat.", "en", "simple", 20L),
      (2L, ("onomatopoeia " * 40).trim, "en", "dense", 520L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = queries.TextQueries.readabilityOf(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("flesch")).toMap
    assert(got("simple") > got("dense"))
    // closed form for 'simple': 5 words, 2 sentences, 5 vowel groups
    // flesch = 206.835 - 1.015*2.5 - 84.6*1 = 119.6975
    assert(math.abs(got("simple") - 119.6975) < 1e-9)
  }

  test("saxMotifs: alternating weekly pattern yields one dominant word") {
    val s = spark; import s.implicits._
    // 6 weeks alternating high/low revenue -> windows symbolize to two
    // alternating symbols, words repeat
    val ev = (0 until 42).map { day =>
      val ts = java.time.LocalDate.of(2024, 1, 1).plusDays(day).atStartOfDay()
      (day.toLong, java.sql.Timestamp.valueOf(ts),
        1L, "purchase", if ((day / 7) % 2 == 0) 100.0 else 10.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = queries.AnalyticsQueries.saxMotifsOf(ev).collect()
    assert(got.nonEmpty)
    // 6 windows alternate d,a,d,a,d,a -> words dad (x2) and ada (x2)
    val words = got.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(words.keySet === Set("dad", "ada"))
    assert(words.values.toSet === Set(2L))
  }

  test("esdOutliers: planted spike is extracted first and flagged; masking avoided") {
    val s = spark; import s.implicits._
    // 40 flat days + one huge spike + one medium spike the first
    // extraction would mask under a single-pass rule
    val ev = (0 until 42).map { day =>
      val ts = java.time.LocalDate.of(2024, 3, 1).plusDays(day).atStartOfDay()
      val v = if (day == 10) 100000.0 else if (day == 20) 20000.0 else 100.0
      (day.toLong, java.sql.Timestamp.valueOf(ts), 1L, "purchase", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = queries.AnalyticsQueries.esdOutliersOf(ev).collect()
    assert(got.length === 5)
    assert(got(0).getAs[java.sql.Date]("day").toString === "2024-03-11")
    assert(got(0).getAs[Boolean]("flagged"))
    // round 2 finds the medium spike with a RE-ESTIMATED sigma
    assert(got(1).getAs[java.sql.Date]("day").toString === "2024-03-21")
    assert(got(1).getAs[Boolean]("flagged"))
    // later rounds: flat days, not flagged
    assert(!got(4).getAs[Boolean]("flagged"))
  }

  private def eventsDaily(vals: Seq[Double], start: String = "2024-03-01"): org.apache.spark.sql.DataFrame = {
    val s = spark; import s.implicits._
    vals.zipWithIndex.map { case (v, day) =>
      val ts = java.time.LocalDate.parse(start).plusDays(day).atStartOfDay()
      (day.toLong, java.sql.Timestamp.valueOf(ts), 1L, "purchase", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("nelsonAalen: cumulative hazard matches hand-computed d/n sums") {
    val s = spark; import s.implicits._
    // 4 users; users 1,2 convert on day 1 and 2; users 3,4 censored
    val mk = (id: Long, u: Long, t: String, ty: String, v: Double) =>
      (id, java.sql.Timestamp.valueOf(t), u, ty, v, "{}")
    val ev = Seq(
      mk(1, 1, "2024-01-01 00:00:00", "click", 1.0),
      mk(2, 1, "2024-01-02 00:00:00", "purchase", 200.0), // day 1
      mk(3, 2, "2024-01-01 00:00:00", "click", 1.0),
      mk(4, 2, "2024-01-03 00:00:00", "purchase", 200.0), // day 2
      mk(5, 3, "2024-01-01 00:00:00", "click", 1.0),      // censored day 4
      mk(6, 4, "2024-01-02 00:00:00", "click", 1.0),      // censored day 3
      mk(7, 9, "2024-01-05 00:00:00", "click", 1.0)       // sets corpus end
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = queries.ExtensionQueries.nelsonAalenOf(ev).collect()
      .map(r => r.getAs[Long]("day") -> r).toMap
    // risk sets: day0 has user 9 (censored, c=1) n=5; day1: d=1 n=4;
    // day2: d=1 n=3; day3: c=1 n=2; day4: c=1 n=1
    assert(got(1L).getAs[Double]("cum_hazard") === 0.25)
    assert(got(2L).getAs[Double]("cum_hazard") === math.floor((0.25 + 1.0 / 3) * 1e4 + 0.5) / 1e4)
    // hazard never decreases
    val seq = queries.ExtensionQueries.nelsonAalenOf(ev).collect()
      .map(_.getAs[Double]("cum_hazard"))
    assert(seq.sameElements(seq.sorted))
  }

  test("hhiConcentration: monopoly region scores 10000, even split 1/n") {
    val s = spark; import s.implicits._
    val region = Seq((0, "AMERICA"), (1, "EUROPE")).toDF("r_regionkey", "r_name")
    val nation = Seq((0, "US", 0), (1, "FR", 1)).toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = Seq(
      (1L, "a", 0, 0.0, "S"), (2L, "b", 1, 0.0, "S"), (3L, "c", 1, 0.0, "S"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val orders = Seq(
      (1L, 1L, 100.0, "1996-01-01"), // AMERICA: single customer -> HHI 10000
      (2L, 2L, 50.0, "1996-01-01"), (3L, 3L, 50.0, "1996-01-01")) // EUROPE even
      .map { case (ok, ck, tp, d) =>
        (ok, ck, "O", tp, java.sql.Timestamp.valueOf(d + " 00:00:00"), "P")
      }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val got = queries.ExtensionQueries
      .hhiConcentrationOf(orders, customer, nation, region).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("hhi")).toMap
    assert(got("AMERICA") === 10000.0)
    assert(got("EUROPE") === 5000.0)
  }

  test("energyDistance: identical halves score 0, shifted halves positive") {
    val s = spark; import s.implicits._
    def orders(h2shift: Double) = (1 to 40).map { i =>
      val (d, v) = if (i <= 20) ("1997-01-01", i.toDouble)
      else ("1999-01-01", (i - 20).toDouble + h2shift)
      (i.toLong, 1L, "O", v, java.sql.Timestamp.valueOf(d + " 00:00:00"), "P")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val same = queries.ExtensionQueries.energyDistanceOf(orders(0.0)).collect()(0)
    assert(same.getAs[Double]("energy_dist_sq") === 0.0)
    val shifted = queries.ExtensionQueries.energyDistanceOf(orders(100.0)).collect()(0)
    assert(shifted.getAs[Double]("energy_dist_sq") > 50.0)
  }

  test("periodogram: planted 7-day cycle dominates the power shares") {
    val vals = (0 until 70).map(d => if (d % 7 == 0) 1000.0 else 10.0)
    val got = queries.AnalyticsQueries.periodogramOf(eventsDaily(vals)).collect()
    // 70 days -> weekly cycle is harmonic k = 10 (period 7.0)
    assert(got.head.getAs[Double]("period_days") === 7.0)
    assert(got.head.getAs[Double]("power_share") > 0.5)
  }

  test("binsegChangepoints: two level shifts are found at the planted days") {
    // 30 days at 100, 30 at 1000, 30 at 100 -> splits at i=29 and i=59
    val vals = Seq.fill(30)(100.0) ++ Seq.fill(30)(1000.0) ++ Seq.fill(30)(100.0)
    val got = queries.AnalyticsQueries.binsegChangepointsOf(eventsDaily(vals)).collect()
    val splits = got.map(_.getAs[Long]("split_day_index")).toSet
    assert(splits.contains(29L) && splits.contains(59L),
      s"expected splits at 29 and 59, got $splits")
  }

  test("atkinsonIndex: 90/10 split scores the closed-form 0.2 / 0.4") {
    val s = spark; import s.implicits._
    val region = Seq((0, "AMERICA"), (1, "EUROPE")).toDF("r_regionkey", "r_name")
    val nation = Seq((0, "US", 0), (1, "FR", 1)).toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = Seq(
      (1L, "a", 0, 0.0, "S"), (2L, "b", 0, 0.0, "S"),
      (3L, "c", 1, 0.0, "S"), (4L, "d", 1, 0.0, "S"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    // AMERICA: 90.00 / 10.00 -> (sqrt9000+sqrt1000)^2/4 = 4000 exactly
    // (cross term 2*sqrt(9e6) = 6000), so A(0.5) = 1-4000/5000 = 0.2 and
    // geomean = 3000 -> A(1) = 0.4. EUROPE: equal split -> 0 / 0.
    val orders = Seq(
      (1L, 1L, 90.0), (2L, 2L, 10.0), (3L, 3L, 50.0), (4L, 4L, 50.0))
      .map { case (ok, ck, tp) =>
        (ok, ck, "O", tp, java.sql.Timestamp.valueOf("1996-01-01 00:00:00"), "P")
      }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val got = queries.ExtensionQueries
      .atkinsonIndexOf(orders, customer, nation, region).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(math.abs(got("AMERICA").getAs[Double]("atkinson_05") - 0.2) < 1e-4)
    assert(math.abs(got("AMERICA").getAs[Double]("atkinson_1") - 0.4) < 1e-4)
    assert(got("EUROPE").getAs[Double]("atkinson_05") === 0.0)
    assert(got("EUROPE").getAs[Double]("atkinson_1") === 0.0)
  }

  test("moodMedian: fully separated groups hit the maximal chi-square") {
    val s = spark; import s.implicits._
    val orders = Seq(
      ("1-URGENT", 200.0), ("1-URGENT", 300.0), ("1-URGENT", 400.0), ("1-URGENT", 500.0),
      ("5-LOW", 0.1), ("5-LOW", 0.2), ("5-LOW", 0.3), ("5-LOW", 0.4))
      .zipWithIndex.map { case ((pr, tp), i) =>
        (i.toLong, 1L, "O", tp, java.sql.Timestamp.valueOf("1996-01-01 00:00:00"), pr)
      }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val got = queries.ExtensionQueries.moodMedianOf(orders).collect()
      .map(r => r.getString(0) -> r).toMap
    // pooled lower median = 4th smallest = 40 cents; urgent all above
    assert(got("1-URGENT").getAs[Long]("above") === 4L)
    assert(got("5-LOW").getAs[Long]("above") === 0L)
    assert(got("1-URGENT").getAs[Long]("median_cents") === 40L)
    assert(got("1-URGENT").getAs[Double]("chi2") === 8.0)
    assert(got("5-LOW").getAs[Double]("expected_above") === 2.0)
  }

  test("regressionDiscontinuity: planted flat sides report the exact jump") {
    val s = spark; import s.implicits._
    // left side acctbal in [-500,-100] with revenue 10.00; right side
    // [100,500] with revenue 30.00 -> slopes 0, jump 20.00
    val customer = (1 to 10).map { i =>
      val bal = if (i <= 5) -100.0 * i else 100.0 * (i - 5)
      (i.toLong, s"c$i", 0, bal, "S")
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val orders = (1 to 10).map { i =>
      val tp = if (i <= 5) 10.0 else 30.0
      (i.toLong, i.toLong, "O", tp,
        java.sql.Timestamp.valueOf("1996-01-01 00:00:00"), "P")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val got = queries.ExtensionQueries
      .regressionDiscontinuityOf(customer, orders).collect()(0)
    assert(got.getAs[Long]("n_left") === 5L)
    assert(got.getAs[Long]("n_right") === 5L)
    assert(got.getAs[Double]("slope_left") === 0.0)
    assert(got.getAs[Double]("slope_right") === 0.0)
    assert(got.getAs[Double]("intercept_left") === 10.0)
    assert(got.getAs[Double]("intercept_right") === 30.0)
    assert(got.getAs[Double]("jump") === 20.0)
  }

  // the two-round modmul split bucket, driver-side (keys ≥ 0)
  private def bucket(k: Long): Long =
    (((k % 4294967296L) * 40503 % 65536) * 65536
      + (k % 4294967296L) * 31153) % 4294967296L % 100

  test("imputeEval: constant-balance nation scores zero error; planted gap is exact") {
    val s = spark; import s.implicits._
    val all = (1L to 5000L)
    val (m0, u0) = (all.filter(bucket(_) < 20).take(15),
      all.filter(bucket(_) >= 20).take(15))
    val off = 10000L
    val (m1, u1) = (all.filter(k => bucket(k + off) < 20).take(15).map(_ + off),
      all.filter(k => bucket(k + off) >= 20).take(15).map(_ + off))
    val customer = (
      m0.map((_, 0, 500.0)) ++ u0.map((_, 0, 500.0)) ++
        m1.map((_, 1, 200.0)) ++ u1.map((_, 1, 100.0))
      ).toDF("c_custkey", "c_nationkey", "c_acctbal")
    val nation = Seq((0, 0), (1, 1)).toDF("n_nationkey", "n_regionkey")
    val region = Seq((0, "R0"), (1, "R1")).toDF("r_regionkey", "r_name")
    val got = queries.ExtensionQueries.imputeEvalOf(customer, nation, region)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("R0").getAs[Long]("n_masked") === 15L)
    assert(got("R0").getAs[Double]("mae") === 0.0)
    assert(got("R0").getAs[Double]("rmse") === 0.0)
    // masked nation-1 rows are 200.00, donors all 100.00 → error 100.00
    assert(got("R1").getAs[Double]("mae") === 100.0)
    assert(got("R1").getAs[Double]("rmse") === 100.0)
  }

  test("syntheticControl: planted (10,10,0) mix recovered with exact gap") {
    val s = spark; import s.implicits._
    // custkey k → nation k
    val customer = Seq(0L, 5L, 10L, 15L).map(k => (k, k.toInt))
      .toDF("c_custkey", "c_nationkey")
    def o(month: String, nat: Long, tp: Double, id: Long) =
      (id, nat, tp, java.sql.Timestamp.valueOf(s"$month-01 00:00:00"))
    // pre: t = (d1+d2)/2 in both months, d-ratios flipped → unique w=(10,10,0)
    val orders = Seq(
      o("1997-03", 0L, 300.0, 1), o("1997-03", 5L, 200.0, 2),
      o("1997-03", 10L, 400.0, 3), o("1997-03", 15L, 999.0, 4),
      o("1998-05", 0L, 300.0, 5), o("1998-05", 5L, 400.0, 6),
      o("1998-05", 10L, 200.0, 7), o("1998-05", 15L, 999.0, 8),
      o("1999-02", 0L, 1000.0, 9), o("1999-02", 5L, 100.0, 10),
      o("1999-02", 10L, 100.0, 11), o("1999-02", 15L, 777.0, 12)
    ).toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val got = queries.ExtensionQueries.syntheticControlOf(orders, customer).collect()
    assert(got.length === 1)
    val r = got(0)
    assert(r.getAs[String]("month") === "1999-02")
    assert(r.getAs[Int]("w1") === 10)
    assert(r.getAs[Int]("w2") === 10)
    assert(r.getAs[Int]("w3") === 0)
    assert(r.getAs[Double]("treated_revenue") === 1000.0)
    assert(r.getAs[Double]("synthetic_revenue") === 100.0)
    assert(r.getAs[Double]("gap") === 900.0)
  }

  test("rakeKeywords: closed-form deg/freq scores; stop runs and long runs handled") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "deep learning the deep learning a spark"),
      (2L, "the a data spark"),                    // consecutive stops → one phrase
      (3L, "w1 w2 w3 w4 w5 w6 w7")                 // 7-token run: over MaxLen, dropped
    ).toDF("doc_id", "text")
    val got = TextQueries.rakeKeywordsOf(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    // freq: deep 2, learning 2, spark 2; deg: deep 4, learning 4, spark 2
    // "deep learning" = 2.0+2.0 = 4.0; "spark" = 1.0
    assert(got("deep learning").getAs[Double]("score") === 4.0)
    assert(got("deep learning").getAs[Long]("n_occurrences") === 2L)
    assert(got("deep learning").getAs[Long]("n_words") === 2L)
    assert(got("spark").getAs[Double]("score") === 1.0)
    assert(got("spark").getAs[Long]("n_occurrences") === 2L)
    assert(!got.contains("w1 w2 w3 w4 w5 w6 w7"))
    assert(got.keySet === Set("deep learning", "spark"))
  }

  test("welchAnova: three equal-variance shifted groups hit the closed form") {
    val s = spark; import s.implicits._
    val orders = Seq(
      ("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 11.0), ("B", 12.0), ("B", 13.0),
      ("C", 21.0), ("C", 22.0), ("C", 23.0))
      .toDF("o_orderpriority", "o_totalprice")
    val r = queries.ExtensionQueries.welchAnovaOf(orders).collect()(0)
    assert(r.getAs[Long]("k") === 3L)
    assert(r.getAs[Long]("n") === 9L)
    // wi = 3 ∀; A = (Σw·m² − (Σw·m)²/Σw)/2 = 300; λ = 3·(2/3)²/2 = 2/3
    // F = 300/(1 + 2·1/8·2/3) = 2700/10.5 = 257.142857…
    assert(r.getAs[Double]("f_stat") === 257.1429)
    assert(r.getAs[Double]("df2") === 4.0)
  }

  test("tukeyHsd: planted separation flags only the distant pairs") {
    val s = spark; import s.implicits._
    val orders = Seq(
      ("A", 0.0), ("A", 2.0), ("B", 10.0), ("B", 12.0), ("C", 10.0), ("C", 12.0))
      .toDF("o_orderpriority", "o_totalprice")
    val got = queries.ExtensionQueries.tukeyHsdOf(orders).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // MSE = 3·(2·10⁴)/3 /... pooled: each group SS = 20000 cents² → MSE 20000
    // se = sqrt(10⁴·(1/2+1/2)) = 100 cents
    assert(got(("A", "B")).getAs[Double]("q_stat") === 10.0)
    assert(got(("A", "B")).getAs[Boolean]("significant"))
    assert(got(("A", "B")).getAs[Double]("diff") === 10.0)
    assert(got(("B", "C")).getAs[Double]("q_stat") === 0.0)
    assert(!got(("B", "C")).getAs[Boolean]("significant"))
  }

  test("dhondtAlloc: 5 seats over 100/60/40 with an exact quotient tie") {
    val s = spark; import s.implicits._
    val docs = ((1 to 100).map(i => (i.toLong, "A"))
      ++ (1 to 60).map(i => (i.toLong + 100, "B"))
      ++ (1 to 40).map(i => (i.toLong + 200, "C")))
      .toDF("doc_id", "source")
    val got = queries.ExtensionQueries.dhondtAllocOf(docs, 5).collect()
      .map(r => r.getString(0) -> r).toMap
    // D'Hondt top5: 100A 60B 50A 40C 33.3A; SL top5: 100A 60B 40C 33.3A,
    // then 20.0 ties A(d=5) vs B(d=3) → source asc → A
    assert(got("A").getAs[Long]("dhondt_seats") === 3L)
    assert(got("B").getAs[Long]("dhondt_seats") === 1L)
    assert(got("C").getAs[Long]("dhondt_seats") === 1L)
    assert(got("A").getAs[Long]("sl_seats") === 3L)
    assert(got("B").getAs[Long]("sl_seats") === 1L)
    assert(got("C").getAs[Long]("sl_seats") === 1L)
    assert(got("A").getAs[Double]("share") === 0.5)
  }

  test("qiniUplift: interleaved deciles accumulate to the exact total uplift") {
    val s = spark; import s.implicits._
    val all = (1L to 20000L)
    val treatedKeys = all.filter(bucket(_) < 50).take(10)
    val controlKeys = all.filter(bucket(_) >= 50).take(10)
    // scores interleave: treated 1000,900,… control 950,850,… → each
    // decile of 2 holds one of each; top-5 treated convert
    val customer = (treatedKeys.zipWithIndex.map { case (k, i) =>
      (k, (1000 - 100 * i).toDouble)
    } ++ controlKeys.zipWithIndex.map { case (k, i) =>
      (k, (950 - 100 * i).toDouble)
    }).toDF("c_custkey", "c_acctbal")
    val orders = treatedKeys.take(5).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("o_orderkey", "o_custkey")
    val got = queries.ExtensionQueries.qiniUpliftOf(customer, orders).collect()
    assert(got.length === 10)
    val byDec = got.map(r => r.getLong(0) -> r).toMap
    assert(byDec(1L).getAs[Long]("n_t") === 1L)
    assert(byDec(1L).getAs[Long]("n_c") === 1L)
    assert(byDec(1L).getAs[Double]("qini") === 1.0)
    assert(byDec(5L).getAs[Double]("qini") === 5.0)  // all 5 conversions in
    assert(byDec(10L).getAs[Double]("qini") === 5.0) // no control conv ever
    assert(got.map(_.getAs[Long]("conv_t")).sum === 5L)
    assert(got.map(_.getAs[Long]("conv_c")).sum === 0L)
  }

  test("wilcoxonSigned: planted diffs +1,+2,+3,-4 give W+=6, z=1/sqrt(7.5)") {
    val s = spark; import s.implicits._
    // customer k: pre order 100.00, post order 100.00+d_k
    val diffs = Seq(1.0, 2.0, 3.0, -4.0)
    val orders = diffs.zipWithIndex.flatMap { case (d, i) =>
      Seq((i * 2L, i.toLong, 100.0,
        java.sql.Timestamp.valueOf("1997-01-01 00:00:00")),
        (i * 2L + 1, i.toLong, 100.0 + d,
          java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
    }.toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val r = queries.ExtensionQueries.wilcoxonSignedOf(orders).collect()(0)
    assert(r.getAs[Long]("n") === 4L)
    assert(r.getAs[Double]("w_plus") === 6.0)
    // mean 5, var 4·5·9/24 = 7.5 → z = 1/sqrt(7.5) = 0.36514…
    assert(r.getAs[Double]("z") === 0.3651)
  }

  test("oaxacaBlinder: planted slopes decompose the gap exactly") {
    val s = spark; import s.implicits._
    // A: (x,y) = (0,10),(2,14) → βA=2, x̄A=1, ȳA=12
    // B: (x,y) = (2,7),(4,9)  → βB=1, x̄B=3, ȳB=8
    // gap 4; explained = 2·(1−3) = −4; unexplained = 8
    val customer = Seq(
      (1L, "BUILDING", 0.0), (2L, "BUILDING", 2.0),
      (3L, "MACHINERY", 2.0), (4L, "MACHINERY", 4.0))
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
    val orders = Seq((1L, 1L, 10.0), (2L, 2L, 14.0), (3L, 3L, 7.0), (4L, 4L, 9.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val r = queries.ExtensionQueries.oaxacaBlinderOf(customer, orders).collect()(0)
    assert(r.getAs[Double]("gap") === 4.0)
    assert(r.getAs[Double]("explained") === -4.0)
    assert(r.getAs[Double]("unexplained") === 8.0)
    assert(r.getAs[Double]("slope_a") === 2.0)
    assert(r.getAs[Double]("slope_b") === 1.0)
  }

  test("jamesStein: four planted nations shrink by the closed-form factor") {
    val s = spark; import s.implicits._
    // means 0,10,10,20 (±1 pairs) → m̄=10, S=200, s²=2, v̄=1,
    // B = 1 − 1·1/200 = 0.995 → nation 0: 10 + 0.995·(−10) = 0.05
    val customer = Seq(
      (1L, 0, -1.0), (2L, 0, 1.0), (3L, 1, 9.0), (4L, 1, 11.0),
      (5L, 2, 9.0), (6L, 2, 11.0), (7L, 3, 19.0), (8L, 3, 21.0))
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
    val got = queries.ExtensionQueries.jamesSteinOf(customer).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(got(0).getAs[Double]("shrinkage") === 0.995)
    assert(got(0).getAs[Double]("raw_mean") === 0.0)
    assert(got(0).getAs[Double]("js_mean") === 0.05)
    assert(got(3).getAs[Double]("js_mean") === 19.95)
    assert(got(1).getAs[Double]("js_mean") === 10.0)
  }

  test("mapEval: hits at ranks 1 and 3 give AP = (1 + 2/3)/2") {
    val s = spark; import s.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // the query, label 0
      (10L, Array(1.0f, 0.0f), 0),  // rank 1, hit
      (11L, Array(0.8f, 0.6f), 1),  // rank 2, miss
      (12L, Array(0.6f, 0.8f), 0)   // rank 3, hit
    ).toDF("vec_id", "embedding", "label")
    val got = queries.SimilarityQueries.mapEvalOf(emb).collect()
    assert(got.length === 1)
    val r = got(0)
    assert(r.getAs[Long]("n_rel") === 2L)
    assert(r.getAs[Long]("hits") === 2L)
    // p@1 = 1, p@3 = 2/3 → AP = (1000000 + 666667)/1e6/2 = 0.833334 (6dp fence)
    assert(r.getAs[Double]("ap") === 0.833334)
  }

  test("chao1Richness: counts a:2 b:1 c:1 give the closed form 3.5") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val r = TextQueries.chao1RichnessOf(docs).collect()(0)
    assert(r.getAs[Long]("s_obs") === 3L)
    assert(r.getAs[Long]("n_tokens") === 4L)
    assert(r.getAs[Long]("f1") === 2L)
    assert(r.getAs[Long]("f2") === 1L)
    assert(r.getAs[Double]("chao1") === 3.5) // 3 + 2·1/(2·2)
    assert(r.getAs[Double]("coverage") === 0.5)
  }

  test("decisionStump: perfectly separable balances split at the exact boundary") {
    val s = spark; import s.implicits._
    val customer = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))
      .toDF("c_custkey", "c_acctbal")
    val orders = Seq((1L, 3L), (2L, 4L)).toDF("o_orderkey", "o_custkey")
    val r = queries.ExtensionQueries.decisionStumpOf(customer, orders).collect()(0)
    assert(r.getAs[Double]("threshold") === 2.0)
    assert(r.getAs[Long]("n_left") === 2L)
    assert(r.getAs[Long]("n_right") === 2L)
    assert(r.getAs[Long]("pos_left") === 0L)
    assert(r.getAs[Long]("pos_right") === 2L)
    assert(r.getAs[Double]("gini_split") === 0.0)
    assert(r.getAs[Double]("gini_base") === 0.5)
  }

  test("cliffDelta: fully separated groups give delta = 1 / large") {
    val s = spark; import s.implicits._
    val events = (Seq(10.0, 11.0, 12.0).map(("click", _))
      ++ Seq(1.0, 2.0, 3.0).map(("purchase", _)))
      .toDF("event_type", "value")
    val r = queries.ExtensionQueries.cliffDeltaOf(events, "click", "purchase")
      .collect()(0)
    assert(r.getAs[Double]("delta") === 1.0)
    assert(r.getAs[String]("magnitude") === "large")
    assert(r.getAs[Long]("gt") === 9L)
    assert(r.getAs[Long]("lt") === 0L)
    // tie plant: identical distributions → delta 0
    val same = (Seq(1.0, 2.0).map(("click", _)) ++ Seq(1.0, 2.0).map(("purchase", _)))
      .toDF("event_type", "value")
    val r2 = queries.ExtensionQueries.cliffDeltaOf(same, "click", "purchase")
      .collect()(0)
    assert(r2.getAs[Double]("delta") === 0.0)
    assert(r2.getAs[Long]("ties") === 2L)
  }

  test("mantelHaenszel: one hand-computed stratum gives the exact OR") {
    val s = spark; import s.implicits._
    // stratum R0: a=4 (treated heavy), b=1, c=1, d=4 → OR = 16/... ad/n=1.6, bc/n=0.1 → OR 16
    val all = (1L to 20000L)
    val t = all.filter(k => bucket(k) < 50).take(5)
    val c = all.filter(k => bucket(k) >= 50).take(5)
    val customer = (t ++ c).map(k => (k, 0)).toDF("c_custkey", "c_nationkey")
    // heavy = ≥11 orders: 4 treated heavy, 1 control heavy
    val heavy = t.take(4) ++ c.take(1)
    val orders = heavy.flatMap(k => (1 to 11).map(i => (k * 100 + i, k)))
      .toDF("o_orderkey", "o_custkey")
    val nation = Seq((0, 0)).toDF("n_nationkey", "n_regionkey")
    val region = Seq((0, "R0")).toDF("r_regionkey", "r_name")
    val r = queries.ExtensionQueries
      .mantelHaenszelOf(customer, orders, nation, region).collect()(0)
    assert(r.getAs[Long]("n_strata") === 1L)
    assert(r.getAs[Double]("or_mh") === 16.0)
    // CMH: E=2.5, V=25·25/(100·9)=0.6944…, (|4−2.5|−0.5)²/V = 1/0.694444
    assert(math.abs(r.getAs[Double]("cmh_chi2") - 1.44) < 0.01)
  }

  test("poissonDispersion: constant daily counts are underdispersed (VMR 0)") {
    val s = spark; import s.implicits._
    // 3 purchases every day over 10 days → variance 0
    val events = (0 until 10).flatMap(d => (1 to 3).map(i =>
      ("purchase", java.sql.Timestamp.valueOf(f"1996-01-${d + 1}%02d 12:00:00"), i)))
      .toDF("event_type", "ts", "event_id")
    val r = queries.ExtensionQueries.poissonDispersionOf(events).collect()(0)
    assert(r.getAs[Long]("n") === 10L)
    assert(r.getAs[Double]("mean") === 3.0)
    assert(r.getAs[Double]("vmr") === 0.0)
    assert(!r.getAs[Boolean]("overdispersed"))
  }

  test("wilsonCi: p-hat 0 keeps a positive upper bound (the Wald failure case)") {
    val s = spark; import s.implicits._
    val docs = ((1 to 4).map(i => (i.toLong, "de", "s0"))
      ++ (1 to 4).map(i => (i.toLong + 10, "en", "s1")))
      .toDF("doc_id", "lang", "source")
    val got = TextQueries.wilsonCiOf(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("s0").getAs[Double]("share") === 0.0)
    assert(got("s0").getAs[Double]("lo") === 0.0)
    assert(got("s0").getAs[Double]("hi") > 0.4) // Wilson: 0.49 at n=4, p=0
    assert(got("s1").getAs[Double]("share") === 1.0)
    assert(got("s1").getAs[Double]("hi") === 1.0)
    assert(got("s1").getAs[Double]("lo") < 0.6)
  }

  test("fleissKappa: unanimous raters on a mixed corpus give kappa 1") {
    val s = spark; import s.implicits._
    // doc A: all three raters positive (long, many tokens, has 'the');
    // doc B: all three negative → P̄=1, P_e<1 → κ=1
    val longText = "the " + Seq.fill(60)("word").mkString(" ")
    val docs = Seq((1L, longText), (2L, "x y")).toDF("doc_id", "text")
    val r = TextQueries.fleissKappaOf(docs).collect()(0)
    assert(r.getAs[Double]("p_bar") === 1.0)
    assert(r.getAs[Double]("kappa") === 1.0)
    // flip one rater on doc B (give it 'the' but keep it short/sparse)
    val docs2 = Seq((1L, longText), (2L, "the y")).toDF("doc_id", "text")
    val r2 = TextQueries.fleissKappaOf(docs2).collect()(0)
    assert(r2.getAs[Double]("p_bar") < 1.0)
    assert(r2.getAs[Double]("kappa") < 1.0)
  }

  test("cramerVonMises: disjoint two-and-two gives the closed-form 0.375") {
    val s = spark; import s.implicits._
    val events = (Seq(1.0, 2.0).map(("click", _)) ++ Seq(3.0, 4.0).map(("purchase", _)))
      .toDF("event_type", "value")
    val r = queries.ExtensionQueries.cramerVonMisesOf(events, "click", "purchase")
      .collect()(0)
    // gaps² at v=1..4: .25, 1, .25, 0 → Σ=1.5; T = 4/16·1.5
    assert(r.getAs[Double]("t_stat") === 0.375)
    assert(!r.getAs[Boolean]("reject_5pct"))
    val same = (Seq(5.0, 5.0).map(("click", _)) ++ Seq(5.0, 5.0).map(("purchase", _)))
      .toDF("event_type", "value")
    assert(queries.ExtensionQueries.cramerVonMisesOf(same, "click", "purchase")
      .collect()(0).getAs[Double]("t_stat") === 0.0)
  }

  test("negbinFit: daily counts 0/2/4 give r=2, p=0.5") {
    val s = spark; import s.implicits._
    def e(t: String, d: Int, n: Int) = (1 to n).map(i =>
      (t, java.sql.Timestamp.valueOf(f"1996-01-$d%02d 10:00:00"), i))
    val events = (e("click", 1, 1) ++ e("purchase", 2, 2) ++ e("purchase", 3, 4))
      .toDF("event_type", "ts", "event_id")
    val r = queries.ExtensionQueries.negbinFitOf(events).collect()(0)
    assert(r.getAs[Long]("n") === 3L)
    assert(r.getAs[Double]("mean") === 2.0)
    assert(r.getAs[Double]("variance") === 4.0)
    assert(r.getAs[Double]("r") === 2.0)
    assert(r.getAs[Double]("p") === 0.5)
    assert(r.getAs[Boolean]("overdispersed"))
  }

  test("hellingerHourly: identical shapes → 0; disjoint hours → 1") {
    val s = spark; import s.implicits._
    def at(t: String, h: Int) =
      (t, java.sql.Timestamp.valueOf(f"1996-01-01 $h%02d:00:00"), 1)
    val same = Seq(at("click", 5), at("purchase", 5))
      .toDF("event_type", "ts", "event_id")
    val r1 = queries.ExtensionQueries.hellingerHourlyOf(same, "click", "purchase")
      .collect()(0)
    assert(r1.getAs[Double]("hellinger") === 0.0)
    assert(r1.getAs[Double]("bhattacharyya_dist") === 0.0)
    val disj = Seq(at("click", 5), at("purchase", 9))
      .toDF("event_type", "ts", "event_id")
    val r2 = queries.ExtensionQueries.hellingerHourlyOf(disj, "click", "purchase")
      .collect()(0)
    assert(r2.getAs[Double]("hellinger") === 1.0)
    assert(r2.isNullAt(r2.fieldIndex("bhattacharyya_dist")))
  }

  test("brierScore: Murphy identity holds and separable docs resolve fully") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "alpha", "en"), (2L, "bb cc dd", "de"))
      .toDF("doc_id", "text", "lang")
    val r = TextQueries.brierScoreOf(docs).collect()(0)
    assert(r.getAs[Long]("n") === 2L)
    assert(r.getAs[Double]("uncertainty") === 0.25)
    // one doc per score bin → per-bin ȳ ∈ {0,1} → resolution = uncertainty
    assert(r.getAs[Double]("resolution") === 0.25)
    val identity = r.getAs[Double]("reliability") - r.getAs[Double]("resolution") +
      r.getAs[Double]("uncertainty")
    assert(math.abs(r.getAs[Double]("brier") - identity) < 5e-6)
  }

  test("clusteringCoeff: K4 is fully clustered, a star contributes zeros") {
    val s = spark; import s.implicits._
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val star = Seq((10L, 11L), (10L, 12L))
    val got = queries.SimilarityQueries
      .clusteringCoeffOnEdges((k4 ++ star).toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(3L).getAs[Long]("n_nodes") === 4L)   // the K4 corners
    assert(got(3L).getAs[Double]("avg_cc") === 1.0)
    assert(got(1L).getAs[Long]("n_nodes") === 2L)   // star leaves, d<2 → 0
    assert(got(1L).getAs[Double]("avg_cc") === 0.0)
    assert(got(2L).getAs[Double]("avg_cc") === 0.0) // star center, no triangle
  }

  test("yuenTest: planted outliers are trimmed; closed-form t and df") {
    val s = spark; import s.implicits._
    val g1 = Seq(0.0, 10.0, 10.0, 12.0, 12.0, 14.0, 14.0, 16.0, 16.0, 1000.0)
    val g2 = Seq(0.0, 5.0, 5.0, 7.0, 7.0, 9.0, 9.0, 11.0, 11.0, 995.0)
    val orders = (g1.map(("1-URGENT", _)) ++ g2.map(("5-LOW", _)))
      .toDF("o_orderpriority", "o_totalprice")
    val r = queries.ExtensionQueries.yuenTestOf(orders).collect()(0)
    assert(r.getAs[Long]("h1") === 6L)
    assert(r.getAs[Long]("h2") === 6L)
    assert(r.getAs[Double]("trimmed_mean_a") === 13.0) // outliers 0/1000 gone
    assert(r.getAs[Double]("trimmed_mean_b") === 8.0)
    // s²w = 58/9 both sides → d = 58/30 each → t = 5/√(58/15), df = 10
    assert(r.getAs[Double]("t_stat") === 2.5427)
    assert(r.getAs[Double]("df") === 10.0)
  }

  test("adjustedRand and vMeasure: label-aligned clusters score 1; ARI pair counts exact") {
    val s = spark; import s.implicits._
    val emb = (0L until 16L).map { i =>
      val g = (i % 2).toInt
      val v = Array.tabulate(64)(j => if (j == g) 1.0f else 0.0f)
      (i, v, if (g == 0) "x" else "y")
    }.toDF("vec_id", "embedding", "label")
    val ari = queries.SimilarityQueries.adjustedRandOf(emb).collect()(0)
    assert(ari.getAs[Double]("ari") === 1.0)
    // two perfect cells of 8 → C(8,2)·2 = 56 pairs in all three counts
    assert(ari.getAs[Long]("pairs_joint") === 56L)
    assert(ari.getAs[Long]("pairs_cells") === 56L)
    assert(ari.getAs[Long]("pairs_labels") === 56L)
    val v = queries.SimilarityQueries.vMeasureOf(emb).collect()(0)
    assert(v.getAs[Double]("homogeneity") === 1.0)
    assert(v.getAs[Double]("completeness") === 1.0)
    assert(v.getAs[Double]("v_measure") === 1.0)
  }

  test("mrrEval: first hit at rank 2 gives rr 0.5; no hit gives 0") {
    val s = spark; import s.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // query, label 0
      (10L, Array(1.0f, 0.0f), 1),  // rank 1, miss
      (11L, Array(0.8f, 0.6f), 0),  // rank 2, hit → rr = 1/2
      (1L, Array(0.0f, 1.0f), 7),   // query with no same-label candidate
      (12L, Array(0.0f, 0.9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = queries.SimilarityQueries.mrrEvalOf(emb).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(0L).getAs[Int]("first_hit_rank") === 2)
    assert(got(0L).getAs[Double]("rr") === 0.5)
    assert(got(1L).isNullAt(got(1L).fieldIndex("first_hit_rank")))
    assert(got(1L).getAs[Double]("rr") === 0.0)
  }

  test("growthAccounting: planted year gaps split new/retained/resurrected/churned") {
    val s = spark; import s.implicits._
    // u1 active 1995,1996; u2 active 1995 only (churns in 96);
    // u3 active 1995, skips 96, returns 97 (resurrected)
    val orders = Seq(
      (1L, 1L, "1995-03-01"), (2L, 1L, "1996-05-01"),
      (3L, 2L, "1995-07-01"),
      (4L, 3L, "1995-02-01"), (5L, 3L, "1997-08-01"))
      .map { case (ok, ck, d) =>
        (ok, ck, java.sql.Timestamp.valueOf(s"$d 00:00:00"))
      }.toDF("o_orderkey", "o_custkey", "o_orderdate")
    val got = queries.ExtensionQueries.growthAccountingOf(orders).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(got(1995).getAs[Long]("active") === 3L)
    assert(got(1995).getAs[Long]("new_users") === 3L)
    assert(got(1995).isNullAt(got(1995).fieldIndex("churned")))
    assert(got(1996).getAs[Long]("retained") === 1L)
    assert(got(1996).getAs[Long]("churned") === 2L) // u2 and u3 went quiet
    assert(got(1996).getAs[Double]("quick_ratio") === 0.0)
    assert(got(1997).getAs[Long]("resurrected") === 1L) // u3 returns
    assert(got(1997).getAs[Long]("churned") === 1L)     // u1 quiet in 97
    assert(got(1997).getAs[Double]("quick_ratio") === 1.0)
  }

  test("ebRates: planted rates 1/2/2/3 give Gamma(6,3) prior and exact posteriors") {
    val s = spark; import s.implicits._
    val customer = (0 until 8).map(i => (i.toLong, i / 2))
      .toDF("c_custkey", "c_nationkey")
    // nation rates: 1, 2, 2, 3 orders/customer → m=2, v=2/3 → α=6, β=3
    val ks = Seq(0 -> 2, 1 -> 4, 2 -> 4, 3 -> 6)
    val orders = ks.flatMap { case (nat, k) =>
      (1 to k).map(i => (nat * 100L + i, (nat * 2).toLong))
    }.toDF("o_orderkey", "o_custkey")
    val got = queries.ExtensionQueries.ebRatesOf(customer, orders).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(got(0).getAs[Double]("alpha") === 6.0)
    assert(got(0).getAs[Double]("beta") === 3.0)
    assert(got(0).getAs[Double]("raw_rate") === 1.0)
    assert(got(0).getAs[Double]("eb_rate") === 1.6)  // (2+6)/(2+3)
    assert(got(3).getAs[Double]("eb_rate") === 2.4)  // (6+6)/(2+3)
  }

  test("recordHighs: 10/20/15/30 sets three records vs H4") {
    val s = spark; import s.implicits._
    val orders = Seq(("1996-01-01", 10.0), ("1996-01-02", 20.0),
      ("1996-01-03", 15.0), ("1996-01-04", 30.0)).zipWithIndex
      .map { case ((d, v), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(s"$d 00:00:00"), v)
      }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val r = queries.ExtensionQueries.recordHighsOf(orders).collect()(0)
    assert(r.getAs[Long]("n_days") === 4L)
    assert(r.getAs[Long]("n_records") === 3L)
    assert(r.getAs[String]("last_record_day") === "1996-01-04")
    assert(r.getAs[Double]("expected_records") === 2.0833) // H4
    assert(r.getAs[Double]("record_ratio") === 1.44)
  }

  test("taylorLaw: planted v = m^2/2 recovers slope 2, R^2 1") {
    val s = spark; import s.implicits._
    val customer = Seq((0L, 0), (1L, 1), (2L, 2))
      .toDF("c_custkey", "c_nationkey")
    // monthly counts per nation: (1,3), (2,6), (4,12) → v = m²/2
    val plan = Seq((0L, "1996-01", 1), (0L, "1996-02", 3),
      (1L, "1996-01", 2), (1L, "1996-02", 6),
      (2L, "1996-01", 4), (2L, "1996-02", 12))
    val orders = plan.flatMap { case (ck, mo, k) =>
      (1 to k).map(i => (ck * 1000 + mo.hashCode.abs % 100 + i * 13L, ck,
        java.sql.Timestamp.valueOf(s"$mo-05 00:00:00")))
    }.zipWithIndex.map { case ((_, ck, ts), i) => (i.toLong, ck, ts) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val r = queries.ExtensionQueries.taylorLawOf(orders, customer).collect()(0)
    assert(r.getAs[Long]("n_groups") === 3L)
    assert(r.getAs[Double]("slope") === 2.0)
    assert(r.getAs[Double]("r2") === 1.0)
    assert(math.abs(r.getAs[Double]("intercept_ln") + 0.6931) < 1e-3)
  }

  test("reciprocity: two of three directed edges are mutual") {
    val s = spark; import s.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val r = queries.SimilarityQueries.reciprocityOnEdges(edges).collect()(0)
    assert(r.getAs[Long]("n_edges") === 3L)
    assert(r.getAs[Long]("n_mutual") === 2L)
    assert(r.getAs[Double]("reciprocity") === 0.666667)
  }

  test("potGpd: 20 ramp days give the closed-form GPD moments") {
    val s = spark; import s.implicits._
    val orders = (1 to 20).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"1996-01-$i%02d 00:00:00"), i.toDouble))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val r = queries.ExtensionQueries.potGpdOf(orders).collect()(0)
    assert(r.getAs[Double]("threshold") === 18.0) // rank-picked q90
    assert(r.getAs[Long]("n_exceed") === 2L)      // 19, 20
    assert(r.getAs[Double]("mean_excess") === 1.5)
    // m=150c, v=5000c² → ξ = (1 − 4.5)/2, σ = 150·5.5/2 = 412.5c
    assert(r.getAs[Double]("xi") === -1.75)
    assert(r.getAs[Double]("sigma") === 4.13)
  }

  test("permutationEntropy: alternating series uses exactly two patterns") {
    val s = spark; import s.implicits._
    val orders = (1 to 12).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"1996-01-$i%02d 00:00:00"),
        if (i % 2 == 1) 1.0 else 2.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val r = queries.ExtensionQueries.permutationEntropyOf(orders).collect()(0)
    assert(r.getAs[Long]("n_windows") === 10L)
    assert(r.getAs[Long]("n_patterns") === 2L)
    assert(r.getAs[Double]("h") === 0.693147)       // ln 2
    assert(r.getAs[Double]("h_norm") === 0.333333)  // ln2/ln8
  }

  test("maxDrawdown: 10/30/5/20 falls 25 from the day-2 peak") {
    val s = spark; import s.implicits._
    val orders = Seq(10.0, 30.0, 5.0, 20.0).zipWithIndex.map { case (v, i) =>
      (i.toLong, java.sql.Timestamp.valueOf(f"1996-01-${i + 1}%02d 00:00:00"), v)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val r = queries.ExtensionQueries.maxDrawdownOf(orders).collect()(0)
    assert(r.getAs[Double]("max_drawdown") === 25.0)
    assert(r.getAs[Double]("peak_revenue") === 30.0)
    assert(r.getAs[String]("peak_day") === "1996-01-02")
    assert(r.getAs[String]("trough_day") === "1996-01-03")
    assert(r.getAs[Int]("days_underwater") === 1)
  }

  test("priceIndex: planted basket gives Laspeyres 5/3, Paasche 4/3") {
    val s = spark; import s.implicits._
    // (part, month, unit price, qty); extendedprice = p·q
    val rows = Seq(
      (1L, "1996-01", 2.0, 10L), (2L, "1996-01", 1.0, 10L),
      (1L, "1996-02", 4.0, 5L), (2L, "1996-02", 1.0, 20L))
    val lineitem = rows.zipWithIndex.map { case ((p, mo, pr, q), i) =>
      (i.toLong, p, q.toDouble, pr * q,
        java.sql.Timestamp.valueOf(s"$mo-15 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
      "l_shipdate")
    val got = queries.ExtensionQueries.priceIndexOf(lineitem).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("1996-01").getAs[Double]("laspeyres") === 1.0)
    assert(got("1996-01").getAs[Double]("fisher") === 1.0)
    assert(got("1996-02").getAs[Double]("laspeyres") === 1.6667)
    assert(got("1996-02").getAs[Double]("paasche") === 1.3333)
    assert(got("1996-02").getAs[Double]("fisher") === 1.4907)
  }

  test("abcXyz: planted revenue shares and CVs land in AX/BY/CZ") {
    val s = spark; import s.implicits._
    def li(id: Long, part: Long, mo: String, q: Double, ep: Double) =
      (id, part, q, ep, 0.0, java.sql.Timestamp.valueOf(s"$mo-10 00:00:00"))
    val lineitem = Seq(
      li(1, 1, "1996-01", 5, 40.0), li(2, 1, "1996-02", 5, 40.0), // A, cv 0 → X
      li(3, 2, "1996-01", 2, 3.0), li(4, 2, "1996-02", 8, 12.0),  // B, cv .849 → Y
      li(5, 3, "1996-01", 1, 5.0)                                  // C, 1 month → Z
    ).toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
      "l_discount", "l_shipdate")
    val got = queries.ExtensionQueries.abcXyzOf(lineitem).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got.keySet === Set(("A", "X"), ("B", "Y"), ("C", "Z")))
    assert(got(("A", "X")).getAs[Double]("revenue") === 80.0)
    assert(got(("A", "X")).getAs[Double]("revenue_share") === 0.8)
    assert(got(("B", "Y")).getAs[Long]("n_parts") === 1L)
  }

  test("stickiness: 2-day month with DAU 2,1 over MAU 2 gives 0.75") {
    val s = spark; import s.implicits._
    def e(u: Long, d: Int) =
      (u, java.sql.Timestamp.valueOf(f"1996-01-$d%02d 10:00:00"), "click")
    val events = Seq(e(1, 1), e(2, 1), e(1, 2))
      .toDF("user_id", "ts", "event_type")
    val r = queries.ExtensionQueries.stickinessOf(events).collect()(0)
    assert(r.getAs[String]("month") === "1996-01")
    assert(r.getAs[Long]("n_days") === 2L)
    assert(r.getAs[Long]("mau") === 2L)
    assert(r.getAs[Double]("avg_dau") === 1.5)
    assert(r.getAs[Double]("stickiness") === 0.75)
  }

  test("icc: two separated noisy nations give the closed form 0.960784") {
    val s = spark; import s.implicits._
    val customer = Seq((1L, 0, 0.0), (2L, 0, 2.0), (3L, 1, 10.0), (4L, 1, 12.0))
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
    val r = queries.ExtensionQueries.iccOf(customer).collect()(0)
    assert(r.getAs[Double]("msb") === 1000000.0) // cents²
    assert(r.getAs[Double]("msw") === 20000.0)
    assert(r.getAs[Double]("icc1") === 0.960784)
  }

  test("metaAnalysis: two identical-effect regions pool with zero heterogeneity") {
    val s = spark; import s.implicits._
    val all = (1L to 50000L)
    def pick(reg: Int, treated: Boolean, k: Int) =
      all.filter(x => (bucket(x) < 50) == treated)
        .filter(x => x % 2 == reg % 2).take(k)
    // per region: treated spends {10,12}, control {5,7} → eff 5, v 2
    val regs = Seq(0, 1)
    val custRows = regs.flatMap { rg =>
      (pick(rg, treated = true, 2) ++ pick(rg, treated = false, 2))
        .map(k => (k, rg))
    }
    val customer = custRows.toDF("c_custkey", "c_nationkey")
    val spends = Seq(10.0, 12.0, 5.0, 7.0)
    val orders = regs.flatMap { rg =>
      val ks = pick(rg, treated = true, 2) ++ pick(rg, treated = false, 2)
      ks.zip(spends).map { case (k, v) => (k * 10 + rg, k, v) }
    }.toDF("o_orderkey", "o_custkey", "o_totalprice")
    val nation = Seq((0, 0), (1, 1)).toDF("n_nationkey", "n_regionkey")
    val region = Seq((0, "R0"), (1, "R1")).toDF("r_regionkey", "r_name")
    val r = queries.ExtensionQueries
      .metaAnalysisOf(customer, orders, nation, region).collect()(0)
    assert(r.getAs[Long]("k") === 2L)
    assert(r.getAs[Double]("theta_fixed") === 5.0)
    assert(r.getAs[Double]("q_stat") === 0.0)
    assert(r.getAs[Double]("tau2") === 0.0)
    assert(r.getAs[Double]("i2") === 0.0)
  }

  test("cochranQ: raters with rates 2/2/0 over four docs give Q = 2") {
    val s = spark; import s.implicits._
    val longTok = "w" * 250                      // r1 only
    val manyToks = Seq.fill(45)("ab").mkString(" ") // r2 only (135 chars)
    val docs = Seq((1L, longTok), (2L, longTok), (3L, manyToks), (4L, manyToks))
      .toDF("doc_id", "text")
    val r = TextQueries.cochranQOf(docs).collect()(0)
    assert(r.getAs[Long]("c1") === 2L)
    assert(r.getAs[Long]("c2") === 2L)
    assert(r.getAs[Long]("c3") === 0L)
    assert(r.getAs[Double]("q_stat") === 2.0)
    assert(!r.getAs[Boolean]("reject_5pct"))
  }

  test("keyness: each source's private term tops its G2 list") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "alpha alpha beta", "s0"), (2L, "alpha beta beta", "s0"),
      (3L, "gamma gamma beta", "s1"), (4L, "gamma beta beta", "s1"))
      .toDF("doc_id", "text", "source")
    val got = TextQueries.keynessOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("g2")).toMap
    assert(got.contains(("s0", "alpha")))
    assert(got.contains(("s1", "gamma")))
    assert(got(("s0", "alpha")) === got(("s1", "gamma"))) // symmetric plant
    assert(got(("s0", "alpha")) > 0.0)
    assert(!got.keySet.exists(_._2 == "beta")) // balanced term: never over-rep
  }

  test("lifeTable: spans 0,0,1,2 give the closed-form lx/qx/ex columns") {
    val s = spark; import s.implicits._
    def o(id: Long, ck: Long, y: Int) =
      (id, ck, java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00"))
    val orders = Seq(o(1, 1, 1995), o(2, 2, 1996), // spans 0
      o(3, 3, 1995), o(4, 3, 1996),                // span 1
      o(5, 4, 1995), o(6, 4, 1997))                // span 2
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val got = queries.ExtensionQueries.lifeTableOf(orders).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(got(0).getAs[Long]("lx") === 4L)
    assert(got(0).getAs[Double]("qx") === 0.5)
    assert(got(0).getAs[Double]("ex") === 1.25) // (2+1)/4 + 0.5
    assert(got(1).getAs[Double]("ex") === 1.0)
    assert(got(2).getAs[Double]("qx") === 1.0)
    assert(got(2).getAs[Double]("ex") === 0.5)
  }

  test("variogram: alternating days give gamma(1)=0.5, gamma(2)=0") {
    val s = spark; import s.implicits._
    val orders = (1 to 10).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"1996-01-$i%02d 00:00:00"),
        if (i % 2 == 1) 1.0 else 2.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val got = queries.ExtensionQueries.variogramOf(orders).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(got(1).getAs[Long]("n_pairs") === 9L)
    assert(got(1).getAs[Double]("gamma") === 0.5)
    assert(got(2).getAs[Double]("gamma") === 0.0)
  }

  test("blandAltman: planted ±1-dollar diffs give bias 0 and the exact LoA") {
    val s = spark; import s.implicits._
    // header totals all 100; line totals 101, 99, 100, 100 (disc=tax=0)
    val orders = (1L to 4L).map(k => (k, 100.0))
      .toDF("o_orderkey", "o_totalprice")
    val lineTotals = Seq(101.0, 99.0, 100.0, 100.0)
    val lineitem = lineTotals.zipWithIndex.map { case (v, i) =>
      ((i + 1).toLong, v, 0.0, 0.0)
    }.toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    val r = queries.ExtensionQueries.blandAltmanOf(orders, lineitem).collect()(0)
    assert(r.getAs[Long]("n") === 4L)
    assert(r.getAs[Double]("bias") === 0.0)
    assert(r.getAs[Double]("sd_diff") === 0.8165)   // √(2/3)
    assert(r.getAs[Double]("loa_upper") === 1.6003)
    assert(r.getAs[Double]("share_outside") === 0.0)
  }

  test("processCapability: two symmetric values give Cp = Cpk = 47.1405") {
    val s = spark; import s.implicits._
    val orders = Seq((1L, 249000.0), (2L, 251000.0))
      .toDF("o_orderkey", "o_totalprice")
    val r = queries.ExtensionQueries.processCapabilityOf(orders).collect()(0)
    assert(r.getAs[Double]("mean") === 250000.0)
    assert(r.getAs[Double]("sigma") === 1414.21)
    assert(r.getAs[Double]("cp") === 47.1405)
    assert(r.getAs[Double]("cpk") === 47.1405)
    assert(r.getAs[Double]("share_out_of_spec") === 0.0)
  }

  test("bcgMatrix: leader with growth is a star; laggards are dogs") {
    val s = spark; import s.implicits._
    val customer = Seq((0L, 0), (1L, 1), (2L, 2)).toDF("c_custkey", "c_nationkey")
    val nation = Seq((0, 0, "NA"), (1, 0, "NB"), (2, 0, "NC"))
      .toDF("n_nationkey", "n_regionkey", "n_name")
    val region = Seq((0, "R0")).toDF("r_regionkey", "r_name")
    def o(id: Long, ck: Long, mo: String, v: Double) =
      (id, ck, java.sql.Timestamp.valueOf(s"$mo-05 00:00:00"), v)
    val orders = Seq(
      o(1, 0, "1997-01", 100.0), o(2, 0, "2000-01", 200.0), // A: growth 1.0
      o(3, 1, "1997-01", 100.0), o(4, 1, "2000-01", 50.0),  // B: growth −0.5
      o(5, 2, "1997-01", 10.0), o(6, 2, "2000-01", 10.0))   // C: growth 0
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val got = queries.ExtensionQueries
      .bcgMatrixOf(orders, customer, nation, region).collect()
      .map(r => r.getString(1) -> r).toMap
    assert(got("NA").getAs[Double]("rel_share") === 2.0) // 300 vs runner-up 150
    assert(got("NA").getAs[String]("quadrant") === "star")
    assert(got("NB").getAs[Double]("rel_share") === 0.5)
    assert(got("NB").getAs[String]("quadrant") === "dog")
    assert(got("NC").getAs[String]("quadrant") === "dog") // growth 0 not > 0
  }

  test("hillDiversity: counts a:2 b:1 c:1 give the closed Hill profile") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val r = TextQueries.hillDiversityOf(docs).collect()(0)
    assert(r.getAs[Long]("n_tokens") === 4L)
    assert(r.getAs[Long]("s_obs") === 3L)
    assert(r.getAs[Double]("hill_q1") === 2.83)  // e^H
    assert(r.getAs[Double]("hill_q2") === 2.67)  // 16/6
    assert(r.getAs[Double]("evenness") === 0.9464)
  }

  test("termBurstiness: clumped term scores cf/df 3; singleton-df term excluded") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "b b b a"), (2L, "b b b a"), (3L, "b b b a only only only"))
      .toDF("doc_id", "text")
    val got = TextQueries.termBurstinessOf(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("b").getAs[Double]("burstiness") === 3.0)
    assert(got("b").getAs[Long]("cf") === 9L)
    assert(got("a").getAs[Double]("burstiness") === 1.0)
    assert(!got.contains("only")) // df 1 < min df 3
  }

  test("moranI: clustered values give I = 1, anti-clustered give −1") {
    val s = spark; import s.implicits._
    val values = Seq((1L, 1.0), (2L, 1.0), (3L, 3.0), (4L, 3.0))
      .toDF("vec_id", "x")
    val clustered = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val r1 = queries.SimilarityQueries.moranIOnEdges(clustered, values)
      .collect()(0)
    assert(r1.getAs[Double]("moran_i") === 1.0)
    assert(r1.getAs[Double]("expected_i") === -0.333333)
    val anti = Seq((1L, 3L), (2L, 4L)).toDF("src", "dst")
    val r2 = queries.SimilarityQueries.moranIOnEdges(anti, values).collect()(0)
    assert(r2.getAs[Double]("moran_i") === -1.0)
  }

  test("seasonalMannKendall: two rising seasons over three years give S=6") {
    val s = spark; import s.implicits._
    def o(id: Long, y: Int, m: Int, v: Double) =
      (id, java.sql.Timestamp.valueOf(f"$y-$m%02d-10 00:00:00"), v)
    val orders = (for {
      (y, i) <- Seq(1995, 1996, 1997).zipWithIndex
      m <- Seq(1, 2)
    } yield o((y * 10 + m).toLong, y, m, (i + 1).toDouble))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val r = queries.ExtensionQueries.seasonalMannKendallOf(orders).collect()(0)
    assert(r.getAs[Long]("n_seasons") === 2L)
    assert(r.getAs[Long]("s") === 6L)
    assert(r.getAs[Double]("var_s") === 7.33)
    assert(r.getAs[Double]("z") === 1.8464)
    assert(r.getAs[String]("trend") === "none")
  }

  test("zeroInflation: 8 zero days against lambda 1 score as inflated") {
    val s = spark; import s.implicits._
    val customer = Seq((1L, 0), (2L, 5)).toDF("c_custkey", "c_nationkey")
    // nation 0: 5 orders on day 3 and day 7; span pinned to 10 days
    // by nation-5 orders on days 1 and 10
    val orders = ((1 to 5).map(i => (i.toLong, 1L, "1996-01-03"))
      ++ (6 to 10).map(i => (i.toLong, 1L, "1996-01-07"))
      ++ Seq((90L, 2L, "1996-01-01"), (91L, 2L, "1996-01-10")))
      .map { case (id, ck, d) =>
        (id, ck, java.sql.Timestamp.valueOf(s"$d 00:00:00"))
      }.toDF("o_orderkey", "o_custkey", "o_orderdate")
    val r = queries.ExtensionQueries.zeroInflationOf(orders, customer)
      .collect()(0)
    assert(r.getAs[Long]("n_days") === 10L)
    assert(r.getAs[Long]("n_zero") === 8L)
    assert(r.getAs[Double]("lambda") === 1.0)
    assert(r.getAs[Double]("expected_zero") === 3.68)
    assert(math.abs(r.getAs[Double]("score_stat") - 19.209) < 0.01)
    assert(r.getAs[Boolean]("zero_inflated"))
  }

  test("keyGaps: a half-lost interior chunk is the sparsest bucket") {
    val s = spark; import s.implicits._
    val keys = (1L to 10L) ++ (15000L to 15004L) ++ (30001L to 30010L)
    val orders = keys.map(k => Tuple1(k)).toDF("o_orderkey")
    val r = queries.ExtensionQueries.keyGapsOf(orders).collect()(0)
    assert(r.getAs[Long]("n") === 25L)
    assert(r.getAs[Long]("n_missing") === 30010L - 25L)
    assert(r.getAs[Long]("sparsest_bucket") === 10000L)
    assert(r.getAs[Long]("sparsest_count") === 5L)
    assert(r.getAs[Double]("sparsest_density") === 0.0005)
  }

  test("cChart: one spike day breaches the Poisson UCL") {
    val s = spark; import s.implicits._
    val plan = Seq((1, 3), (2, 3), (3, 3), (4, 30))
    val events = plan.flatMap { case (d, k) =>
      (1 to k).map(i =>
        ("purchase", java.sql.Timestamp.valueOf(f"1996-01-$d%02d 09:00:00"), i))
    }.toDF("event_type", "ts", "event_id")
    val r = queries.ExtensionQueries.cChartOf(events).collect()(0)
    assert(r.getAs[Long]("n_days") === 4L)
    assert(r.getAs[Double]("lambda") === 9.75)
    assert(r.getAs[Double]("ucl") === 19.1175)
    assert(r.getAs[Long]("n_above") === 1L)
    assert(r.getAs[Long]("n_below") === 0L)
    assert(r.getAs[String]("worst_day") === "1996-01-04")
    assert(r.getAs[Long]("worst_count") === 30L)
  }

  test("winnowing report is green end-to-end on the planted corpus") {
    val s = spark; import s.implicits._
    val boiler = "all rights reserved contact us at example dot com"
    val sharedRare = "winnowing guarantees matches of length k plus w minus one"
    val docs = (1 to 30).map { i =>
      val extra = if (i == 5 || i == 9) s" $sharedRare $sharedRare" else ""
      (i.toLong, s"$boiler unique marker ${i * 104729}$extra")
    }.toDF("doc_id", "text")
    val out = TextQueries.winnowingOf(docs).collect()
    // docs 5 and 9 share the rare passage → must be the top pair
    assert(out.nonEmpty)
    assert(out.head.getAs[Long]("doc_a") === 5L)
    assert(out.head.getAs[Long]("doc_b") === 9L)
    assert(out.head.getAs[Long]("shared") > 0L)
  }
}
