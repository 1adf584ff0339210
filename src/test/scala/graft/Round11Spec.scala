package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{ExtensionQueries, TextQueries}

/** Round-11 additions: the shared postings trunk (VERDICT r10 #1), the
  * durable-pin conversion (#2), the unpartitioned-window guard (#5),
  * the salted-join skew assertion (#6), and the ADVICE r10 expression
  * hardening. */
class Round11Spec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  // ------------------------------------------------- postings trunk

  test("postings trunk is written once and every retrieval consumer matches its in-lineage twin") {
    val docs = Tables(spark, sfDir, "documents")
    def postingsWrites = Tables.pinBuilds("postings-tf")
    val before = postingsWrites
    // first trunk consumer pays the write …
    val bmTrunk = rows(TextQueries.bm25(spark, sfDir))
    val wrote = postingsWrites
    assert(wrote == before + 1 || wrote == before) // may predate this test in a shared session
    // … every further consumer re-reads (no second write)
    val tfidfTrunk = rows(TextQueries.tfidfTopTerms(spark, sfDir))
    val phraseTrunk = rows(TextQueries.phraseSearch(spark, sfDir))
    val postTrunk = rows(TextQueries.postingsBuild(spark, sfDir))
    val dirTrunk = rows(TextQueries.dirichletQl(spark, sfDir))
    val prfTrunk = rows(TextQueries.rocchioPrf(spark, sfDir))
    assert(postingsWrites == wrote)
    // trunk-backed results are value-identical to the in-lineage path
    assert(bmTrunk == rows(TextQueries.bm25Of(docs)))
    assert(phraseTrunk == rows(TextQueries.phraseSearchOf(docs)))
    assert(postTrunk == rows(TextQueries.postingsBuildOf(docs)))
    assert(dirTrunk == rows(TextQueries.dirichletQlOf(docs)))
    assert(prfTrunk == rows(TextQueries.rocchioPrfOf(docs)))
    assert(tfidfTrunk.nonEmpty && bmTrunk.size == 50)
  }

  test("postings trunk stores sorted positions and tf == positions length") {
    val p = TextQueries.postingsTrunk(spark, sfDir)
    // NB sequence(0, -1) DESCENDS in Spark — guard the 1-token case
    val bad = p.tf.filter(
      size(col("positions")) =!= col("tf") ||
        (size(col("positions")) >= 2 &&
          expr("exists(sequence(0, size(positions) - 2), " +
            "i -> positions[i] >= positions[i + 1])")))
      .count()
    assert(bad == 0L)
    // dl/df are consistent with tf
    val dlBad = p.tf.groupBy("doc_id").agg(sum("tf").as("s"))
      .join(p.dl, "doc_id").filter(col("s") =!= col("dl")).count()
    val dfBad = p.tf.groupBy("term")
      .agg(count(lit(1)).as("c"), sum("tf").as("s"))
      .join(p.df, "term")
      .filter(col("c") =!= col("df") || col("s") =!= col("cf")).count()
    assert(dlBad == 0L && dfBad == 0L)
  }

  // -------------------------------------------- salted-join skew (#6)

  test("salting splits the hot key's row mass across shuffle partitions") {
    val s = spark
    import s.implicits._
    val S = 8
    val parts = 8
    // planted skew: one hot key carrying 96% of the probe side
    val hot = (1L to 24000L).map(i => (i, "hot"))
    val cold = (1L to 1000L).map(i => (24000L + i, s"cold${i % 4}"))
    val probe = (hot ++ cold).toDF("id", "k")
    val dim = Seq(("hot", 1.0), ("cold0", 2.0), ("cold1", 3.0),
      ("cold2", 4.0), ("cold3", 5.0)).toDF("k", "v")
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def maxPartition(df: DataFrame): Long =
        df.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().max
      // the q_salted_join construction, miniaturized: plain shuffle join
      // vs salt-the-probe + replicate-the-dim
      val plain = probe.repartition(parts, col("k"))
        .join(dim.hint("shuffle_hash"), Seq("k"))
      val salted = probe.withColumn("salt", pmod(hash(col("id")), lit(S)))
        .repartition(parts, col("k"), col("salt"))
        .join(dim.withColumn("salt", explode(expr(s"sequence(0, ${S - 1})")))
          .hint("shuffle_hash"), Seq("k", "salt"))
      val maxPlain = maxPartition(plain)
      val maxSalted = maxPartition(salted)
      // unsalted: the hot key's 24k rows land in ONE task
      assert(maxPlain >= 24000L)
      // salted: the hot key spreads over S (key, salt) combos — the
      // biggest task shrinks by ≥ 2× (deterministic: fixed murmur3 on
      // fixed values; observed ~S/2 combos per partition)
      assert(maxSalted * 2 <= maxPlain,
        s"salting did not split the hot key: plain=$maxPlain salted=$maxSalted")
      // and salting is a pure physical transform: same aggregate result
      val aggOf = (df: DataFrame) =>
        rows(df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv")).orderBy("k"))
      assert(aggOf(plain.select("k", "v")) == aggOf(salted.select("k", "v")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  // ------------------------------- unpartitioned-window guard (#5)

  test("every unpartitioned Window sits above a cardinality-bounding operator") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

    // Walk DOWN from an unpartitioned window: reaching a raw corpus
    // table scan (path under /root/testdata) WITHOUT crossing an
    // aggregate or a limit means the window globally sorts a
    // corpus-sized relation — the one shape the standing contract
    // forbids (a histogram/vocab aggregate or a shortlist limit must
    // bound it first). Pinned relations (RDD scans, scratch parquet)
    // terminate the walk: their boundedness is audited at the pin
    // sites (r11 durable-pin sweep).
    def corpusScan(p: SparkPlan): Option[String] = p match {
      case _: HashAggregateExec | _: ObjectHashAggregateExec |
           _: SortAggregateExec => None
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
           _: LocalLimitExec | _: CollectLimitExec => None
      case f: FileSourceScanExec =>
        val roots = f.relation.location.rootPaths.map(_.toString)
        roots.find(_.contains("/testdata/"))
      case r: ReusedExchangeExec => corpusScan(r.child)
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        import org.apache.spark.sql.catalyst.plans._
        val (l, r) = (corpusScan(j.left), corpusScan(j.right))
        j.joinType match {
          // inner: a bounded side bounds the output (the shortlist ⋈
          // corpus-lookup enrichment pattern, e.g. rag_pack's window
          // rides bm25's 50-row limit joined to per-doc token counts)
          case Inner => if (l.isEmpty || r.isEmpty) None else l.orElse(r)
          // row-preserving sides must themselves be bounded
          case LeftOuter | LeftSemi | LeftAnti | _: ExistenceJoin => l
          case RightOuter => r
          case _ => l.orElse(r)
        }
      case other => other.children.view.flatMap(corpusScan(_)).headOption
    }

    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val plan =
          try fn(spark, sfDir).queryExecution.executedPlan
          catch { case e: Throwable =>
            fail(s"$name failed to plan: ${e.getMessage}")
          }
        val unpartitioned = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w.child
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.child
        }
        unpartitioned.foreach { child =>
          corpusScan(child).foreach { path =>
            offenders += s"$name: unpartitioned window over corpus scan $path"
          }
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  // ------------------------------------------ round-11 wave operators

  test("holtLinear tracks an exactly linear series: level = x_n, trend = slope") {
    val s = spark
    import s.implicits._
    // x_t = 10 + 2t dollars on 20 consecutive days: Holt with
    // alpha=beta=1/2 reproduces the line exactly (l_t = x_t, b_t = 2)
    val evs = (1 to 20).map { t =>
      (t.toLong, java.sql.Timestamp.valueOf(f"2024-01-${t}%02d 12:00:00"),
        1L, "purchase", 10.0 + 2.0 * t, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = ExtensionQueries.holtLinearOf(evs).collect().head
    assert(r.getAs[Long]("n_days") == 20L)
    assert(r.getAs[Double]("level") == 50.0)   // x_20 = 10 + 40
    assert(r.getAs[Double]("trend") == 2.0)
    assert(r.getAs[Double]("forecast_1") == 52.0)
    assert(r.getAs[Double]("forecast_7") == 64.0)
  }

  test("croston on a planted intermittent series matches the hand fold") {
    val s = spark
    import s.implicits._
    // demand 4 on day 1 (i=0), 8 on day 5 (i=4), 6 on day 7 (i=6); span 8 days
    val orders = Seq(
      (1L, 0L, "O", 1.0, "1994-01-01", "1-URGENT"),
      (2L, 0L, "O", 1.0, "1994-01-01", "1-URGENT"),
      (3L, 0L, "O", 1.0, "1994-01-01", "1-URGENT"),
      (4L, 0L, "O", 1.0, "1994-01-01", "1-URGENT"),
      (5L, 0L, "O", 1.0, "1994-01-05", "1-URGENT"),
      (6L, 0L, "O", 1.0, "1994-01-05", "1-URGENT"),
      (7L, 0L, "O", 1.0, "1994-01-07", "1-URGENT"),
      (8L, 1L, "O", 1.0, "1994-01-08", "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val customer = Seq((0L, "c0", 0L, 1.0, "SEG"), (1L, "c1", 1L, 1.0, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    // nation-0 demands: z = (4, 2, 1) at i = (0, 4, 6); gaps q = (1, 4, 2)
    // half-EWMA fold: z: l1=4, l2=3, l3=2  |  q: l1=1, l2=2.5, l3=2.25
    val r = ExtensionQueries.crostonOf(orders, customer).collect().head
    assert(r.getAs[Long]("n_days") == 8L)
    assert(r.getAs[Long]("n_demands") == 3L)
    assert(r.getAs[Double]("z_hat") == 2.0)
    assert(r.getAs[Double]("q_hat") == 2.25)
    assert(r.getAs[Double]("croston_forecast") ==
      math.floor(2.0 / 2.25 * 1e6 + 0.5) / 1e6)
  }

  test("obrienFleming boundaries shrink to ~the fixed-horizon z and looks accumulate") {
    val rows = ExtensionQueries.obrienFleming(spark, sfDir).collect()
    assert(rows.map(_.getAs[Int]("look")).toSeq == Seq(1, 2, 3, 4))
    val bounds = rows.map(_.getAs[Double]("boundary"))
    assert(bounds.zip(bounds.tail).forall { case (a, b) => a > b })
    assert(math.abs(bounds.last - 2.024407) < 1e-6)
    val ns = rows.map(r => r.getAs[Long]("n_a") + r.getAs[Long]("n_b"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a <= b })
  }

  test("betweennessSeeds on a 5-node path equals exact Brandes (6, 8, 6, ends 0)") {
    val s = spark
    import s.implicits._
    val edges = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0))
      .toDF("src", "dst", "cos")
    val got = graft.queries.SimilarityQueries.betweennessOnEdges(edges)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("betweenness"))
      .toMap
    assert(got(2L) == 8.0 && got(1L) == 6.0 && got(3L) == 6.0)
    assert(got(0L) == 0.0 && got(4L) == 0.0)
  }

  test("tailSampling keeps rare types exactly and compresses common ones") {
    val rows = ExtensionQueries.tailSampling(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (r.getAs[Boolean]("is_rare")) {
        assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_exact"))
        assert(r.getAs[Long]("n_err_ppm") == 0L)
      } else {
        assert(r.getAs[Long]("n_kept") < r.getAs[Long]("n_exact"))
      }
    }
  }

  test("interleaving credit halves are conserved (2 per click) and the tournament is consistent") {
    val r = graft.queries.SimilarityQueries.interleaving(spark, sfDir).collect().head
    val (clicks, lex, sem) = (r.getAs[Long]("n_clicks"),
      r.getAs[Long]("lex_credit_halves"), r.getAs[Long]("sem_credit_halves"))
    assert(lex + sem == 2 * clicks)
    val winner = r.getAs[String]("winner")
    if (lex > sem) assert(winner == "lexical")
    else if (sem > lex) assert(winner == "semantic") else assert(winner == "tie")
    // successive halving: exactly 3 / 2 / 1 survivors
    val sh = TextQueries.successiveHalving(spark, sfDir).collect()
    assert(sh.count(_.getAs[Boolean]("r1_survived")) == 3)
    assert(sh.count(_.getAs[Boolean]("r2_survived")) == 2)
    assert(sh.count(_.getAs[Boolean]("is_winner")) == 1)
    // bcubed F1 lies between P and R; all in (0, 1]
    val b = graft.queries.SimilarityQueries.bcubedF1(spark, sfDir).collect().head
    val (p, rc, f) = (b.getAs[Double]("bcubed_precision"),
      b.getAs[Double]("bcubed_recall"), b.getAs[Double]("bcubed_f1"))
    assert(p > 0 && p <= 1 && rc > 0 && rc <= 1)
    assert(f >= math.min(p, rc) - 1e-6 && f <= math.max(p, rc) + 1e-6)
    // spectral entropy is a normalized [0,1] scalar with a real argmax
    val se = graft.queries.AnalyticsQueries.spectralEntropy(spark, sfDir)
      .collect().head
    assert(se.getAs[Double]("h_norm") >= 0.0 && se.getAs[Double]("h_norm") <= 1.0)
    assert(se.getAs[Double]("dominant_share") >= 0.1)
    // tiered coverage and WAND skippable shares are valid ppm
    val tp = TextQueries.tieredPostings(spark, sfDir).collect()
    assert(tp.forall(r2 => r2.getAs[Long]("coverage_ppm") <= 1000000L))
    val wb = TextQueries.wandBounds(spark, sfDir).collect()
    assert(wb.forall(r2 => r2.getAs[Long]("skippable_ppm") >= 0L
      && r2.getAs[Long]("skippable_ppm") <= 1000000L))
  }

  // --------------------------------------- ADVICE r10 hardening

  test("graft_might_contain accepts NULL operands and rejects per-row bloom columns") {
    graft.functions.BloomProbe.register(spark)
    // NULL bloom / NULL probe → NULL result, not an analysis failure
    val r = spark.sql(
      "SELECT graft_might_contain(CAST(NULL AS BINARY), 42L) AS a, " +
        "graft_might_contain(CAST(NULL AS BINARY), CAST(NULL AS BIGINT)) AS b")
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
    // a per-row (non-foldable, non-subquery) bloom column fails analysis
    val s = spark
    import s.implicits._
    Seq((Array[Byte](1, 2), 1L)).toDF("bf", "v").createOrReplaceTempView("g_bf_rows")
    val ex = intercept[Exception] {
      spark.sql("SELECT graft_might_contain(bf, v) FROM g_bf_rows").collect()
    }
    assert(ex.getMessage.contains("constant") || ex.getMessage.contains("foldable"))
  }

  test("winnow_fps folds constant integer args and raises analysis errors otherwise") {
    graft.functions.WinnowFps.register(spark)
    val s = spark
    import s.implicits._
    val df = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    df.createOrReplaceTempView("g_winnow_t")
    // foldable-but-not-literal args now work
    val a = spark.sql(
      "SELECT winnow_fps(text, CAST(8 AS INT), 2 + 2) AS w FROM g_winnow_t").collect()
    val b = spark.sql(
      "SELECT winnow_fps(text, 8, 4) AS w FROM g_winnow_t").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // a non-constant arg is an analysis error naming the function
    val ex = intercept[Exception] {
      spark.sql("SELECT winnow_fps(text, length(text), 4) FROM g_winnow_t").collect()
    }
    assert(ex.getMessage.contains("winnow_fps"))
  }
}
