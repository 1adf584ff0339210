package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
object Bench {

  /** One-line driver-channel JSON. Contract (unit-tested, BenchJsonSpec):
    * 3-decimal per-query seconds keep the line compact — with 67+
    * queries the 9-decimal form grew past ~2.4 KB and the driver's
    * capture tail truncated the line's HEAD, killing the parse; ms
    * precision is all the channel needs. metric/value come AFTER the
    * queries map, so if a capture window still truncates from the
    * front, the headline fields survive at the tail end of the line.
    * Failures (-1 markers) are excluded from the total rather than
    * silently shrinking it; they remain visible per-query. Keys are emitted in sorted order so two
    * captures of the same surface are byte-comparable. */
  private def r3(v: Double): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private[graft] def renderJson(results: Map[String, Double], sfDir: String): String = {
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    s"""{"unit":"sec","queries":$qs,"sf":"$sfDir","metric":"total","value":${r3(total)}}"""
  }

  /** Per-query MEDIAN of the successful reps: a one-rep capture leaves
    * every comparison to adjudicate ~2× same-code host spread. With 3
    * reps the middle value sheds a single contended rep in either
    * direction; -1 only if every rep failed. For an even success count
    * the UPPER middle is taken — conservative, never reports a
    * best-case. */
  private[graft] def median(ts: Seq[Double]): Double = {
    val ok = ts.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0 else ok(ok.size / 2)
  }

  /** Contention-window flag: one driver capture ran through a
    * ~20-minute host-contention window that blew 13
    * alphabetically-contiguous keys on ALL THREE reps — a per-key
    * median cannot shed a bad WINDOW, only a bad rep. The defense is a
    * cheap fixed canary probe interleaved through the pass: a key is
    * suspect iff EITHER canary bracketing its measurement ran >
    * `factor`× the run's LOWER-QUARTILE probe. Why p25 and not min or
    * median: probe cost carries ~1.5× residual noise from the JVM/GC
    * state the previous key left behind (measured on the first live
    * run — min-base flagged every key), so the base must be a robust
    * cool-regime estimate; and a long stress window covers a MINORITY
    * of keys even when it covers most of the wall clock (stressed keys
    * run slower, so fewer fit inside the window — a 5-min window over
    * a ~7-min surface pass windows ~30-40% of keys), so the cool
    * quartile survives windows a median would not. A uniformly-hot run
    * (p25 ≈ window) correctly flags nothing — uniform regimes are what
    * the cross-round canary normalization in bench.json's `_canary`
    * field handles. Pure so the policy is unit-testable: `probes(j)`
    * is the canary before key block j (keys i with i/every == j) and
    * `probes(j+1)` the one after it; the last block is bracketed by
    * the final post-pass probe. */
  private[graft] def flaggedIdx(n: Int, probes: IndexedSeq[Double],
      every: Int, factor: Double): Seq[Int] = {
    if (n == 0 || probes.isEmpty) return Nil
    val base = probes.sorted.apply(probes.size / 4)
    (0 until n).filter { i =>
      val j = i / every
      val before = probes(math.min(j, probes.size - 1))
      val after = probes(math.min(j + 1, probes.size - 1))
      math.max(before, after) > factor * base
    }
  }

  /** Merge policy for a flagged key's post-pass re-measurement: the
    * element-wise BETTER (lower) median — a re-run landing in a second
    * hot window can never make the reported value worse, and a clean
    * re-run replaces the blown one. -1 (all-failed) never wins over a
    * real measurement. */
  private[graft] def betterMedian(a: Double, b: Double): Double =
    if (a < 0) b else if (b < 0) a else math.min(a, b)

  /** Fixed ~0.15s host-regime probe: a small shuffle+sort over
    * `range` whose cost tracks CPU/scheduler contention and nothing
    * else — no table reads, no scratch state, no query family's pins.
    * Its value is meaningless in absolute terms; only the ratio to the
    * run's own best probe matters, so the flag threshold is immune to
    * host-class differences. */
  private def canaryProbe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val t0 = System.nanoTime()
    spark.range(8000000L)
      .selectExpr("id % 997 AS k", "id % 31 AS v")
      .groupBy("k").agg(fsum(col("v")).as("s"))
      .orderBy("k").count()
    (System.nanoTime() - t0) / 1e9
  }

  /** The one-time family trunks, in build order. Each is timed under its
    * own `_setup_<name>` label, so no query absorbs family-shared cost by
    * iteration luck and two runs attribute a trunk to the same label. */
  private[graft] val setups: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // collapse → signatures → banding → verify → component labels
    "dedup_trunk" -> queries.DedupQueries.materializeTrunk,
    // one corpus tokenize pass shared by tfidf/bm25/dirichlet/rocchio/
    // postings/phrase and the shortlist consumers, plus the df.cf
    // vocabulary riders (bpe_train, self_bleu's unigram tier)
    "postings_trunk" -> queries.TextQueries.materializePostingsTrunk,
    // the graph family's adjacency trunks: und (oriented) + sym +
    // weighted, and the knn-edges pin q_knn_graph reads directly
    "graph_adj" -> queries.SimilarityQueries.materializeGraphAdj,
    // mutual edges + component labels, read by semantic_clusters and
    // modularity
    "semclust" -> queries.SimilarityQueries.materializeSemClust,
    // the seeded-centrality family's forward-BFS trunk
    "seeded_bfs" -> queries.SimilarityQueries.materializeSeededBfs,
    // verified set-similarity pairs: setsim_prefix and lsh_recall's
    // exact ground-truth tier read them
    "setsim" -> queries.TextQueries.materializeSetsim,
    // the trainer family's feature/teacher trunks: ~25 classifier/eval
    // keys plus ppmi_embed
    "lr_feats" -> queries.TextQueries.materializeLrFeats,
    // the media family's verified-pair trunk
    "media_pairs" -> queries.MultimodalQueries.materializeMediaPairs,
    // the clustering-evaluation family's fitted Lloyd assignment
    "km_fit" -> queries.SimilarityQueries.materializeKmFit,
    // the basket-mining family's items + supported-pairs trunk
    "baskets" -> queries.ExtensionQueries.materializeBaskets)

  /** Keyed-trunk tags whose build count rose between two
    * [[Tables.pinBuildSnapshot]]s, sorted. */
  private[graft] def builtBetween(before: Map[String, Int],
      after: Map[String, Int]): Seq[String] =
    after.collect { case (tag, n) if n > before.getOrElse(tag, 0) => tag }.toSeq.sorted

  /** Janino compiles in this JVM so far, driver and executors alike:
    * (count, total ns). Spark's codegen cache holds
    * `spark.sql.codegen.cache.maxEntries` classes per class loader, so
    * a key whose plans miss it pays a compile on every rep. */
  private def compiles(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the driver's documented environment (local[32],
    // shuffle.partitions=32); SPARK_GRAFT_CPUS overrides for scaling
    // experiments
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shuffle-partition override for scale rehearsals: the driver
    // contract pins 32 at sf0.1; at 10×+ data the same 32 makes the
    // heaviest shuffles (the dedup trunk's shingle→signature
    // aggregation) spill — the knob a real cluster turns with data size
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    // SPARK_GRAFT_AQE=false captures an adaptive-off run, proving no
    // plan silently depends on AQE's runtime re-planning
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val spark = GraftSession(cpus.toInt, Some(shuffle.toInt), aqe.toBoolean)
    GraftSession.warmUp(spark, sfDir)
    // comma-separated key filter for targeted re-medians — absent means
    // the full surface
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Under SPARK_GRAFT_BENCH_ONLY a setup runs only when its label is
    // listed, so a targeted re-median does not pay ~30s of unrelated
    // one-time builds. A selected key whose trunk was skipped builds it
    // inside rep 1 (reported on stderr); the 3-rep median sheds that rep.
    val setupTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for ((name, build) <- setups; label = s"_setup_$name" if only.forall(_.contains(label))) {
      val t0 = System.nanoTime()
      try { build(spark, sfDir); setupTimes(label) = (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $label FAILED: ${e.getMessage}")
        setupTimes(label) = -1.0
      }
    }
    val setup: Map[String, Double] = setupTimes.toMap
    GraftSession.dropCached(spark)
    // sorted key order: per-query timings comparable across rounds —
    // map-iteration order previously decided which query followed which
    // (and, pre-trunk-split, who paid shared costs)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def measure(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Seq[Double] = {
      val compiled = scala.collection.mutable.ArrayBuffer.empty[String]
      val secs = (1 to reps).map { rep =>
        val built = Tables.pinBuildSnapshot()
        val (n0, ns0) = compiles()
        val t0 = System.nanoTime()
        // a failed query must NOT masquerade as a fast one: record -1
        // (and say so on stderr) instead of its time-to-crash
        val sec =
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
          }
        val (n1, ns1) = compiles()
        compiled += s"${n1 - n0} (${(ns1 - ns0) / 1000000} ms)"
        builtBetween(built, Tables.pinBuildSnapshot()).foreach { tag =>
          System.err.println(s"[bench] $name built trunk $tag inside rep $rep")
        }
        // each measurement starts cold, so numbers are stable and
        // independent
        GraftSession.dropCached(spark)
        sec
      }
      System.err.println(s"[bench] $name compiled per rep: ${compiled.mkString(", ")}")
      secs
    }
    // canary cadence/threshold knobs; a probe costs
    // ~0.15s, so every-5 adds ~3% to a full-surface pass
    val canEvery = sys.env.getOrElse("SPARK_GRAFT_BENCH_CANARY_EVERY", "5").toInt
    // 1.4, strictly TIGHTER than the 1.5× normal band the chaos check
    // compares against: the first chaos run measured two keys degraded
    // ~1.55× under probes reading ~1.55× base — a flag factor equal to
    // or above the band lets exactly that band-edge stratum through.
    // A spurious flag only costs one bounded re-run (better-median can
    // never worsen a value); a missed flag ships a blown median.
    val canFactor =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CANARY_FACTOR", "1.4").toDouble
    // default cap ≈ half the surface: a 5-min contention window over a
    // full pass windows ~30-40% of keys (see flaggedIdx), and a
    // correct capture is worth a one-off longer run at the gate
    val rerunMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUN_MAX", "250").toInt
    val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val probeEpochs = scala.collection.mutable.ArrayBuffer.empty[Long]
    def probe(): Unit = {
      probes += canaryProbe(spark)
      probeEpochs += System.currentTimeMillis() / 1000
    }
    // canary warmup (its own codegen path), then the opening probe
    canaryProbe(spark); canaryProbe(spark)
    probe()
    val repResults = selected.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % canEvery == 0) probe()
      name -> measure(name, fn)
    }
    probe() // closing bracket for the last key block
    val flagged = flaggedIdx(selected.size, probes.toIndexedSeq,
      canEvery, canFactor)
      .sortBy(i => -math.max(probes(math.min(i / canEvery, probes.size - 1)),
        probes(math.min(i / canEvery + 1, probes.size - 1))))
      .take(rerunMax).map(selected(_)._1).toSet
    // post-pass re-measurement of window-flagged keys, better median
    // wins; re-runs carry their own bracketing probes so the side
    // artifact shows whether the SECOND window was clean
    val reruns = selected.filter(t => flagged(t._1)).map { case (name, fn) =>
      probe()
      name -> measure(name, fn)
    }
    if (reruns.nonEmpty) probe()
    val rerunMed = reruns.map { case (n, ts) => n -> median(ts) }.toMap
    val results = setup ++
      repResults.map { case (n, ts) =>
        n -> rerunMed.get(n).fold(median(ts))(betterMedian(median(ts), _))
      } + ("_canary" -> median(probes.toSeq)) // the run's typical host regime
    // all raw reps + the canary timeline to a side artifact so the
    // spread AND the host regime under it are auditable: every capture
    // carries its own contention trace
    val repsJson = (repResults.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(r3).mkString(",") + "]"
    } ++ reruns.map { case (k, ts) =>
      "\"" + k + "__rerun\":[" + ts.map(r3).mkString(",") + "]"
    } ++ Seq(
      "\"_canary_timeline\":[" + probes.map(r3).mkString(",") + "]",
      "\"_canary_epochs\":[" + probeEpochs.mkString(",") + "]",
      "\"_flagged\":[" + flagged.toSeq.sorted.map("\"" + _ + "\"").mkString(",") + "]"
    )).mkString("{", ",", "}")
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench_reps.json"), repsJson + "\n")
    val json = renderJson(results, sfDir)
    // three channels so a parser can't miss it: stdout (sbt-wrapped
    // with [info]), the file at
    // `target/bench.json` (documented in README), and — emitted LAST,
    // after spark.stop() so no log line can trail it — bare JSON on
    // stderr, which sbt passes through un-prefixed
    println(json)
    val p = Paths.get(outPath)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, json + "\n")
    spark.stop()
    System.err.println(json)
    System.err.flush()
  }
}
