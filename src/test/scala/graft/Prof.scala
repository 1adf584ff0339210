package graft

/** Ad-hoc per-query profiler: `runMain graft.Prof q_a q_b ...` times the
  * named [[SparkEntry.queries]] entries (default: the dedup pair) on
  * `SPARK_GRAFT_SF_DIR` under the same session config as [[Bench]],
  * with `SPARK_GRAFT_REPS` repetitions each — the iteration loop for
  * plan/perf work without paying for the full bench. */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val names = if (args.nonEmpty) args.toSeq else Seq("q_minhash_lsh", "q_simhash_pairs")
    val spark = GraftSession(cpus.toInt)
    GraftSession.warmUp(spark, sfDir)
    for (r <- 1 to reps; name <- names) {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[prof] rep$r $name%-24s $sec%7.2fs rows=$n")
      GraftSession.dropCached(spark)
    }
    spark.stop()
  }
}
