package graft

/** Sub-stage timing probe for the one-time trunk builds behind the
  * `_setup_*` bench labels: a setup label's total says nothing about
  * which of its internal stages dominates. Runs each [[Bench.setups]]
  * builder in bench order on a fresh session and prints the
  * [[StageTimes]] breakdown after each. Timings are observational
  * (nanoTime around writes that already happen); nothing in the
  * bench/verify contract changes. Usage:
  * `runMain graft.StageProbe [sfDir] [setupName ...] [q_key ...]`. */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.find(_.startsWith("/"))
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // so the first stage is not charged for JIT/executor-pool start-up
    GraftSession.warmUp(spark, sfDir)

    def probe(label: String)(f: => Unit): Unit = {
      StageTimes.reset()
      val t0 = System.nanoTime()
      f
      val total = (System.nanoTime() - t0) / 1e9
      println(f"== $label%-22s total ${total}%7.2f s")
      StageTimes.snapshot().foreach { case (n, s) =>
        println(f"   $n%-28s ${s}%7.2f s")
      }
    }

    // args starting with q_ probe a declared query (timed count + the
    // pin-write breakdown recorded during it); other args select which
    // setup families to probe (default: all)
    val queryArgs = args.toSeq.filter(_.startsWith("q_"))
    val setupArgs = args.toSeq.filterNot(a => a.startsWith("q_") || a.startsWith("/"))
    for ((name, build) <- Bench.setups
         if (queryArgs.isEmpty && setupArgs.isEmpty) || setupArgs.contains(name))
      probe(name) { build(spark, sfDir) }
    queryArgs.foreach { q =>
      probe(q) { SparkEntry.queries(q)(spark, sfDir).count(); () }
      GraftSession.dropCached(spark)
    }
    spark.stop()
  }
}
