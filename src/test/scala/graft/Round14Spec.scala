package graft

import java.util.concurrent.TimeUnit

import graft.queries.SimilarityQueries

/** Round-14 closures: the two-PROCESS pin-lifecycle chaos test
  * (VERDICT r13 #7 — Round13Spec covers two isolated sessions in ONE
  * JVM; the original r12 finding was about two JVMs sharing the
  * scratch root). */
class Round14Spec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("two JVMs share the scratch root: both green, distinct tokens, child reclaims only its own pins") {
    val here = rows(SimilarityQueries.sssp(spark, sfDir))
    val myTok = Tables.sessionToken(spark)
    val myMd5 = md5(here.mkString("|"))
    // fork a REAL second JVM running the same graph query against the
    // same data dir and scratch root (graft.PinProbe). Same JDK17
    // add-opens the build injects for any forked Spark JVM.
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq("java") ++ addOpens ++ Seq(
      "-Xmx3g", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), "graft.PinProbe")).toArray
    val outF = java.io.File.createTempFile("pinprobe", ".out")
    val errF = java.io.File.createTempFile("pinprobe", ".err")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.redirectOutput(outF)
    pb.redirectError(errF)
    val proc = pb.start()
    // interleave: OUR session keeps answering on its own pins while
    // the child JVM builds and reads its own trunks
    val during = rows(SimilarityQueries.sssp(spark, sfDir))
    assert(during == here, "own-session answer changed while child JVM ran")
    assert(proc.waitFor(10, TimeUnit.MINUTES), "probe JVM timed out")
    val out = new String(java.nio.file.Files.readAllBytes(outF.toPath), "UTF-8")
    assert(proc.exitValue() == 0,
      s"probe JVM rc=${proc.exitValue()}\n$out\n" +
        new String(java.nio.file.Files.readAllBytes(errF.toPath), "UTF-8").takeRight(2000))
    val childTok = "PINPROBE_TOKEN=([0-9a-f]+)".r
      .findFirstMatchIn(out).map(_.group(1))
    val childMd5 = "PINPROBE_MD5=([0-9a-f]+)".r
      .findFirstMatchIn(out).map(_.group(1))
    assert(childTok.nonEmpty && childMd5.nonEmpty, s"probe output malformed:\n$out")
    assert(childTok.get != myTok, "child JVM minted the SAME session token")
    assert(childMd5.get == myMd5, "child JVM's answer diverges")
    assert(out.contains("PINPROBE_DONE=1"))
    // the child's exit hook reclaimed ITS scratch (token dir + every
    // entry anywhere under the scratch root carrying its token) — and
    // left OURS alone
    val pins = new java.io.File(s"${Tables.scratchDir}/pins")
    assert(!new java.io.File(pins, childTok.get).exists(),
      "child token dir survived its shutdown hook")
    def tokenEntries(f: java.io.File): Seq[String] =
      Option(f.listFiles()).toSeq.flatten.flatMap { c =>
        if (c.getName.contains(s"-${childTok.get}-")) Seq(c.getPath) else tokenEntries(c)
      }
    val leftovers = tokenEntries(new java.io.File(Tables.scratchDir))
    assert(leftovers.isEmpty, s"child scratch entries survived: $leftovers")
    // our own artifacts still answer bit-identically after the child died
    assert(rows(SimilarityQueries.sssp(spark, sfDir)) == here)
  }

  test("two threads needing one unbuilt keyed trunk build it once and answer as serial runs") {
    val serialPr = rows(SimilarityQueries.pageRank(spark, sfDir))
    val serialLp = rows(SimilarityQueries.labelProp(spark, sfDir))
    Tables.scratchUnmark(spark, "graft.pin.knnedges", sfDir)
    val builds = Tables.pinBuilds("knnedges")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val go = new java.util.concurrent.CountDownLatch(1)
    def submit(f: => Seq[String]) =
      pool.submit(new java.util.concurrent.Callable[Seq[String]] {
        def call(): Seq[String] = { go.await(); f }
      })
    try {
      val pr = submit(rows(SimilarityQueries.pageRank(spark, sfDir)))
      val lp = submit(rows(SimilarityQueries.labelProp(spark, sfDir)))
      go.countDown()
      assert(pr.get(10, TimeUnit.MINUTES) == serialPr, "concurrent pageRank diverges")
      assert(lp.get(10, TimeUnit.MINUTES) == serialLp, "concurrent labelProp diverges")
    } finally pool.shutdownNow()
    assert(Tables.pinBuilds("knnedges") == builds + 1,
      "the knnedges trunk must be built exactly once for both threads")
  }
}
