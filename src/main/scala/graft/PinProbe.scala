package graft

/** Second-process probe for the pin-lifecycle chaos test: Round13Spec
  * proves two isolated SESSIONS in one JVM don't collide, but two
  * PROCESSES sharing the scratch root are a separate failure mode.
  * Round14Spec forks this main as a real second JVM
  * while the suite's own session runs the same graph query, and
  * asserts both finish green with distinct token dirs and identical
  * answers.
  *
  * Prints three machine-read lines on stdout:
  * `PINPROBE_TOKEN=<session token>`, `PINPROBE_MD5=<digest of the
  * sorted sssp rows>`, `PINPROBE_DONE=1` (after spark.stop(), so the
  * parent can also verify the shutdown hook reclaimed the token dir). */
object PinProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession(4)
    val rows = queries.SimilarityQueries.sssp(spark, sfDir)
      .collect().map(_.toString).sorted.mkString("|")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    println(s"PINPROBE_TOKEN=${Tables.sessionToken(spark)}")
    println(s"PINPROBE_MD5=$md5")
    spark.stop()
    println("PINPROBE_DONE=1")
  }
}
