package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The one place a graft main or test harness builds its Spark session,
  * so every entry point runs under the same config. */
object GraftSession {

  /** A `local[cores]` session with `shufflePartitions` (default: one per
    * core) and the config every graft query assumes:
    *  - reliable-checkpoint round state is deleted once its RDD is GC'd,
    *    so checkpoint files do not pile up over a long session;
    *  - session tz UTC, so [[Tables.apply]]'s NTZ→TZ cast of `events.ts`
    *    keeps the instant bit-for-bit;
    *  - `nanosAsLong`, so a TIMESTAMP(NANOS) corpus column reads at all;
    *  - no UI, WARN logs.
    * Scratch left by dead sessions is reaped before the session is
    * returned; live siblings' pins are untouched. */
  def apply(cores: Int, shufflePartitions: Option[Int] = None,
      adaptive: Boolean = true): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cores).toString)
      .config("spark.sql.adaptive.enabled", adaptive.toString)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.sweepStaleScratch(spark)
    spark
  }

  /** Untimed JVM/codegen/IO warm-up: a shuffle, a parquet read and a tiny
    * sort initialise the executor pools and JIT paths that would
    * otherwise inflate the first timed query. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(100000).groupBy((col("id") % 7).as("k")).count().orderBy("k").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
  }

  /** Drop every cached relation and persisted RDD, so no query's blocks
    * carry into the next one. `clearCache` alone misses
    * `localCheckpoint` RDD blocks, which otherwise linger until GC and
    * accumulate executor memory over a run. */
  def dropCached(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
}
