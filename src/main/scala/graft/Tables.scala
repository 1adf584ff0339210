package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loader for the driver corpus (`TESTDATA.md`), and
  * owner of every scratch-parquet pin.
  *
  * [[apply]] is the one entry point through which queries read the
  * corpus, so scan options stay uniform. The footer is the schema; it
  * is inferred once per table file and remembered (see [[apply]]).
  *
  * Relations an operator must materialise go under [[scratchDir]] as
  * one of two pin kinds:
  *  - a transient pin ([[scratchPin]], or a [[PinChain]] of them) holds
  *    one query's round state at `pins/<session token>/<tag>.parquet`.
  *    Each call site passes its own literal tag; the next invocation of
  *    the same site overwrites the file, and the session's shutdown
  *    hook deletes its whole `pins/<token>` subtree.
  *  - a keyed trunk ([[pinKeyed]]) holds a relation that depends only
  *    on the corpus at a data dir. It is written once per (session,
  *    dir) at `pins-keyed/<tag>-<sessionKey>.parquet` and read by every
  *    later query; the shutdown hook deletes the trunks whose name
  *    carries the session's token.
  * Both kinds are read back with the schema of the frame that was
  * written, so a pin read starts no schema-inference job. Entries of
  * either kind left by a killed JVM are reaped by [[sweepStaleScratch]]
  * once they are older than [[SweepAgeMs]].
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The corpus's events.ts layout has drifted across driver versions:
    // TIMESTAMP(NANOS) (readable only as BIGINT under the legacy
    // nanosAsLong conf) vs TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ).
    // Dispatch on the read schema so either layout normalizes to the same
    // session-tz TimestampType column (session tz is UTC in every entry
    // point, so NTZ→TZ preserves the instant bit-for-bit).
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = corpusRead(spark, s"$dir/$name.parquet")
    assertExpectedColumns(name, df)
    if (name == "events")
      df.schema("ts").dataType match {
        case LongType        => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _               => df
      }
    else df
  }

  /** A parquet read of `path` with its remembered schema. Inference
    * runs a Spark job, so the schema it gives is kept per (path,
    * modification time, length) and every later read passes it: a
    * construction over a known table starts no job, and a table
    * rewritten in place is inferred again. A path that does not exist
    * is read plainly, so the reader reports it as usual. */
  private def corpusRead(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val key = s"$path@${st.getModificationTime}:${st.getLen}"
        Option(corpusSchemas.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            corpusSchemas.put(key, df.schema)
            df
        }
    }
  }

  private val corpusSchemas = new ConcurrentHashMap[String, StructType]()

  /** Fail-fast column check (schema from the parquet footer; no data
    * scan). Corpus drift then surfaces as ONE clear load-time error
    * naming the table, instead of dozens of opaque analysis failures
    * deep inside queries (an events-ts layout drift once failed 52
    * queries before it was traced back to the loader). Extra columns
    * are tolerated — only the columns queries depend on are pinned. */
  private val expectedColumns: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey", "r_name"),
    "nation"     -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer"   -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier"   -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part"       -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders"     -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events"     -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents"  -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  private def assertExpectedColumns(name: String, df: DataFrame): Unit =
    expectedColumns.get(name).foreach { cols =>
      val have = df.columns.toSet
      val missing = cols.filterNot(have)
      require(missing.isEmpty,
        s"corpus drift: table '$name' is missing expected column(s) ${missing.mkString(", ")} " +
          s"(found: ${df.columns.mkString(", ")}) — update graft.Tables/FIXTURES.md for the new layout")
    }

  /** Scratch dir for sink round-trips (CSV/DDL) and pins: the
    * `SPARK_GRAFT_SCRATCH` environment variable if set, else a dir under
    * the checkout's target/, which is git-ignored and never collides
    * with the read-only corpus. */
  val scratchDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
      java.nio.file.Paths.get("target", "scratch").toAbsolutePath.toString)

  /** Pin a derived relation to `pins/<session token>/<tag>.parquet`:
    * write it once (the write is the only job), then return a flat
    * columnar read of the file. The read passes `df.schema`, which the
    * caller already holds, so reading and planning the result starts
    * no schema-inference job; file sources force every field nullable,
    * so the read schema equals what inference would have given.
    *
    * This is the tool for corpus-linear round state (k·|V| edge sets,
    * node tables): unlike `localCheckpoint`, which keeps blocks on
    * executor storage with no lineage, a lost executor costs a re-read,
    * not the job, and in production the scratch root is the durable
    * cluster filesystem. `localCheckpoint` stays the tool for relations
    * bounded by a vocabulary, a calendar or a shortlist.
    *
    * Contract:
    *  - each call site passes its own literal tag; the path is a pure
    *    function of (session, tag) and the write mode is overwrite, so
    *    the next invocation of the same site reclaims the previous
    *    one's file and storage is bounded by the number of pin sites;
    *  - a harness completes each query's action before constructing
    *    the next, so an overwrite never races a pending read;
    *  - two sessions sharing the scratch root never alias, because the
    *    path sits under the session's token dir;
    *  - the pin carries no rebuild guard: a wipe of the live session's
    *    own token dir between a pin write and its read inside one query
    *    surfaces as PATH_NOT_FOUND. No graft process opens that window
    *    (the stale sweep only reaps entries older than [[SweepAgeMs]]);
    *    a wipe between queries is absorbed, because pins are written
    *    eagerly at construction. */
  def scratchPin(df: DataFrame, tag: String): DataFrame = {
    val path = s"${pinRoot(df.sparkSession)}/$tag.parquet"
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** A sequence of [[scratchPin]]s for an iterative operator's round
    * state: level i is `<tag>-l<i>`. The levels are distinct, so a
    * level's write never overwrites the predecessor it reads, and an
    * operator whose output references every round (k-truss's
    * per-round profile, betweenness's union of frontiers) reads each
    * level's own file at action time. Storage is bounded by the unroll
    * depth of the site. */
  final class PinChain(tag: String) {
    private var i = 0
    def next(df: DataFrame): DataFrame = {
      i += 1
      scratchPin(df, s"$tag-l$i")
    }
  }

  /** One-time guarded pin per (session, data dir): the trunk for a
    * relation that is a pure function of the corpus at `dir` and is
    * read by every invocation of its query family (the k-NN edges,
    * the adjacency trunks, the postings index, the dedup trunk). The
    * first caller computes and writes it to
    * `pins-keyed/<tag>-<sessionKey>.parquet`; every later caller,
    * later bench reps and other queries of the family included, does a
    * plain columnar read. The existence check makes a mid-session
    * scratch wipe a silent rebuild, not a PATH_NOT_FOUND
    * (chaos-tested).
    *
    * A trunk with several outputs is a chain of calls, each built from
    * the previous one's read. A `build` may itself call `pinKeyed` for
    * a trunk it derives from; such nesting follows the derivation
    * order (undadj → knnedges), so the build locks are taken in one
    * order and never deadlock.
    *
    * The build records the schema of the frame it wrote, and every read
    * passes it, so a query built over a ready trunk starts no job. A
    * trunk is flagged ready only by a session that built it in this
    * JVM, so a ready trunk always has its schema recorded. */
  def pinKeyed(spark: SparkSession, tag: String, dir: String)(build: => DataFrame): DataFrame = {
    val key = s"$tag-${sessionKey(spark, dir)}"
    val path = s"$scratchDir/pins-keyed/$key.parquet"
    // JVM-level build lock per (tag, session, dir): two threads sharing
    // one SparkSession must not race the overwrite build against a
    // reader on the same path; one builds, the other waits then reads.
    val lock = pinLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      if (!scratchReady(spark, s"graft.pin.$tag", dir, path)) {
        val df = build
        df.write.mode("overwrite").parquet(path)
        pinSchemas.put(key, df.schema)
        pinBuildCounts.computeIfAbsent(tag, _ => new AtomicInteger).incrementAndGet()
        scratchMark(spark, s"graft.pin.$tag", dir)
      }
    }
    spark.read.schema(pinSchemas.get(key)).parquet(path)
  }

  private val pinLocks = new ConcurrentHashMap[String, Object]()

  private val pinSchemas = new ConcurrentHashMap[String, StructType]()

  private val pinBuildCounts = new ConcurrentHashMap[String, AtomicInteger]()

  /** How many times [[pinKeyed]] has built `tag` in this JVM, over all
    * sessions and dirs (test hook: a trunk read must not rebuild). */
  private[graft] def pinBuilds(tag: String): Int =
    Option(pinBuildCounts.get(tag)).fold(0)(_.get)

  /** [[pinBuilds]] for every tag built so far in this JVM. */
  private[graft] def pinBuildSnapshot(): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    pinBuildCounts.asScala.map { case (t, n) => t -> n.get }.toMap
  }

  /** Session-scoped scratch key: the random session token (so two
    * sessions sharing the scratch root never collide) × a
    * collision-resistant digest of the data-dir path. A 32-bit
    * `String.hashCode` could alias two dirs served in one session and
    * silently return the wrong dir's trunk; a 48-bit SHA-256 prefix
    * puts an accidental collision out of reach. */
  def sessionKey(spark: SparkSession, dir: String): String =
    s"${sessionToken(spark)}-${pathDigest(dir)}"

  /** The per-session random token behind every session-scoped scratch
    * path. Minted once per isolated session (stored in the session's
    * SQLConf, so `SparkSession.newSession` clones get their own); the
    * first mint registers a JVM shutdown hook that deletes this
    * session's own scratch subtrees. It never touches the shared roots
    * as a whole, which would destroy a concurrent sibling's live round
    * state; pins of kill-9'd sessions are reclaimed by
    * [[sweepStaleScratch]]. */
  def sessionToken(spark: SparkSession): String = {
    val tokenKey = "graft.scratch.session"
    spark.conf.getOption(tokenKey).getOrElse {
      val t = java.lang.Long.toHexString(System.nanoTime())
      spark.conf.set(tokenKey, t)
      Runtime.getRuntime.addShutdownHook(new Thread(() => sweepOwnScratch(t)))
      t
    }
  }

  /** First 12 hex chars (48 bits) of SHA-256 — the dir/flag key. */
  private def pathDigest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString

  /** This session's own transient-pin subtree. */
  private def pinRoot(spark: SparkSession): String =
    s"$scratchDir/pins/${sessionToken(spark)}"

  /** Shutdown-hook half of the pin lifecycle: delete ONLY this
    * session's artifacts — its `pins/<token>` subtree and the
    * pins-keyed trunks whose name carries `-<token>-`. Plain java.io
    * (not Hadoop FS —
    * the Hadoop shutdown hooks may already have run); the scratch
    * root is local by construction. */
  private def sweepOwnScratch(token: String): Unit = {
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete(); ()
    }
    rmTree(new java.io.File(s"$scratchDir/pins/$token"))
    val keyed = new java.io.File(s"$scratchDir/pins-keyed")
    Option(keyed.listFiles()).foreach(_.foreach { f =>
      if (f.getName.contains(s"-$token-")) rmTree(f)
    })
  }

  /** Entries older than this are dead-session leftovers (graft
    * harness runs finish well inside it; live sessions reclaim their
    * own subtrees via the shutdown hook — the sweep only catches
    * kill-9'd ones). Generous so a startup sweep can never reap a
    * live concurrent sibling's round state. */
  private val SweepAgeMs = 12L * 3600 * 1000

  /** Startup GC of BOTH scratch pin roots: reap only entries whose
    * mtime is older than [[SweepAgeMs]], so a live sibling sharing the
    * root keeps its pins. A keyed pin reaped out from under a >12h session
    * is absorbed (its [[scratchReady]] guard re-checks existence and
    * silently rebuilds); transient pins never live that long between
    * write and read. */
  def sweepStaleScratch(spark: SparkSession): Unit = {
    val cutoff = System.currentTimeMillis() - SweepAgeMs
    Seq(s"$scratchDir/pins", s"$scratchDir/pins-keyed").foreach { root =>
      val hp = new org.apache.hadoop.fs.Path(root)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(hp))
        fs.listStatus(hp).foreach { st =>
          if (st.getModificationTime < cutoff) { fs.delete(st.getPath, true); () }
        }
    }
  }

  /** Guard predicate for one-time scratch materializations: true iff
    * this session already wrote the artifact for `dir`
    * AND its path still exists on disk. The session-conf flag alone
    * trusts the filesystem blindly — an operator wiping the scratch
    * root mid-session (disk pressure, tmp cleaner, manual rm) used to
    * turn every later trunk read into an opaque PATH_NOT_FOUND; with
    * the existence check the guard silently rebuilds instead, which
    * is the failure mode durable scratch exists to absorb (chaos-
    * tested in Round10Spec). Listing a parquet dir's footer is a
    * metadata stat, not a data scan.
    *
    * The readiness flag is keyed PER DIR, like the artifact paths
    * ([[sessionKey]]): a single `flag → last dir` entry would make a
    * session alternating between two SF dirs (a multi-SF verify loop
    * in one JVM) rewrite the full trunk on every switch, even though
    * the other dir's artifacts are still valid on disk. */
  private def scratchReady(spark: SparkSession, flagKey: String, dir: String,
                           path: String): Boolean =
    spark.conf.getOption(dirFlag(flagKey, dir)).contains("true") && {
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }

  /** Record that the artifact guarded by `flagKey` is written for
    * `dir` — the setter half of [[scratchReady]]'s dir-keyed flag. */
  private def scratchMark(spark: SparkSession, flagKey: String, dir: String): Unit =
    spark.conf.set(dirFlag(flagKey, dir), "true")

  /** Reset a guard (test/chaos tooling): the next consumer rebuilds. */
  def scratchUnmark(spark: SparkSession, flagKey: String, dir: String): Unit =
    spark.conf.unset(dirFlag(flagKey, dir))

  private def dirFlag(flagKey: String, dir: String): String =
    s"$flagKey.${pathDigest(dir)}"
}
