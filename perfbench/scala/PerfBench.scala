package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkEntry, Tables}
import graft.streaming.StreamJobs

/** One benchmark run of one workload in one JVM. It measures and
  * records raw samples; `run.py` turns them into metrics.
  *
  * {{{
  * PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           --corpus <dir> --scratch <dir> --work <dir> --out <artifact.json>
  *           [--expected <hashes.json>] [--record <hashes.json> --dump <dir>]
  * }}}
  *
  * The run is one `local[N]` session (N = available processors,
  * `spark.sql.shuffle.partitions` = N) driven as a closed loop by one
  * client: one key or one micro-batch at a time. */
object PerfBench {

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      corpus: String, scratch: String, work: String, out: String,
      expected: Option[String], record: Option[String], dump: Option[String])

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("corpus"), req("scratch"), req("work"), req("out"), m.get("expected"), m.get("record"), m.get("dump"))
  }

  /** The run stops starting passes once this much wall time has gone
    * since JVM start, so a run ends well inside its time limit. */
  private val BudgetS = 120.0

  private def jvmAgeS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  // ------------------------------------------------------------------ spans

  /** Spans recorded around the benchmark's own calls; kept in memory and
    * written with the artifact. Times are ns since the tracer started. */
  final class Tracer {
    private val nano0 = System.nanoTime()
    private val epoch0 = System.currentTimeMillis()
    private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    private var stack: List[Int] = List(0)
    private var nextId = 1

    def now: Long = System.nanoTime() - nano0
    /** A listener's epoch-millisecond timestamp on this tracer's clock. */
    def fromEpochMs(ms: Long): Long = (ms - epoch0) * 1000000L

    /** Runs `f` inside a span; returns its value and duration in seconds. */
    def timed[T](name: String)(f: => T): (T, Double) = {
      val id = nextId
      nextId += 1
      val parent = stack.head
      val start = now
      stack = id :: stack
      try {
        val v = f
        (v, (now - start) / 1e9)
      } finally {
        stack = stack.tail
        spans += Map("id" -> id, "parent" -> parent, "name" -> name, "start" -> start, "end" -> now)
      }
    }

    def span[T](name: String)(f: => T): T = timed(name)(f)._1

    def all(runEnd: Long): Seq[Map[String, Any]] =
      Map("id" -> 0, "parent" -> -1, "name" -> "run", "start" -> 0L, "end" -> runEnd) +: spans.toList
  }

  // ----------------------------------------------------------------- session

  private def buildSession(c: Conf, n: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Points the program's scratch root into the run's own directory, so
    * a run writes only inside its checkout and two checkouts never share
    * scratch state. `run.py` also sets `SPARK_GRAFT_SCRATCH` for a
    * program that reads it; this program version has `Tables.scratchDir`
    * as a constant, compiled to a static final field, which is
    * overwritten here before any query reads it. */
  private def redirectScratch(root: String): Unit = {
    if (Tables.scratchDir != root) {
      val f = Tables.getClass.getDeclaredField("scratchDir")
      val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
      uf.setAccessible(true)
      val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
      u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), root)
    }
    require(Tables.scratchDir == root, s"scratch root is ${Tables.scratchDir}, not the run's $root")
  }

  private def warmUp(s: SparkSession, corpus: String): Unit = {
    s.range(100000).groupBy((col("id") % 7).as("k")).count().orderBy("k").collect()
    s.read.parquet(s"$corpus/region.parquet").count()
  }

  /** Fixed host-regime probe (the `graft.Bench` canary): a small
    * shuffle and sort over `range`; context only. */
  private def canary(s: SparkSession): Double = {
    val t0 = System.nanoTime()
    s.range(8000000L).selectExpr("id % 997 AS k", "id % 31 AS v")
      .groupBy("k").agg(sum(col("v")).as("s")).orderBy("k").count()
    (System.nanoTime() - t0) / 1e9
  }

  /** Driver heap in use after a full GC, in MB. The first GC lets Spark's
    * context cleaner see unreachable shuffles and broadcasts; the pause
    * lets it release them; the second GC reclaims what they held. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  // ------------------------------------------------------------ output check

  /** Order-insensitive result hash: row count and the sum of each row's
    * xxhash64 over its JSON form. */
  def resultHash(df: DataFrame): String = {
    val cols = df.columns.indices.map(i => s"c$i")
    val r = df.toDF(cols: _*)
      .select(xxhash64(to_json(struct(cols.map(col): _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  private def readHashes(path: String): Map[String, String] =
    mapper.readValue(new File(path), classOf[java.util.Map[String, String]]).asScala.toMap

  // -------------------------------------------------------------- trunk guard

  /** Snapshot of the trunk paths under the scratch root: the entries of `pins-keyed/`
    * and `<family>-<session token>-*` directories, with their mtimes. A
    * changed snapshot across a timed key means the key wrote a trunk. */
  final class TrunkGuard(root: String, tokens: () => Seq[String]) {
    def isTrunkPath(p: String): Boolean = {
      val rel = p.stripPrefix("file:").replaceFirst("^.*?" + java.util.regex.Pattern.quote(root), "")
      rel.startsWith("/pins-keyed/") ||
        tokens().exists(t => rel.matches(s"^/[A-Za-z0-9_]+-$t-.*"))
    }

    def snapshot(): Map[String, Long] = {
      val top = Option(new File(root).listFiles()).toSeq.flatten
        .filter(f => isTrunkPath(s"$root/${f.getName}/"))
      val keyed = Option(new File(s"$root/pins-keyed").listFiles()).toSeq.flatten
      (top ++ keyed).map(f => f.getPath -> f.lastModified()).toMap
    }
  }

  /** Drops cached relations and persisted RDD blocks, so no key starts
    * with another key's cached state (as `graft.Bench` does). */
  private def cleanup(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  // ---------------------------------------------------------------- the run

  final class Run(val c: Conf) {
    val tracer = new Tracer
    val n: Int = Runtime.getRuntime.availableProcessors()
    val art = mutable.LinkedHashMap[String, Any](
      "workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace, "n_cpu" -> n)
    val failures = mutable.ArrayBuffer.empty[Map[String, String]]
    var attempted = 0L
    var heapPeak = 0.0
    val canaries = mutable.ArrayBuffer.empty[Double]
    val tokens = mutable.ArrayBuffer.empty[String]
    val guard = new TrunkGuard(c.scratch, () => tokens.toList)

    // listeners of the traced run; attached only around traced passes
    val jobs = new JobListener
    val actions = new ActionListener(guard.isTrunkPath)
    val streams = new StreamListener
    val jobLog = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** Records a failure of operation `op` (`pass<i>/<key>`,
      * `pass<i>/stream`, or `run` for the run as a whole). */
    def fail(op: String, msg: String): Unit = {
      System.err.println(s"[perfbench] FAIL $op: $msg")
      failures += Map("op" -> op, "reason" -> msg)
    }

    def heapMark(): Unit = heapPeak = math.max(heapPeak, heapAfterGcMb())

    def attach(s: SparkSession): Unit = {
      s.sparkContext.addSparkListener(jobs)
      s.listenerManager.register(actions)
      s.streams.addListener(streams)
    }

    def detach(s: SparkSession): Unit = {
      BusDrain(s.sparkContext)
      s.sparkContext.removeSparkListener(jobs)
      s.listenerManager.unregister(actions)
      s.streams.removeListener(streams)
    }

    /** Listener counters over `f`, which runs with the listeners attached. */
    def traced[T](s: SparkSession)(f: => T): (T, Map[String, Double]) = {
      attach(s)
      val j0 = jobs.snapshot
      val a0 = actions.snapshot
      val v = try f finally detach(s)
      val d = jobs.snapshot.map { case (k, x) => s"spark.$k" -> (x - j0(k)) } ++
        actions.snapshot.map { case (k, x) => s"tables.$k" -> (x - a0(k)) }
      jobLog ++= jobs.drainJobs().map { j =>
        Map("id" -> j.id, "group" -> j.group,
          "start" -> tracer.fromEpochMs(j.startMs), "end" -> tracer.fromEpochMs(j.endMs))
      }
      (v, d)
    }

    /** Set-up, repeated `reps` times: the first from JVM start (session
    * build included), the others on a fresh `newSession`, whose new
    * session token makes every trunk build again. Returns the session
    * of the last repetition. */
    def setup(reps: Int, trunks: Seq[(String, (SparkSession, String) => Unit)]): SparkSession = {
      val times = mutable.ArrayBuffer.empty[Double]
      val trunkTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      var session: SparkSession = null
      for (rep <- 1 to reps) {
        val (s, secs) = tracer.timed("setup") {
          val s = if (session == null) buildSession(c, n) else session.newSession()
          if (session == null) redirectScratch(c.scratch)
          warmUp(s, c.corpus)
          tokens += Tables.sessionToken(s)
          trunks.foreach { case (label, build) =>
            val (_, t) = tracer.timed(s"setup.$label")(build(s, c.corpus))
            trunkTimes.getOrElseUpdate(label, mutable.ArrayBuffer.empty) += t
          }
          s
        }
        times += (if (rep == 1) jvmAgeS else secs)
        session = s
      }
      cleanup(session)
      art("setup_s") = times.toList
      art("setup_trunk_s") = trunkTimes.map { case (k, v) => k -> v.toList }.toMap
      heapMark()
      session
    }

    def finish(): Unit = {
      art("attempted") = attempted
      art("failures") = failures.toList
      art("heap_peak_mb") = heapPeak
      art("canary_s") = canaries.toList
      if (c.trace) {
        art("spans") = tracer.all(tracer.now)
        art("jobs") = jobLog.toList
      }
      Files.write(Paths.get(c.out), mapper.writeValueAsBytes(art))
    }
  }

  /** Set-up repetitions: three for the end-to-end `setup_s` median, one
    * in a traced run. */
  private def setupReps(c: Conf): Int = if (c.trace) 1 else 3

  // ------------------------------------------------------------- batch passes

  final case class KeyRec(key: String, construct: Double, plan: Double, execute: Double, ok: Boolean)

  /** One pass over `keys`, each run to its full result through the
    * `noop` sink. With `expected`, each result is hashed after its
    * execution and compared; the check is not part of the pass time.
    * Pass 0 is the untimed warm-up. */
  private def batchPass(r: Run, s: SparkSession, index: Int, keys: Seq[String],
      expected: Option[Map[String, String]]): (Double, Seq[KeyRec]) = {
    val recs = mutable.ArrayBuffer.empty[KeyRec]
    var checkS = 0.0
    val (_, wall) = r.tracer.timed("pass") {
      keys.foreach { key =>
        s.sparkContext.setJobGroup(key, s"perfbench $key", interruptOnCancel = false)
        val op = s"pass$index/$key"
        val before = r.guard.snapshot()
        if (index > 0) r.attempted += 1
        var times = (0.0, 0.0, 0.0)
        val result = try {
          r.tracer.span(s"key.$key") {
            val (df, c) = r.tracer.timed("construct")(SparkEntry.queries(key)(s, r.c.corpus))
            val (_, p) = r.tracer.timed("plan")(df.queryExecution.executedPlan)
            val (_, e) = r.tracer.timed("execute")(df.write.format("noop").mode("overwrite").save())
            times = (c, p, e)
            Some(df)
          }
        } catch { case NonFatal(ex) =>
          r.fail(op, s"${ex.getClass.getSimpleName}: ${String.valueOf(ex.getMessage).take(300)}")
          None
        }
        val written = r.guard.snapshot().toSet -- before.toSet
        if (written.nonEmpty)
          r.fail(op, s"wrote trunk path(s) inside a pass: ${written.map(_._1).mkString(", ")}")
        for (df <- result; exp <- expected) {
          val (_, t) = r.tracer.timed("check") {
            try {
              val h = resultHash(df)
              if (!exp.get(key).contains(h))
                r.fail(op, s"result hash $h, expected ${exp.getOrElse(key, "none recorded")}")
            } catch { case NonFatal(ex) => r.fail(op, s"check: ${ex.getMessage}") }
          }
          checkS += t
        }
        r.tracer.span("cleanup")(cleanup(s))
        recs += KeyRec(key, times._1, times._2, times._3, result.isDefined && written.isEmpty)
      }
      s.sparkContext.clearJobGroup()
    }
    (wall - checkS, recs.toList)
  }

  private def keyRecJson(k: KeyRec): Map[String, Any] =
    Map("key" -> k.key, "construct_s" -> k.construct, "plan_s" -> k.plan,
      "execute_s" -> k.execute, "ok" -> k.ok)

  /** Key order for pass `i`: a permutation drawn from the seed. */
  private def order(keys: Seq[String], seed: Long, i: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + i).shuffle(keys)

  /** Runs timed passes `pass(1)`, `pass(2)`, ... until their measured
    * time (`pass_s`, which leaves out the output check) reaches
    * `seconds`; a traced run alternates untraced (odd) and traced (even)
    * passes and runs at least one of each. No pass starts once the
    * previous pass would carry the JVM past [[BudgetS]]. */
  private def timedPasses(r: Run)(pass: Int => Map[String, Any]): Seq[Map[String, Any]] = {
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def secs(p: Map[String, Any]) = p("pass_s").asInstanceOf[Double]
    def more = passes.map(secs).sum < r.c.seconds || (r.c.trace && passes.size < 2)
    def fits = passes.lastOption.forall(p => jvmAgeS + secs(p) <= BudgetS)
    while ((passes.isEmpty || more) && fits) {
      passes += pass(passes.size + 1)
      r.heapMark()
    }
    if (r.c.trace && passes.size < 2) r.fail("run", "time budget left no traced pass")
    r.canaries += canary(SparkSession.active)
    passes.toList
  }

  private def runBatch(r: Run, wl: Workloads.Batch): Unit = {
    val c = r.c
    val s = r.setup(setupReps(c), wl.trunks)
    val expected = c.expected.filter(p => new File(p).exists).map(readHashes)
    if (expected.isEmpty) r.fail("run", s"no recorded result hashes for ${wl.name}")
    r.canaries += canary(s)
    // the untimed warm-up pass also checks every result
    val (warm, _) = batchPass(r, s, 0, order(wl.keys, c.seed, 0), expected)
    r.art("warmup_pass_s") = List(warm)
    r.canaries += canary(s)
    r.art("passes") = timedPasses(r) { i =>
      val keys = order(wl.keys, c.seed, i)
      if (c.trace && i % 2 == 0) {
        val ((secs, recs), layers) = r.traced(s)(batchPass(r, s, i, keys, None))
        Map("traced" -> true, "pass_s" -> secs, "keys" -> recs.map(keyRecJson), "layers" -> layers)
      } else {
        val (secs, recs) = batchPass(r, s, i, keys, None)
        Map("traced" -> false, "pass_s" -> secs, "keys" -> recs.map(keyRecJson))
      }
    }
  }

  /** Records each key's result hash, and dumps each result that has a
    * DuckDB oracle as parquet for the cross-check in `record.py`. */
  private def recordBatch(r: Run, wl: Workloads.Batch, out: String, dump: String): Unit = {
    val s = r.setup(1, wl.trunks)
    Files.createDirectories(Paths.get(dump))
    val hashes = wl.keys.map { key =>
      val df = SparkEntry.queries(key)(s, r.c.corpus)
      if (SparkEntry.oracleSql.contains(key))
        df.write.mode("overwrite").parquet(s"$dump/$key")
      val h = resultHash(df)
      cleanup(s)
      System.err.println(s"[perfbench] recorded $key $h")
      key -> h
    }
    Files.write(Paths.get(out), mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(scala.collection.immutable.TreeMap(hashes: _*)))
    Files.write(Paths.get(s"$dump/oracle_sql.json"), mapper.writeValueAsBytes(
      wl.keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap))
  }

  // -------------------------------------------------------------- stream

  val StreamFiles = 8
  val EventsPerFile = 1000

  /** Seeded JSON-lines event files, 1000 events each (the reference's
    * micro-batch size), written by one generator thread. The seed sets
    * the user skew, the event-type skew and the timestamp jitter. */
  def generateEvents(dir: String, files: Int, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val userSkew = 0.6 + rnd.nextDouble() * 0.6
    val types = Seq("view", "click", "purchase", "signup", "error", "share", "search", "logout")
    val typeWeights = types.indices.map(i => math.pow(i + 1.0, -(0.5 + rnd.nextDouble())))
    val jitterS = 60 + rnd.nextInt(1800)
    val users = 5000
    // inverse-CDF tables for the two skewed draws
    val userCdf = (1 to users).map(u => math.pow(u.toDouble, -userSkew)).scanLeft(0.0)(_ + _).tail
    val typeCdf = typeWeights.scanLeft(0.0)(_ + _).tail
    def draw(cdf: IndexedSeq[Double]): Int = {
      val x = rnd.nextDouble() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf.toArray, x)
      if (i >= 0) i else -i - 1
    }
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    val fmt = java.time.format.DateTimeFormatter.ISO_INSTANT
    val t = new Thread(() => {
      Files.createDirectories(Paths.get(dir))
      var id = 0L
      for (f <- 0 until files) {
        val sb = new StringBuilder
        for (_ <- 0 until EventsPerFile) {
          val ts = base + id * 4 + rnd.nextInt(2 * jitterS + 1) - jitterS
          val micros = rnd.nextInt(1000000)
          val when = fmt.format(java.time.Instant.ofEpochSecond(ts, micros * 1000L))
          sb.append(s"""{"event_id":$id,"ts":"$when","user_id":${draw(userCdf) + 1},""")
            .append(s""""event_type":"${types(draw(typeCdf))}","value":${rnd.nextInt(100000) / 100.0},""")
            .append(s""""props":"{\\"k\\": ${rnd.nextInt(100)}}"}""").append('\n')
          id += 1
        }
        // write then rename, so the file source never sees a partial file
        val tmp = Paths.get(dir, s".part-$f.tmp")
        Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, Paths.get(dir, f"events-$f%05d.json"))
      }
    })
    t.start()
    t.join()
  }

  final case class StreamPass(passS: Double, events: Long, triggerMs: Seq[Double],
      finalCounts: Map[String, Long], windowRows: Long)

  /** One stream pass: `runningCounts` in complete mode with a per-batch
    * top-5 report, then a watermarked `windowedCounts`, both with
    * `Trigger.AvailableNow` over the same files and fresh checkpoints. */
  private def streamPass(r: Run, s: SparkSession, in: String, ck: String): StreamPass = {
    var last = Map.empty[String, Long]
    var windowRows = 0L
    val ((events, trig), wall) = r.tracer.timed("pass") {
      val q1 = r.tracer.span("query.running_counts") {
        val q = StreamJobs.runningCounts(StreamJobs.jsonFileStream(s, in))
          .writeStream.outputMode("complete").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$ck/running")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.persist()
            StreamJobs.topk(b, 5).collect()
            last = b.collect().map(row => row.getString(0) -> row.getLong(1)).toMap
            b.unpersist()
            ()
          }.start()
        q.awaitTermination()
        q
      }
      val q2 = r.tracer.span("query.windowed_counts") {
        val q = StreamJobs.windowedCounts(StreamJobs.jsonFileStream(s, in))
          .writeStream.outputMode("append").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$ck/windowed")
          .foreachBatch { (b: DataFrame, _: Long) => windowRows += b.count(); () }
          .start()
        q.awaitTermination()
        q
      }
      val progress = Seq(q1, q2).flatMap(_.recentProgress.toSeq)
      (progress.map(_.numInputRows).sum,
        progress.map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)))
    }
    StreamPass(wall, events, trig, last, windowRows)
  }

  private def runStream(r: Run): Unit = {
    val c = r.c
    val in = s"${c.work}/stream/in"
    var ckN = 0
    def ck(): String = { ckN += 1; s"${c.work}/stream/ck-$ckN" }
    val s = r.setup(setupReps(c), Nil)
    val (_, genS) = r.tracer.timed("generate")(generateEvents(in, StreamFiles, c.seed))
    r.art("generate_s") = genS
    val expected = s.read.schema(StreamJobs.eventSchema).json(in)
      .groupBy("event_type").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    r.canaries += canary(s)
    r.art("warmup_pass_s") = List(streamPass(r, s, in, ck()).passS)
    r.canaries += canary(s)
    r.art("passes") = timedPasses(r) { i =>
      val tracedPass = c.trace && i % 2 == 0
      r.attempted += 2
      try {
        val (p, layers) =
          if (tracedPass) {
            val (p, l) = r.traced(s)(streamPass(r, s, in, ck()))
            (p, l ++ Map("streaming.progress" -> r.streams.drain()))
          } else (streamPass(r, s, in, ck()), Map.empty[String, Any])
        if (p.finalCounts != expected)
          r.fail(s"pass$i/stream", s"running counts ${p.finalCounts} != batch groupBy $expected")
        Map("traced" -> tracedPass, "pass_s" -> p.passS, "events" -> p.events,
          "trigger_ms" -> p.triggerMs.toList, "window_rows" -> p.windowRows, "layers" -> layers)
      } catch { case NonFatal(ex) =>
        r.fail(s"pass$i/stream", String.valueOf(ex.getMessage))
        throw ex
      }
    }
  }

  // ---------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    require(Workloads.names.contains(c.workload), s"unknown workload ${c.workload}")
    val r = new Run(c)
    try {
      (c.workload, c.record) match {
        case (Workloads.Stream, _) => runStream(r)
        case (w, Some(out)) => recordBatch(r, Workloads.batch(w), out, c.dump.get)
        case (w, None) => runBatch(r, Workloads.batch(w))
      }
    } catch { case NonFatal(ex) =>
      ex.printStackTrace()
      r.fail("run", s"aborted: ${ex.getClass.getSimpleName}: ${ex.getMessage}")
    }
    r.finish()
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }
}
