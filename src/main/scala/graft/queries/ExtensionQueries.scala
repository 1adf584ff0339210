package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Det

/** Relational surface beyond the reference's own operators (SURVEY
  * §2.3/§2.4/§2.6 note these come free from Catalyst): rollup
  * hierarchies, set operations, outer joins, and lag/lead window
  * analytics. All pure built-ins, all oracled.
  */
object ExtensionQueries {

  /** ROLLUP hierarchy totals: region → nation → grand total over
    * customer counts/balances, via `spark.sql` over temp views (the
    * DataFrame `.rollup` path trips Spark 4's ambiguous-self-join
    * check on the Expand node's duplicated grouping attributes; the
    * SQL text — shared verbatim with the oracle — does not). Nulls
    * from the rollup are labeled so NULL ordering can't differ. */
  def rollup(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "customer").createOrReplaceTempView("customer")
    Tables(spark, dir, "nation").createOrReplaceTempView("nation")
    Tables(spark, dir, "region").createOrReplaceTempView("region")
    spark.sql(rollupSql)
  }

  val rollupSql: String =
    s"""SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
       |       count(*) AS n_customers, ${Det.moneySumSql("c_acctbal")} AS total_bal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)
       |ORDER BY region, nation""".stripMargin

  /** CUBE over two independent dimensions (all four grouping sets):
    * segment × order-priority order counts. Same `spark.sql` route as
    * [[rollup]]. */
  def cube(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "customer").createOrReplaceTempView("customer")
    Tables(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(cubeSql)
  }

  val cubeSql: String =
    """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE (c_mktsegment, o_orderpriority)
      |ORDER BY segment, priority""".stripMargin

  /** Set operations: high-balance vs FURNITURE-segment customer keys —
    * intersect, except and union-distinct counted in one row. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables(spark, dir, "customer")
    val rich = customer.filter(col("c_acctbal") > 3000.0).select("c_custkey")
    val furn = customer.filter(col("c_mktsegment") === "FURNITURE").select("c_custkey")
    rich.intersect(furn).agg(count(lit(1)).as("n_both"))
      .crossJoin(rich.except(furn).agg(count(lit(1)).as("n_rich_only")))
      .crossJoin(rich.union(furn).distinct().agg(count(lit(1)).as("n_either")))
  }

  val setOpsSql: String =
    """WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 3000.0),
      |furn AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'FURNITURE')
      |SELECT
      |  (SELECT count(*) FROM (SELECT * FROM rich INTERSECT SELECT * FROM furn)) AS n_both,
      |  (SELECT count(*) FROM (SELECT * FROM rich EXCEPT SELECT * FROM furn)) AS n_rich_only,
      |  (SELECT count(*) FROM (SELECT * FROM rich UNION SELECT * FROM furn)) AS n_either""".stripMargin

  /** Left-outer join with null accounting: customers with zero orders
    * surface as order_cnt=0 — the missing-side semantics the
    * reference's inner joins never exercise. */
  def outerJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables(spark, dir, "customer")
    val orders   = Tables(spark, dir, "orders")
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        count(col("o_orderkey")).as("n_orders"),
        countDistinct(when(col("o_orderkey").isNull, col("c_custkey"))).as("n_orderless"))
      .orderBy("c_mktsegment")
  }

  val outerJoinSql: String =
    """SELECT c_mktsegment,
      |       count(DISTINCT c_custkey) AS n_customers,
      |       count(o_orderkey) AS n_orders,
      |       count(DISTINCT CASE WHEN o_orderkey IS NULL THEN c_custkey END) AS n_orderless
      |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Sessionization: gap-based session assignment — a new session
    * starts where the inter-event gap exceeds 30 min; session id is
    * the running sum of boundary flags (lag + cumulative sum windows).
    * The building block for session windows in both batch and
    * streaming (Structured Streaming's `session_window` is the
    * streaming twin). Integer-second gaps → engine-identical. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val events = Tables(spark, dir, "events")
      .withColumn("gap",
        unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(byUser)))
      .withColumn("new_session",
        when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
      .withColumn("session_id", sum("new_session").over(byUser))
    events
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(
        max("session_id").as("n_sessions"),
        max("n_events").as("max_session_events"),
        Det.rnd(sum("n_events").cast("double") / max("session_id"), 4)
          .as("avg_session_events"))
      .orderBy("user_id")
  }

  val sessionizeSql: String =
    s"""WITH g AS (
       |  SELECT user_id, event_id, ts,
       |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) -
       |           CAST(epoch(date_trunc('second', lag(ts, 1) OVER w)) AS BIGINT) AS gap
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT user_id,
       |         sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM g),
       |per_session AS (
       |  SELECT user_id, session_id, count(*) AS n_events
       |  FROM s GROUP BY user_id, session_id)
       |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
       |       max(n_events) AS max_session_events,
       |       ${Det.rndSql("CAST(sum(n_events) AS DOUBLE) / max(session_id)", 4)} AS avg_session_events
       |FROM per_session
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  /** Bucketed-table join (the co-located-join lever for repeated big
    * joins at scale): lineitem persisted bucketed+sorted by
    * l_orderkey, so every subsequent join on the key reads
    * pre-partitioned buckets — the bucketed side needs NO exchange,
    * only the probe side shuffles. At 100 TB this turns the recurring
    * fact-fact shuffle into a one-time write cost. Result is oracled
    * against the plain (unbucketed) join — bucketing must be a pure
    * physical optimization. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    if (!spark.catalog.tableExists("graft_lineitem_bucketed") ||
        spark.conf.getOption("graft.bucketed.dir").forall(_ != dir)) {
      Tables(spark, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"${Tables.scratchDir}/warehouse/graft_lineitem_bucketed")
        .saveAsTable("graft_lineitem_bucketed")
      spark.conf.set("graft.bucketed.dir", dir)
    }
    val orders = Tables(spark, dir, "orders")
    spark.table("graft_lineitem_bucketed")
      .join(orders, col("l_orderkey") === orders("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        Det.rnd(sum("l_quantity") / count(col("l_quantity")), 4).as("avg_qty"))
      .orderBy("o_orderpriority")
  }

  val bucketedJoinSql: String =
    s"""SELECT o_orderpriority, count(*) AS cnt,
       |       ${Det.rndSql("sum(l_quantity) / count(l_quantity)", 4)} AS avg_qty
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Skew-salted join (the hot-key lever the brief's scale list names
    * alongside broadcast and AQE): `events.event_type` has only 5
    * distinct values, so an unsalted shuffle join sends each key's
    * entire row mass to ONE task — at 100 TB that task is the job. The
    * salted form appends `salt = pmod(hash(event_id), S)` to the probe
    * side and replicates the build side S×, so every hot key spreads
    * over S tasks; the join key becomes (key, salt) and results are
    * IDENTICAL to the unsalted join — which is exactly what the oracle
    * checks (salting must be a pure physical transform). The
    * shuffle-hash hint keeps the build side out of broadcast so the
    * salted shuffle path actually executes here (with a genuinely
    * small dim you would broadcast and salting would be moot; the
    * pattern exists for build sides too big to broadcast). Deviation
    * arithmetic runs in exact 1e-4 units ([[Det]]) so the aggregate is
    * order- and engine-independent. */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val S = 8
    val events = Tables(spark, dir, "events")
    val dim = events.groupBy("event_type")
      .agg(Det.moneyAvg(col("value"), 4).as("type_avg"))
    val salted = events.withColumn("salt", pmod(hash(col("event_id")), lit(S)))
    val dimX = dim.withColumn("salt", explode(expr(s"sequence(0, ${S - 1})")))
    salted.join(dimX.hint("shuffle_hash"), Seq("event_type", "salt"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        (sum(abs(Det.units(col("value"), 4) - Det.units(col("type_avg"), 4)))
          .cast("double") / 10000.0).as("total_abs_dev"))
      .orderBy("event_type")
  }

  val saltedJoinSql: String =
    s"""WITH dim AS (
       |  SELECT event_type, ${Det.moneyAvgSql("value", 4)} AS type_avg
       |  FROM events GROUP BY 1)
       |SELECT e.event_type, count(*) AS n_events,
       |       CAST(sum(abs(CAST(round(e.value * 10000) AS BIGINT) -
       |                    CAST(round(d.type_avg * 10000) AS BIGINT))) AS DOUBLE) / 10000.0 AS total_abs_dev
       |FROM events e JOIN dim d ON e.event_type = d.event_type
       |GROUP BY e.event_type
       |ORDER BY e.event_type""".stripMargin

  /** Lag/lead window analytics: per-user inter-event gap stats over the
    * event stream — sessionization's building block. Gaps are exact
    * integer seconds → engine-identical averages via Det. */
  def lagLead(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(spark, dir, "events")
      .withColumn("gap",
        unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(w)))
      .groupBy("user_id")
      .agg(
        count(col("gap")).as("n_gaps"),
        Det.rnd(sum("gap").cast("double") / count(col("gap")), 2).as("avg_gap_s"),
        max("gap").as("max_gap_s"))
      .orderBy("user_id")
  }

  val lagLeadSql: String =
    s"""SELECT user_id, count(gap) AS n_gaps,
       |       ${Det.rndSql("CAST(sum(gap) AS DOUBLE) / count(gap)", 2)} AS avg_gap_s,
       |       max(gap) AS max_gap_s
       |FROM (SELECT user_id,
       |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) -
       |               CAST(epoch(date_trunc('second', lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap
       |      FROM events)
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  /** Small-files COMPACTION + predicate-aligned sort layout — the
    * table-maintenance rewrite every long-lived 100 TB dataset needs
    * (streaming ingest leaves thousands of tiny files; scan cost and
    * driver planning degrade with file count). One guarded rewrite:
    * `repartitionByRange(event_type, ts)` + `sortWithinPartitions` —
    * range partitioning makes each output file cover a disjoint
    * (type, time) slice and the in-file sort tightens parquet
    * row-group min/max bounds, so a later filter on either column
    * prunes files AND row groups (`q_partitioned_scan`'s directory
    * pruning, generalized to within-file layout). The oracled query
    * then aggregates the COMPACTED copy — identical results to
    * aggregating the source proves the rewrite is a pure physical
    * transform (the oracle reads the original), while the layout
    * claims (bounded file count, pruning) are ScalaTest-asserted. */
  def compaction(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${Tables.scratchDir}/compacted_events"
    if (spark.conf.getOption("graft.compacted.dir").forall(_ != dir)) {
      Tables(spark, dir, "events")
        .repartitionByRange(4, col("event_type"), col("ts"))
        .sortWithinPartitions("event_type", "ts")
        .write.mode("overwrite").parquet(path)
      spark.conf.set("graft.compacted.dir", dir)
    }
    spark.read.parquet(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        Det.moneySum(col("value")).as("total_value"),
        countDistinct("user_id").as("n_users"))
      .orderBy("event_type")
  }

  val compactionSql: String =
    s"""SELECT event_type, count(*) AS cnt,
       |       ${Det.moneySumSql("value")} AS total_value,
       |       count(DISTINCT user_id) AS n_users
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** Z-ORDER (Morton-curve) data layout — the multi-dimensional
    * clustering every lakehouse table maintenance job offers (Delta
    * OPTIMIZE ZORDER BY, Iceberg sort orders) and vanilla Spark has no
    * statement for: both join/filter keys are scaled into 16-bit
    * grids, their bits INTERLEAVED into one 32-bit Morton value, and
    * the table is range-partitioned + sorted by that value. A
    * contiguous z-range maps to a bounded rectangle in (custkey,
    * orderkey) space, so per-file min/max stats become selective for
    * predicates on EITHER key — single-key range layout (q_compaction)
    * gives that for one dimension only. At 100 TB this is the
    * difference between pruning row groups on both `WHERE o_custkey
    * BETWEEN ...` and `WHERE o_orderkey BETWEEN ...` from one layout.
    *
    * Everything is exact integer arithmetic (scale = key·2¹⁶ /
    * (max+1), bit interleave = shift/mask sums), so the oracle
    * replays the z computation and the per-z-bucket audit (count +
    * bounding rectangle per coarse z range — the distributional
    * witness of curve locality); the PHYSICAL layout (disjoint
    * per-file z ranges, small per-file rectangles) is asserted in
    * ScalaTest, like q_compaction's. The guarded one-time write is
    * the compaction pattern. */
  def zorder(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${Tables.scratchDir}/zorder_orders"
    val interleave = (0 until 16).map(i =>
      s"shiftleft((x16 >> $i) & 1, ${2 * i}) + shiftleft((y16 >> $i) & 1, ${2 * i + 1})")
      .mkString(" + ")
    if (spark.conf.getOption("graft.zorder.dir").forall(_ != dir)) {
      val orders = Tables(spark, dir, "orders")
      val maxes = orders.agg(
        max("o_custkey").as("mx"), max("o_orderkey").as("my"))
      orders.crossJoin(broadcast(maxes))
        .withColumn("x16", expr("o_custkey * 65536 div (mx + 1)"))
        .withColumn("y16", expr("o_orderkey * 65536 div (my + 1)"))
        .withColumn("z", expr(interleave))
        .drop("mx", "my", "x16", "y16")
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(path)
      spark.conf.set("graft.zorder.dir", dir)
    }
    spark.read.parquet(path)
      .groupBy(expr("CAST(z div 268435456 AS INT)").as("zbucket")) // 16 coarse z ranges
      .agg(count(lit(1)).as("cnt"),
        min("o_custkey").as("min_ck"), max("o_custkey").as("max_ck"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
      .orderBy("zbucket")
  }

  val zorderSql: String = {
    val interleave = (0 until 16).map(i =>
      s"(((x16 >> $i) & 1) << ${2 * i}) + (((y16 >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH m AS (SELECT max(o_custkey) AS mx, max(o_orderkey) AS my FROM orders),
       |z AS (SELECT o_custkey, o_orderkey, $interleave AS z
       |      FROM (SELECT o_custkey, o_orderkey,
       |                   o_custkey * 65536 // (mx + 1) AS x16,
       |                   o_orderkey * 65536 // (my + 1) AS y16
       |            FROM orders CROSS JOIN m))
       |SELECT CAST(z // 268435456 AS INTEGER) AS zbucket, count(*) AS cnt,
       |       min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
       |       min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
       |FROM z
       |GROUP BY 1
       |ORDER BY zbucket""".stripMargin
  }

  /** Keyless RANGE (interval-overlap) join via time binning — the
    * second temporal join shape Spark lacks natively: count, for
    * EVERY user session (gap-rule intervals, same 30-min rule as
    * [[sessionize]]), the error events of ANY user falling inside
    * it. With no equi-key, Catalyst would plan the raw inequality
    * join as BroadcastNestedLoopJoin — O(sessions × errors), the
    * classic scale-killer. The production shape instead: explode
    * each interval to its covering 1-hour bins, bin each point, then
    * EQUI-join on the bin and apply the exact range predicate after.
    * A point lives in exactly one bin, so every (interval, point)
    * pair meets at most once — no post-join dedup — and the join is
    * a plain shuffled hash join whose fan-out is bounded by interval
    * length / bin width (sessions are gap-bounded, so a handful of
    * bins each; for interval sources with unbounded spans the
    * standard refinement is multi-resolution binning — long intervals
    * explode to coarse bins, points probe every resolution — keeping
    * fan-out logarithmic in span). Zero-match sessions are restored by a left join
    * against the session list (localCheckpointed — one row per
    * session). Integer-second arithmetic on both engines; the DuckDB
    * oracle runs the inequality join directly (its IEJoin), an
    * independent implementation validating the binned plan. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = Tables(spark, dir, "events")
    val sess = ev
      .withColumn("tsec", unix_timestamp(col("ts")))
      .withColumn("gap", col("tsec") - lag("tsec", 1).over(byUser))
      .withColumn("new_session", when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
      .withColumn("session_id", sum("new_session").over(byUser))
      .groupBy("user_id", "session_id")
      .agg(min("tsec").as("s_start"), max("tsec").as("s_end"))
      .transform(graft.Tables.scratchPin(_, "evstudy-sessions")) // one row per session, corpus-linear — durable pin (r11)
    val errs = ev.filter(col("event_type") === "error")
      .select(unix_timestamp(col("ts")).as("tsec"))
      .withColumn("bin", expr("tsec div 3600"))
    val overlaps = sess
      .withColumn("bin", explode(sequence(expr("s_start div 3600"), expr("s_end div 3600"))))
      .join(errs, "bin")
      .filter(col("tsec") >= col("s_start") && col("tsec") <= col("s_end"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n"))
    sess.join(overlaps, Seq("user_id", "session_id"), "left")
      .select(col("user_id"), col("session_id"),
        (col("s_end") - col("s_start")).as("session_len_s"),
        coalesce(col("n"), lit(0L)).as("n_errors"))
      .orderBy("user_id", "session_id")
  }

  val rangeJoinSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec, ts
      |  FROM events),
      |g AS (
      |  SELECT user_id, tsec,
      |         tsec - lag(tsec, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap,
      |         ts, event_id
      |  FROM e),
      |s AS (
      |  SELECT user_id, tsec,
      |         sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM g),
      |sess AS (
      |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |         min(tsec) AS s_start, max(tsec) AS s_end
      |  FROM s GROUP BY 1, 2),
      |err AS (SELECT tsec FROM e WHERE event_type = 'error')
      |SELECT sess.user_id, sess.session_id,
      |       sess.s_end - sess.s_start AS session_len_s,
      |       count(err.tsec) AS n_errors
      |FROM sess LEFT JOIN err ON err.tsec BETWEEN sess.s_start AND sess.s_end
      |GROUP BY sess.user_id, sess.session_id, sess.s_start, sess.s_end
      |ORDER BY sess.user_id, sess.session_id""".stripMargin

  /** CDC UPSERT / MERGE-INTO emulation — the table-maintenance apply
    * every lakehouse pipeline runs and vanilla Spark has no statement
    * for: a deterministic change feed (each customer's LATEST order —
    * window latest-wins dedup, the Spark half of `MERGE`'s "multiple
    * source rows per key" rule) is applied to the base table as
    * UPDATE (order status O/P: account balance := order total) or
    * DELETE (status F: row removed), with unmatched base rows carried
    * unchanged. Shape: changes dedup = one shuffle + in-partition
    * window; apply = a single left join on the key (broadcast- or
    * sort-merge-picked by size) + a codegen'd CASE — merge-on-read,
    * no driver loop, no row-at-a-time path; at 100 TB the join IS
    * the merge. Output audits the applied state per market segment
    * (row counts + exact-cents balance sums + how many rows each op
    * touched), so the oracle hash-checks every applied decision. */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val latest = Window.partitionBy("o_custkey")
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    val changes = Tables(spark, dir, "orders")
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("key"),
        when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"),
        col("o_totalprice").as("new_bal"))
    Tables(spark, dir, "customer")
      .join(changes, col("c_custkey") === col("key"), "left")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("c_mktsegment"),
        when(col("op") === "U", col("new_bal")).otherwise(col("c_acctbal")).as("bal"),
        coalesce(col("op"), lit("K")).as("op"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("op") === "U", 1)).as("n_updated"),
        count(when(col("op") === "K", 1)).as("n_kept"),
        Det.moneySum(col("bal")).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  val upsertSql: String =
    s"""WITH latest AS (
       |  SELECT o_custkey AS key,
       |         CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
       |         o_totalprice AS new_bal
       |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
       |                                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
       |        FROM orders)
       |  WHERE rn = 1),
       |applied AS (
       |  SELECT c.c_mktsegment,
       |         CASE WHEN l.op = 'U' THEN l.new_bal ELSE c.c_acctbal END AS bal,
       |         coalesce(l.op, 'K') AS op
       |  FROM customer c LEFT JOIN latest l ON c.c_custkey = l.key
       |  WHERE l.op IS NULL OR l.op <> 'D')
       |SELECT c_mktsegment, count(*) AS n_rows,
       |       count(CASE WHEN op = 'U' THEN 1 END) AS n_updated,
       |       count(CASE WHEN op = 'K' THEN 1 END) AS n_kept,
       |       ${Det.moneySumSql("bal")} AS total_bal
       |FROM applied
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** Batch twin of the STREAM-STREAM interval join
    * ([[graft.streaming.StreamJobs.intervalJoin]]): every click paired
    * with ALL of the same user's errors from the preceding hour (the
    * as-of join keeps only the latest; this keeps the window). Same
    * join expression as the streaming form — watermarks are no-ops on
    * static frames — so the oracle (DuckDB inequality join) validates
    * the exact condition the streaming query runs with
    * watermark-bounded state. Ordered by (click, error) for
    * deterministic hashing. */
  def intervalJoinBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    graft.streaming.StreamJobs.intervalJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "error"))
      .orderBy("click_id", "err_id")
  }

  val intervalJoinBatchSql: String =
    """SELECT c.event_id AS click_id, c.user_id, e.event_id AS err_id,
      |       epoch_us(c.ts) - epoch_us(e.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |JOIN (SELECT * FROM events WHERE event_type = 'error') e
      |  ON c.user_id = e.user_id
      | AND e.ts >= c.ts - INTERVAL 1 HOUR AND e.ts <= c.ts
      |ORDER BY click_id, err_id""".stripMargin

  /** AS-OF join — the temporal-attribution operator Spark has no
    * native form of (last-touchpoint attribution, quote-to-trade
    * matching): every `click` event is joined to the SAME user's
    * latest `error` event at or before it. Implemented as the
    * scalable union-and-window composition, not a range join: tag
    * both event streams, one shuffle on `user_id`, one in-partition
    * sort on (event time, errors-before-clicks), and a running
    * `last(..., ignoreNulls)` carries the most recent error struct
    * forward — O(n log n) per partition, no candidate explosion, the
    * plan a 100 TB event log needs (a range/theta join is quadratic
    * per user; Catalyst would nested-loop it). Errors sort before
    * clicks at equal timestamps to match closed-interval `e.ts <=
    * c.ts` semantics; the fixture is tie-free at every SF (asserted
    * in ScalaTest), so the pick is unambiguous. The DuckDB oracle is
    * an INDEPENDENT implementation — its native `ASOF LEFT JOIN` —
    * validating the window composition end-to-end, at microsecond
    * granularity on both sides (`unix_micros` / `epoch_us`; the
    * fixture's nanos are generated micro-aligned). */
  /** Ordered event-FUNNEL analysis — the sequential-pattern query of
    * product analytics (and of curriculum-ordering checks in training
    * pipelines): how many users progress signup → view → click →
    * purchase IN TIME ORDER, and how long each hop takes. Stage k's
    * timestamp is the user's earliest qualifying event strictly after
    * stage k-1 — a chain of four conditional window minima over ONE
    * exchange on user_id (each `min(when(...))` references the
    * previous stage's column, so Catalyst stacks the window operators
    * on the same partitioning — no self-joins, no second shuffle, no
    * per-user collect). Gaps are exact integer seconds; the funnel
    * aggregate is 4 rows. */
  /** Per-user strict-progression funnel timestamps (t1..t4) — the
    * window chain of [[eventFunnel]], factored so [[funnelTime]]
    * reuses it. Materialized: one row per user, consumed by several
    * downstream branches. */
  private def funnelStagesOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    events
      .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("tsec"))
      .withColumn("t1", min(when(col("event_type") === "signup", col("tsec"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "view" && col("tsec") > col("t1"), col("tsec"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "click" && col("tsec") > col("t2"), col("tsec"))).over(w))
      .withColumn("t4", min(when(col("event_type") === "purchase" && col("tsec") > col("t3"), col("tsec"))).over(w))
      .groupBy("user_id")
      .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"), max("t4").as("t4"))
      .transform(graft.Tables.scratchPin(_, "funnel-stages")) // one row per user, corpus-linear — durable pin (r11)
  }

  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val staged = funnelStagesOf(Tables(spark, dir, "events"))
    val stages = Seq(
      ("1_signup", col("t1"), lit(null).cast("long")),
      ("2_view", col("t2"), col("t2") - col("t1")),
      ("3_click", col("t3"), col("t3") - col("t2")),
      ("4_purchase", col("t4"), col("t4") - col("t3")))
    stages.map { case (name, t, gap) =>
      staged.filter(t.isNotNull)
        .agg(count(lit(1)).as("n_users"),
          Det.rnd(sum(gap).cast("double") / count(gap), 2).as("avg_gap_s"))
        .select(lit(name).as("stage"), col("n_users"), col("avg_gap_s"))
    }.reduce(_ unionByName _).orderBy("stage")
  }

  val eventFunnelSql: String =
    """WITH e AS (SELECT user_id, event_type,
      |                  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec
      |           FROM events),
      |s1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN tsec END)
      |                   OVER (PARTITION BY user_id) AS t1 FROM e),
      |s2 AS (SELECT *, min(CASE WHEN event_type = 'view' AND tsec > t1 THEN tsec END)
      |                   OVER (PARTITION BY user_id) AS t2 FROM s1),
      |s3 AS (SELECT *, min(CASE WHEN event_type = 'click' AND tsec > t2 THEN tsec END)
      |                   OVER (PARTITION BY user_id) AS t3 FROM s2),
      |s4 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND tsec > t3 THEN tsec END)
      |                   OVER (PARTITION BY user_id) AS t4 FROM s3),
      |u AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3, max(t4) AS t4
      |      FROM s4 GROUP BY 1)
      |SELECT stage, n_users, avg_gap_s FROM (
      |  SELECT '1_signup' AS stage, count(*) AS n_users,
      |         floor((CAST(sum(CAST(NULL AS BIGINT)) AS DOUBLE) / count(CAST(NULL AS BIGINT))) * 100 + 0.5) / 100 AS avg_gap_s
      |  FROM u WHERE t1 IS NOT NULL
      |  UNION ALL
      |  SELECT '2_view', count(*),
      |         floor((CAST(sum(t2 - t1) AS DOUBLE) / count(t2 - t1)) * 100 + 0.5) / 100
      |  FROM u WHERE t2 IS NOT NULL
      |  UNION ALL
      |  SELECT '3_click', count(*),
      |         floor((CAST(sum(t3 - t2) AS DOUBLE) / count(t3 - t2)) * 100 + 0.5) / 100
      |  FROM u WHERE t3 IS NOT NULL
      |  UNION ALL
      |  SELECT '4_purchase', count(*),
      |         floor((CAST(sum(t4 - t3) AS DOUBLE) / count(t4 - t3)) * 100 + 0.5) / 100
      |  FROM u WHERE t4 IS NOT NULL)
      |ORDER BY stage""".stripMargin

  /** Time-series RESAMPLE + forward fill — the gap-filling
    * regularization every metrics/feature pipeline runs before
    * windowed math (pandas `resample().ffill()`; no Spark statement):
    * each user's event stream becomes one row per DAY on a regular
    * grid spanning their observed range, carrying the day's last
    * observation forward across gap days, with the gap flagged.
    *
    * Scale: the daily collapse is a per-(user, day) window rank; the
    * grid is a bounded per-user explode (span days); the fill is a
    * running `last(ignoreNulls)` per user over the GRID (days), not
    * the raw events — all partitioned by user, no global sort, no
    * driver loop. The filled value is copied, never computed, so the
    * oracle compares exactly with no float tolerance. First grid day
    * = first observed day, so the fill is total (no leading nulls). */
  def resample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"),
        col("value"), col("ts"), col("event_id"))
    val daily = ev
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "day").orderBy(desc("ts"), desc("event_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value"))
    val grid = ev.groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val wFill = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled", last("value", ignoreNulls = true).over(wFill))
      .withColumn("is_gap", col("value").isNull.cast("int"))
      .select(col("user_id"), col("day"), col("filled"), col("is_gap"))
      .orderBy("user_id", "day")
  }

  val resampleSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
      |         value, ts, event_id
      |  FROM events),
      |daily AS (
      |  SELECT user_id, day, value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, day
      |                ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM ev)
      |  WHERE rn = 1),
      |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM ev GROUP BY 1),
      |grid AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM span)
      |SELECT g.user_id, g.day,
      |       last_value(d.value IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
      |       CAST(d.value IS NULL AS INTEGER) AS is_gap
      |FROM grid g LEFT JOIN daily d USING (user_id, day)
      |ORDER BY user_id, day""".stripMargin

  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val tagged = Tables(spark, dir, "events")
      .filter(col("event_type").isin("click", "error"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("tus"), when(col("event_type") === "error", 0).otherwise(1), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    tagged
      .withColumn("last_err",
        last(when(col("event_type") === "error",
          struct(col("tus").as("ets"), col("event_id").as("eid"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        col("last_err.eid").as("err_event_id"),
        (col("tus") - col("last_err.ets")).as("gap_us"))
      .orderBy("event_id")
  }

  val asofJoinSql: String =
    """SELECT c.event_id, c.user_id, e.event_id AS err_event_id,
      |       epoch_us(c.ts) - epoch_us(e.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      |  ON c.user_id = e.user_id AND e.ts <= c.ts
      |ORDER BY c.event_id""".stripMargin

  /** Cohort retention triangle (the product-analytics staple the
    * reference's per-batch counters never reach): users are cohorted
    * by their first active day; each (cohort, day-offset) cell counts
    * how many of that cohort were active again offset days later,
    * with retention as a percentage of the cohort's day-0 size.
    *
    * Scale: the raw stream first collapses to DISTINCT (user, day) —
    * at 100 TB that is the only pass over the full events table, and
    * it is a hash-distinct partitioned by the grouping key. The
    * cohort-day window then repartitions only the collapsed pairs
    * (bounded by users × active-days, not events); the final cell
    * aggregate and the cohort-size window run on the triangle itself
    * (≤ cohorts × span rows). All-integer arithmetic until the one
    * rounded percentage. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ud = Tables(spark, dir, "events")
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
    val cells = ud
      .withColumn("cohort_day", min("day").over(Window.partitionBy("user_id")))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
    cells
      .withColumn("cohort_size",
        max(when(col("day_offset") === 0, col("n_active")))
          .over(Window.partitionBy("cohort_day")))
      .withColumn("retention_pct",
        Det.rnd(col("n_active") * lit(100.0) / col("cohort_size"), 2))
      .orderBy("cohort_day", "day_offset")
  }

  val retentionSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id,
       |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day
       |  FROM events),
       |c AS (SELECT user_id, day,
       |             min(day) OVER (PARTITION BY user_id) AS cohort_day
       |      FROM ud),
       |cells AS (
       |  SELECT cohort_day, day - cohort_day AS day_offset, count(*) AS n_active
       |  FROM c GROUP BY 1, 2),
       |sized AS (
       |  SELECT *, max(CASE WHEN day_offset = 0 THEN n_active END)
       |              OVER (PARTITION BY cohort_day) AS cohort_size
       |  FROM cells)
       |SELECT cohort_day, day_offset, n_active, cohort_size,
       |       ${Det.rndSql("n_active * 100.0 / cohort_size", 2)} AS retention_pct
       |FROM sized
       |ORDER BY cohort_day, day_offset""".stripMargin

  /** Rolling active-user counts — DAU and trailing-7-day WAU per day,
    * plus the DAU/WAU "stickiness" ratio. The rolling DISTINCT is the
    * hard part (a range-frame window can't deduplicate): each
    * collapsed (user, day) pair is exploded to the ≤7 window-end days
    * it contributes to, and each window end counts distinct users —
    * turning the rolling distinct into a plain bounded-fan-out
    * hash aggregate.
    *
    * Scale: one full-events pass (the same DISTINCT collapse as
    * [[retention]]), then a ×7 explode of the bounded (user, day)
    * table into a distinct-aggregate partitioned by day. No global
    * window, no per-day self-join cascade, no driver loop. The
    * output rides a generated day SPINE over the observed range, so
    * a day with zero events still emits its row (dau=0, and its
    * trailing-week wau) — an inner join on dau would silently hole
    * the series exactly where an outage made it interesting.
    * Stickiness is null on zero-dau days (0/wau is a real 0%, but
    * 0-event days usually mean missing data, not dead users). */
  def activeUsers(spark: SparkSession, dir: String): DataFrame =
    activeUsersOf(Tables(spark, dir, "events"))

  private[graft] def activeUsersOf(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
      .transform(graft.Tables.scratchPin(_, "active-ud")) // (user×day) distinct, corpus-linear — durable pin (r11)
    val spine = ud.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
      .groupBy("day")
      .agg(countDistinct("user_id").as("wau"))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    spine
      .join(dau, Seq("day"), "left")
      .join(wau, Seq("day"), "left")
      // a >6-day outage leaves even the trailing week empty: wau=0 too
      .na.fill(0L, Seq("dau", "wau"))
      .withColumn("stickiness",
        when(col("dau") > 0, Det.rnd(col("dau") * lit(100.0) / col("wau"), 2)))
      .orderBy("day")
  }

  val activeUsersSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id,
       |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day
       |  FROM events),
       |spine AS (
       |  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM ud),
       |wau AS (
       |  SELECT day + o AS day, count(DISTINCT user_id) AS wau
       |  FROM ud CROSS JOIN range(7) t(o)
       |  GROUP BY 1),
       |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1)
       |SELECT s.day, coalesce(d.dau, 0) AS dau, coalesce(w.wau, 0) AS wau,
       |       CASE WHEN coalesce(d.dau, 0) > 0
       |            THEN ${Det.rndSql("d.dau * 100.0 / w.wau", 2)} END AS stickiness
       |FROM spine s
       |LEFT JOIN dau d ON s.day = d.day
       |LEFT JOIN wau w ON s.day = w.day
       |ORDER BY s.day""".stripMargin

  /** UNPIVOT / melt — the inverse of the reference's unstack (pandas
    * `melt`; `Dataset.unpivot` in Spark): the per-user wide activity
    * matrix (one count column per event type) flattens back to tidy
    * long form, zero cells included. The pivot takes its column
    * domain as a STATIC list — at scale the implicit-pivot extra
    * distinct-collect pass over the fact table is the thing to avoid
    * (same rationale as the broadcast threshold tables in
    * stratified sampling). Unpivot itself is a zero-shuffle
    * projection (an Expand node — each wide row emits k long rows). */
  def unpivot(spark: SparkSession, dir: String): DataFrame = {
    val types = RecommenderQueries.EventTypes
    val wide = Tables(spark, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
    wide.unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "cnt")
      .orderBy("user_id", "event_type")
  }

  val unpivotSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
      |c AS (SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2)
      |SELECT u.user_id, t.event_type, coalesce(c.cnt, 0) AS cnt
      |FROM u CROSS JOIN t
      |LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
      |ORDER BY u.user_id, t.event_type""".stripMargin

  /** Exact grouped percentiles (p50/p90/p99 of event value per type)
    * — the EXACT tier next to the GK-sketch scale path
    * (`q_quantile_sketch`). Percentile-by-rank-pick semantics: the
    * element at 1-based rank ⌈p·n⌉ in (value, event_id) order — the
    * chosen value is COPIED, never interpolated, and the rank is pure
    * integer arithmetic (`(n·k + 99) div 100`), so both engines agree
    * bit-for-bit with no float tolerance (cross-engine
    * percentile_cont interpolation conventions never enter).
    *
    * Scale: one exchange on the group key, one in-partition sort
    * (rank + group size ride the same window partitioning, and the
    * final aggregate collapses in-place). At 100 TB you reach for the
    * sketch twin; this is the exact-answer contract for the sizes
    * where exactness is affordable. */
  def groupPercentile(spark: SparkSession, dir: String): DataFrame =
    groupPercentileOf(Tables(spark, dir, "events"))

  private[graft] def groupPercentileOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = events
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("value", "event_id")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
    ranked
      .groupBy("event_type")
      .agg(
        max("n").as("n"),
        max(when(col("rn") === expr("(n * 50 + 99) div 100"), col("value"))).as("p50"),
        max(when(col("rn") === expr("(n * 90 + 99) div 100"), col("value"))).as("p90"),
        max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("value"))).as("p99"))
      .orderBy("event_type")
  }

  val groupPercentileSql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, max(n) AS n,
      |       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
      |       max(CASE WHEN rn = (n * 90 + 99) // 100 THEN value END) AS p90,
      |       max(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99
      |FROM r GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** SCD type-2 dimension build — compress each user's event-type
    * history into validity intervals: consecutive same-state events
    * collapse into one run, each run carries [eff_us, end_us) bounds
    * (end = next run's start, open for the current run), its event
    * count, and an `is_current` flag. This is the warehouse staple for
    * turning an append-only change stream into a queryable
    * point-in-time dimension (the batch twin of
    * [[ExtensionQueries.upsert]]'s latest-wins MERGE: upsert keeps the
    * newest version, SCD-2 keeps them ALL with validity).
    *
    * Scale: one exchange on user_id, one in-partition sort — the
    * change flag (lag), the run id (running sum), and the run window
    * (lead over runs) all ride the same partitioning; the run
    * aggregation is map-side-combinable on (user_id, run_id). All
    * arithmetic is exact integers (micros, counts, run ids). */
  def scd2(spark: SparkSession, dir: String): DataFrame =
    scd2Of(Tables(spark, dir, "events"))

  private[graft] def scd2Of(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val runs = events
      .select(col("user_id"), col("event_type").as("state"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      .withColumn("chg",
        when(lag("state", 1).over(byUser).isNull
          || lag("state", 1).over(byUser) =!= col("state"), 1L).otherwise(0L))
      .withColumn("run_id", sum("chg").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id")
      .agg(min("state").as("state"), min("tus").as("eff_us"),
        count(lit(1)).as("n_events"))
    val byRun = Window.partitionBy("user_id").orderBy("run_id")
    runs
      .withColumn("end_us", lead("eff_us", 1).over(byRun))
      .withColumn("is_current", col("end_us").isNull)
      .select(col("user_id"), col("run_id"), col("state"), col("eff_us"),
        col("end_us"), col("n_events"), col("is_current"))
      .orderBy("user_id", "run_id")
  }

  val scd2Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type AS state, epoch_us(ts) AS tus, event_id,
      |         CASE WHEN lag(event_type) OVER w IS NULL
      |                OR lag(event_type) OVER w <> event_type
      |              THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |r AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
      |              ORDER BY tus, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |              AS run_id
      |  FROM e),
      |runs AS (
      |  SELECT user_id, run_id, min(state) AS state, min(tus) AS eff_us,
      |         count(*) AS n_events
      |  FROM r GROUP BY 1, 2)
      |SELECT user_id, run_id, state, eff_us,
      |       lead(eff_us) OVER (PARTITION BY user_id ORDER BY run_id) AS end_us,
      |       n_events,
      |       lead(eff_us) OVER (PARTITION BY user_id ORDER BY run_id) IS NULL
      |         AS is_current
      |FROM runs
      |ORDER BY user_id, run_id""".stripMargin

  /** GROUPING SETS with explicit set algebra — the general form of
    * [[rollup]]/[[cube]]: the two one-dimension marginals plus the
    * full cross and the grand total over lineitem's (returnflag,
    * linestatus), with `grouping_id` disambiguating aggregated-away
    * NULLs from data NULLs (bit i set = column i aggregated; both
    * engines emit the same first-column-MSB convention).
    *
    * Scale: Catalyst plans grouping sets as one Expand (each row
    * emitted once per set) + one hash aggregate — a single shuffle
    * whose width is the SUM of the set cardinalities, not a re-scan
    * per set (the naive UNION ALL of four GROUP BYs reads the fact
    * table four times; this reads it once). Measures are exact
    * integers ([[Det]] money cents / integral quantity). */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    li.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        Det.moneySum(col("l_extendedprice")).as("sum_price"))
      // aggregated-away cells print as 'ALL' (the [[rollup]] convention
      // — also dodges the engines' opposite NULL sort defaults)
      .select(col("gid"),
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"), col("sum_price"))
      .orderBy("gid", "returnflag", "linestatus")
  }

  val groupingSetsAggSql: String =
    s"""SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       |       coalesce(l_returnflag, 'ALL') AS returnflag,
       |       coalesce(l_linestatus, 'ALL') AS linestatus,
       |       count(*) AS n,
       |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       |       ${Det.moneySumSql("l_extendedprice")} AS sum_price
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
       |                        (l_returnflag), (l_linestatus), ())
       |ORDER BY gid, returnflag, linestatus""".stripMargin

  /** Robust anomaly detection via MAD (median absolute deviation) —
    * the data-quality screen that survives what z-scores don't: the
    * mean and stddev of [[BatchQueries.zscoreOutliers]] are themselves
    * dragged by the outliers they hunt, while the median/MAD pair has
    * a 50% breakdown point. Per event type: exact median (rank-pick),
    * MAD, and the count beyond the standard 3σ-equivalent gate
    * |x − med| > 3·1.4826·MAD.
    *
    * Scale: same shape as [[groupPercentile]] — one exchange per
    * ranking pass on the group key (two passes: values, then
    * deviations), group count bounded by event-type cardinality, the
    * per-type medians broadcast back. Fully deterministic with NO
    * rounding: medians are COPIED values (rank-pick, never
    * interpolated), deviations/thresholds are identical IEEE ops on
    * identical doubles, and the outlier count is an integer. */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame =
    anomalyMadOf(Tables(spark, dir, "events"))

  private[graft] def anomalyMadOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def rankPick(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(valueCol, "event_id")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(max(when(col("rn") === expr("(n + 1) div 2"), col(valueCol))).as(out))
    }
    val vals = events.select(col("event_type"), col("value"), col("event_id"))
      .transform(graft.Tables.scratchPin(_, "mad-vals")) // event-sized, corpus-linear — durable pin (r11)
    val med = rankPick(vals, "value", "med")
    val dev = vals.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = rankPick(dev.select(col("event_type"), col("dev"), col("event_id")),
      "dev", "mad")
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        min("med").as("med"),
        min("mad").as("mad"),
        sum(when(col("dev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        max("dev").as("max_dev"))
      .orderBy("event_type")
  }

  /** Percentile winsorization — the outlier TREATMENT next to the
    * detection tier ([[anomalyMad]] flags, this clamps): per event
    * type, values are capped at the exact rank-pick p05/p95 (copied
    * values, never interpolated — the [[groupPercentile]] semantics),
    * with clamp-count accounting and the winsorized mean, the robust
    * location estimate a metrics pipeline reports when single fat-
    * finger events would otherwise move the needle.
    *
    * Scale: ONE exchange on the group key — the ranking window, the
    * threshold aggregate, the broadcast-back join and the final
    * aggregate all ride event_type partitioning; thresholds are a
    * group-cardinality-sized broadcast. The winsorized mean sums
    * exact integer cents ([[Det]]) — clamped values are copies of
    * 2-dp inputs, so the sum is order-independent and engine-exact. */
  def winsorize(spark: SparkSession, dir: String): DataFrame =
    winsorizeOf(Tables(spark, dir, "events"))

  private[graft] def winsorizeOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = events
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("value", "event_id")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
    val thr = ranked.groupBy("event_type").agg(
      max(when(col("rn") === expr("(n * 5 + 99) div 100"), col("value"))).as("p05"),
      max(when(col("rn") === expr("(n * 95 + 99) div 100"), col("value"))).as("p95"))
    events.select(col("event_type"), col("value"))
      .join(broadcast(thr), "event_type")
      .withColumn("wv", least(greatest(col("value"), col("p05")), col("p95")))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        min("p05").as("p05"),
        min("p95").as("p95"),
        sum(when(col("value") < col("p05"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("value") > col("p95"), 1L).otherwise(0L)).as("n_high"),
        Det.fixedAvg(col("wv"), 2, 4).as("win_mean"))
      .orderBy("event_type")
  }

  val winsorizeSql: String =
    s"""WITH r AS (
       |  SELECT event_type, value,
       |         row_number() OVER (PARTITION BY event_type
       |                            ORDER BY value, event_id) AS rn,
       |         count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events),
       |thr AS (
       |  SELECT event_type,
       |         max(CASE WHEN rn = (n * 5 + 99) // 100 THEN value END) AS p05,
       |         max(CASE WHEN rn = (n * 95 + 99) // 100 THEN value END) AS p95
       |  FROM r GROUP BY 1),
       |w AS (SELECT e.event_type, e.value, thr.p05, thr.p95,
       |             least(greatest(e.value, thr.p05), thr.p95) AS wv
       |      FROM events e JOIN thr USING (event_type))
       |SELECT event_type, count(*) AS n, min(p05) AS p05, min(p95) AS p95,
       |       CAST(sum(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       |       CAST(sum(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       |       ${Det.fixedAvgSql("wv", 2, 4)} AS win_mean
       |FROM w GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** The SQL rank-function family in one oracled pass — ntile
    * quartile assignment, percent_rank, cume_dist per event type over
    * (value, event_id) order, aggregated to per-quartile bands (count,
    * value bounds, the quartile's top percent-rank/cume-dist). The
    * unique tiebreak makes rank = row_number, so percent_rank and
    * cume_dist are exact ratios of identical integers in both engines
    * — no rounding anywhere.
    *
    * Scale: one exchange on the group key; all three rank functions
    * and the band aggregate ride the same sorted partition. */
  def rankFunctions(spark: SparkSession, dir: String): DataFrame =
    rankFunctionsOf(Tables(spark, dir, "events"))

  private[graft] def rankFunctionsOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    events.select(col("event_type"), col("value"), col("event_id"))
      .withColumn("q", ntile(4).over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .groupBy("event_type", "q")
      .agg(count(lit(1)).as("n"), min("value").as("lo"), max("value").as("hi"),
        max("pr").as("max_pr"), max("cd").as("max_cd"))
      .orderBy("event_type", "q")
  }

  val rankFunctionsSql: String =
    """WITH r AS (
      |  SELECT event_type, value, event_id,
      |         CAST(ntile(4) OVER w AS BIGINT) AS q,
      |         percent_rank() OVER w AS pr,
      |         cume_dist() OVER w AS cd
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id))
      |SELECT event_type, q, count(*) AS n, min(value) AS lo, max(value) AS hi,
      |       max(pr) AS max_pr, max(cd) AS max_cd
      |FROM r GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Chi-square independence test — is event type independent of a
    * (deterministic) user cohort? The data-quality / experimentation
    * primitive: observed counts per (event_type, cohort = user_id mod
    * 4) cell vs expected row·col/N, χ² = Σ(o−e)²/e with
    * (rows−1)(cols−1) degrees of freedom. One output row.
    *
    * Scale: the corpus-sized work is the single contingency-table
    * aggregation (map-side combinable, cells bounded by types ×
    * cohorts); marginals and the χ² reduction run on the tiny cell
    * table. Observed counts and dof are exact integers; expected
    * values are identical IEEE ratios of exact integers; only the
    * ≤(types·cohorts)-term χ² sum is order-sensitive (~1e-16),
    * far inside the 6-dp rounding. */
  def chiSquare(spark: SparkSession, dir: String): DataFrame =
    chiSquareOf(Tables(spark, dir, "events"))

  private[graft] def chiSquareOf(events: DataFrame): DataFrame = {
    val obs = events
      .select(col("event_type"), (col("user_id") % 4).as("cohort"))
      .groupBy("event_type", "cohort").agg(count(lit(1)).as("o"))
      .localCheckpoint() // tiny; feeds marginals + the cell reduction
    val rt = obs.groupBy("event_type").agg(sum("o").as("rt"))
    val ct = obs.groupBy("cohort").agg(sum("o").as("ct"))
    val tot = obs.agg(sum("o").as("n"),
      countDistinct("event_type").as("nr"), countDistinct("cohort").as("nc"))
    obs.join(broadcast(rt), "event_type")
      .join(broadcast(ct), "cohort")
      .crossJoin(broadcast(tot))
      .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
      .withColumn("x2", (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
      .agg(
        max(col("n")).as("n"),
        max((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        Det.rnd(sum("x2"), 6).as("chi2"))
  }

  val chiSquareSql: String =
    s"""WITH obs AS (
       |  SELECT event_type, user_id % 4 AS cohort, count(*) AS o
       |  FROM events GROUP BY 1, 2),
       |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
       |ct AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
       |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
       |               count(DISTINCT event_type) AS nr,
       |               count(DISTINCT cohort) AS nc
       |        FROM obs),
       |cells AS (
       |  SELECT obs.o,
       |         CAST(rt.rt AS DOUBLE) * ct.ct / tot.n AS e,
       |         tot.n, tot.nr, tot.nc
       |  FROM obs JOIN rt USING (event_type) JOIN ct USING (cohort)
       |  CROSS JOIN tot)
       |SELECT max(n) AS n, CAST(max((nr - 1) * (nc - 1)) AS BIGINT) AS dof,
       |       ${Det.rndSql("sum((o - e) * (o - e) / e)", 6)} AS chi2
       |FROM cells""".stripMargin

  /** Two-sample z-test (Welch) on purchase value between the two
    * deterministic user cohorts (user_id mod 2) — the experimentation
    * readout beside [[chiSquare]]'s categorical independence test.
    * EXACT cross-engine with zero rounding, the [[burstiness]]
    * technique on money: values are exact integer CENTS, means and
    * population variances come from integer moment sums
    * (σ² = (n·Σx²−(Σx)²)/n²), and z = Δμ/√(σ²ᴀ/nᴀ+σ²ʙ/nʙ) is a chain
    * of correctly-rounded IEEE ops on identical doubles. Overflow
    * bound: n·Σx² < 2⁶³ holds to ~10⁹ rows at 4-digit dollar values;
    * past that the sums move to decimal.
    *
    * Scale: ONE pass, no shuffle beyond the final single-row
    * aggregate — both cohorts' three moment sums ride conditional
    * aggregation in the same map-side-combinable reduction. */
  def abTest(spark: SparkSession, dir: String): DataFrame =
    abTestOf(Tables(spark, dir, "events"))

  private[graft] def abTestOf(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("g"), Det.cents(col("value")).as("c"))
    def side(g: Int, name: String) = Seq(
      sum(when(col("g") === g, 1L).otherwise(0L)).as(s"n_$name"),
      sum(when(col("g") === g, col("c")).otherwise(0L)).as(s"s_$name"),
      sum(when(col("g") === g, col("c") * col("c")).otherwise(0L)).as(s"ssq_$name"))
    val moments = side(0, "a") ++ side(1, "b")
    val m = p.agg(moments.head, moments.tail: _*)
    def mean(s: String, n: String) = col(s).cast("double") / col(n)
    def variance(n: String, s: String, ssq: String) =
      (col(n) * col(ssq) - col(s) * col(s)).cast("double") / (col(n) * col(n))
    m.select(
        col("n_a"), col("n_b"),
        (mean("s_a", "n_a") / 100.0).as("mean_a"),
        (mean("s_b", "n_b") / 100.0).as("mean_b"),
        ((mean("s_a", "n_a") - mean("s_b", "n_b")) /
          sqrt(variance("n_a", "s_a", "ssq_a") / col("n_a")
            + variance("n_b", "s_b", "ssq_b") / col("n_b"))).as("z"))
  }

  val abTestSql: String = {
    val c = Det.centsSql("value")
    def agg(g: Int, n: String) =
      s"""CAST(sum(CASE WHEN user_id % 2 = $g THEN 1 ELSE 0 END) AS BIGINT) AS n_$n,
         |CAST(sum(CASE WHEN user_id % 2 = $g THEN $c ELSE 0 END) AS BIGINT) AS s_$n,
         |CAST(sum(CASE WHEN user_id % 2 = $g THEN $c * $c ELSE 0 END) AS BIGINT) AS ssq_$n""".stripMargin
    s"""WITH m AS (
       |  SELECT ${agg(0, "a")},
       |         ${agg(1, "b")}
       |  FROM events WHERE event_type = 'purchase')
       |SELECT n_a, n_b,
       |       CAST(s_a AS DOUBLE) / n_a / 100.0 AS mean_a,
       |       CAST(s_b AS DOUBLE) / n_b / 100.0 AS mean_b,
       |       (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
       |         / sqrt(CAST(n_a * ssq_a - s_a * s_a AS DOUBLE) / (n_a * n_a) / n_a
       |              + CAST(n_b * ssq_b - s_b * s_b AS DOUBLE) / (n_b * n_b) / n_b)
       |         AS z
       |FROM m""".stripMargin
  }

  /** Hour-of-week seasonality profile — per (day-of-week, hour) event
    * counts, traffic share, and exact-cents mean value: the capacity-
    * planning / anomaly-baseline heatmap. Day-of-week comes from pure
    * epoch-day integer arithmetic ((days+4) mod 7, 0 = Sunday — no
    * engine calendar/locale conventions involved; UTC contract).
    *
    * Scale: one map-side-combinable aggregate to ≤168 cells; the
    * share window runs on the cell table. */
  def seasonality(spark: SparkSession, dir: String): DataFrame =
    seasonalityOf(Tables(spark, dir, "events"))

  private[graft] def seasonalityOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = events
      .select(expr("(unix_timestamp(ts) div 86400 + 4) % 7").as("dow"),
        expr("(unix_timestamp(ts) div 3600) % 24").as("hour"),
        Det.cents(col("value")).as("c"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("n"), sum("c").as("s"))
    cells
      .withColumn("total", sum("n").over(Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("dow"), col("hour"), col("n"),
        Det.rnd(col("n").cast("double") / col("total"), 6).as("share"),
        Det.rnd(col("s").cast("double") / (col("n") * 100.0), 4).as("avg_value"))
      .orderBy("dow", "hour")
  }

  val seasonalitySql: String =
    s"""WITH cells AS (
       |  SELECT (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 + 4) % 7 AS dow,
       |         (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) % 24 AS hour,
       |         count(*) AS n,
       |         CAST(sum(${Det.centsSql("value")}) AS BIGINT) AS s
       |  FROM events GROUP BY 1, 2)
       |SELECT dow, hour, n,
       |       ${Det.rndSql("CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS BIGINT)", 6)} AS share,
       |       ${Det.rndSql("CAST(s AS DOUBLE) / (n * 100.0)", 4)} AS avg_value
       |FROM cells
       |ORDER BY dow, hour""".stripMargin

  /** First-order Markov transition matrix over each user's event
    * sequence — the behavioral model behind next-action prediction
    * and anomaly-flow detection: per (src → dst) event-type bigram,
    * the transition count and row-normalized probability.
    *
    * Scale: one exchange on user_id for the lag window (the
    * sessionize partitioning), then the bigram aggregate collapses to
    * a types²-bounded matrix; the row-total window runs on that tiny
    * matrix. Counts exact; p = exact-integer ratio, 6-dp rounded. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame =
    markovTransitionsOf(Tables(spark, dir, "events"))

  private[graft] def markovTransitionsOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val counts = events
      .select(col("user_id"), col("event_type").as("dst"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      .withColumn("src", lag("dst", 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("row_total",
        sum("cnt").over(Window.partitionBy("src")))
      .withColumn("p", Det.rnd(col("cnt").cast("double") / col("row_total"), 6))
      .select(col("src"), col("dst"), col("cnt"), col("row_total"), col("p"))
      .orderBy("src", "dst")
  }

  val markovTransitionsSql: String =
    s"""WITH bi AS (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY epoch_us(ts), event_id) AS src,
       |         event_type AS dst
       |  FROM events),
       |c AS (SELECT src, dst, count(*) AS cnt FROM bi
       |      WHERE src IS NOT NULL GROUP BY 1, 2)
       |SELECT src, dst, cnt,
       |       CAST(sum(cnt) OVER (PARTITION BY src) AS BIGINT) AS row_total,
       |       ${Det.rndSql(
         "CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY src) AS BIGINT)", 6)} AS p
       |FROM c
       |ORDER BY src, dst""".stripMargin

  /** Marketing-style attribution — each purchase credits the user's
    * FIRST and LAST preceding non-purchase touch (the two classic
    * single-touch models), aggregated to credited purchases and
    * revenue per touch type. Purchases with no prior touch are
    * excluded from both models (identically in both engines).
    *
    * Scale: one exchange on user_id — both attribution windows ride
    * the same sorted partition (frame: unbounded-preceding to
    * 1-preceding, ignore-nulls first/last); the model aggregate runs
    * on purchases only. Revenue sums exact integer cents ([[Det]]). */
  def attribution(spark: SparkSession, dir: String): DataFrame =
    attributionOf(Tables(spark, dir, "events"))

  private[graft] def attributionOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val p = events
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("last_touch").isNotNull)
      .transform(graft.Tables.scratchPin(_, "attrib-purch")) // purchase-sized, corpus-linear — durable pin (r11)
    def model(c: String) = p.groupBy(col(c).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        Det.moneySum(col("value")).as("revenue"))
      .withColumn("model", lit(c))
    model("first_touch").union(model("last_touch"))
      .select(col("model"), col("touch_type"), col("n_purchases"), col("revenue"))
      .orderBy("model", "touch_type")
  }

  val attributionSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, value,
       |         first_value(CASE WHEN event_type <> 'purchase'
       |                          THEN event_type END IGNORE NULLS)
       |           OVER w AS first_touch,
       |         last_value(CASE WHEN event_type <> 'purchase'
       |                         THEN event_type END IGNORE NULLS)
       |           OVER w AS last_touch
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |p AS (SELECT * FROM e
       |      WHERE event_type = 'purchase' AND last_touch IS NOT NULL)
       |SELECT 'first_touch' AS model, first_touch AS touch_type,
       |       count(*) AS n_purchases,
       |       ${Det.moneySumSql("value")} AS revenue
       |FROM p GROUP BY 2
       |UNION ALL
       |SELECT 'last_touch', last_touch, count(*),
       |       ${Det.moneySumSql("value")}
       |FROM p GROUP BY 2
       |ORDER BY model, touch_type""".stripMargin

  /** Inter-event burstiness per user — Goh-Barabási
    * B = (σ−μ)/(σ+μ) over the user's gap sequence (−1 = perfectly
    * regular, 0 = Poisson, →1 = bursty), the behavioral-cadence
    * feature of bot/anomaly detection. EXACT cross-engine with zero
    * rounding: gaps are integer seconds, so μ and the population
    * variance come from exact integer sums
    * (σ² = (n·Σx² − (Σx)²)/n²) — never from the engines'
    * numerically-divergent streaming stddev — and sqrt/division are
    * correctly-rounded IEEE ops on identical inputs. Overflow bound:
    * n·Σx² stays under 2⁶³ for any user with < ~10⁶ gaps over a
    * ~month span; longer horizons would move the sums to decimal.
    *
    * Scale: one exchange on user_id (the same lag-window
    * partitioning as [[sessionize]]), then a per-user aggregate with
    * map-side partials of three integer sums. */
  def burstiness(spark: SparkSession, dir: String): DataFrame =
    burstinessOf(Tables(spark, dir, "events"))

  private[graft] def burstinessOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    val gaps = events
      .select(col("user_id"), unix_timestamp(col("ts")).as("tsec"), col("event_id"))
      .withColumn("gap", col("tsec") - lag("tsec", 1).over(w))
      .filter(col("gap").isNotNull)
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("gap").as("s"),
        sum(col("gap") * col("gap")).as("ssq"))
      .withColumn("mu", col("s").cast("double") / col("n"))
      .withColumn("sd", sqrt(
        (col("n") * col("ssq") - col("s") * col("s")).cast("double")
          / (col("n") * col("n"))))
      .select(col("user_id"), col("n").as("n_gaps"), col("mu").as("mean_gap_s"),
        col("sd").as("sd_gap_s"),
        ((col("sd") - col("mu")) / (col("sd") + col("mu"))).as("burstiness"))
      .orderBy("user_id")
  }

  val burstinessSql: String =
    """WITH g AS (
      |  SELECT user_id,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT)
      |           - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
      |             OVER (PARTITION BY user_id
      |                   ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT),
      |                            event_id) AS gap
      |  FROM events),
      |a AS (SELECT user_id, count(*) AS n, CAST(sum(gap) AS BIGINT) AS s,
      |             CAST(sum(gap * gap) AS BIGINT) AS ssq
      |      FROM g WHERE gap IS NOT NULL GROUP BY 1)
      |SELECT user_id, n AS n_gaps,
      |       CAST(s AS DOUBLE) / n AS mean_gap_s,
      |       sqrt(CAST(n * ssq - s * s AS DOUBLE) / (n * n)) AS sd_gap_s,
      |       (sqrt(CAST(n * ssq - s * s AS DOUBLE) / (n * n))
      |          - CAST(s AS DOUBLE) / n)
      |         / (sqrt(CAST(n * ssq - s * s AS DOUBLE) / (n * n))
      |          + CAST(s AS DOUBLE) / n) AS burstiness
      |FROM a
      |ORDER BY user_id""".stripMargin

  /** One-pass column profiling — the data-quality reconnaissance a
    * pipeline runs on an unfamiliar table before anything else: per
    * column, row/null/distinct counts and min/max (typed lanes:
    * strings in min_s/max_s, numerics in min_num/max_num — numeric
    * extremes as strings would cross-engine-diverge on float
    * formatting, and "10" < "9" lexicographically).
    *
    * Scale: ALL columns profile in ONE table scan — the per-column
    * aggregates ride a single hash-aggregate row, and `stack` pivots
    * that row to tidy per-column output (a zero-shuffle Generate).
    * The naive per-column UNION ALL re-scans the table once per
    * column; at 100 TB that multiplier is the whole cost. Distinct
    * counts are exact here (the profile is also where you'd swap in
    * approx_count_distinct past memory limits — documented, not
    * silently done). */
  def profile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
    val agg = o.agg(
      count(lit(1)).as("n"),
      nulls("o_orderstatus").as("st_null"),
      countDistinct("o_orderstatus").as("st_dist"),
      min("o_orderstatus").as("st_min"), max("o_orderstatus").as("st_max"),
      nulls("o_orderpriority").as("pr_null"),
      countDistinct("o_orderpriority").as("pr_dist"),
      min("o_orderpriority").as("pr_min"), max("o_orderpriority").as("pr_max"),
      nulls("o_custkey").as("ck_null"),
      countDistinct("o_custkey").as("ck_dist"),
      min("o_custkey").cast("double").as("ck_min"),
      max("o_custkey").cast("double").as("ck_max"),
      nulls("o_totalprice").as("tp_null"),
      countDistinct("o_totalprice").as("tp_dist"),
      min("o_totalprice").as("tp_min"), max("o_totalprice").as("tp_max"))
    agg.select(col("n"), expr(
      """stack(4,
        |  'o_orderstatus',   st_null, st_dist, st_min, st_max,
        |                     CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_orderpriority', pr_null, pr_dist, pr_min, pr_max,
        |                     CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_custkey',       ck_null, ck_dist, CAST(NULL AS STRING),
        |                     CAST(NULL AS STRING), ck_min, ck_max,
        |  'o_totalprice',    tp_null, tp_dist, CAST(NULL AS STRING),
        |                     CAST(NULL AS STRING), tp_min, tp_max
        |) AS (col_name, n_null, n_distinct, min_s, max_s, min_num, max_num)
        |""".stripMargin))
      .select(col("col_name"), col("n"), col("n_null"), col("n_distinct"),
        col("min_s"), col("max_s"), col("min_num"), col("max_num"))
      .orderBy("col_name")
  }

  /** [[profile]]'s 100-TB tier IN CODE (VERDICT r6 #6): the same
    * one-scan tidy profile with an `approx_count_distinct` (HLL++,
    * rsd 0.02) lane BESIDE each exact distinct count. The exact lane
    * plans a ~5× Expand of the scanned table (one duplicate stream
    * per DISTINCT aggregate — the documented exact tier, fine to
    * sf-scale); the sketch lane adds no Expand stream, so a pipeline
    * that drops the exact columns at 100 TB profiles at scan speed.
    * Emitting BOTH from one aggregate keeps them bitwise-comparable
    * in a single pass — the ScalaTest bounds the sketch's relative
    * error against the exact lane. Not oracled: HLL++ estimates are
    * engine-private (DuckDB's sketch differs), so the exact-lane
    * [[profile]] remains the CORRECTNESS-gated surface. */
  private[graft] def profileApprox(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val cols = Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice")
    val aggs = cols.flatMap { c =>
      Seq(countDistinct(col(c)).as(s"${c}_d"),
        approx_count_distinct(col(c), 0.02).as(s"${c}_a"))
    }
    val row = o.agg(count(lit(1)).as("n"), aggs: _*)
    val stackArgs = cols
      .map(c => s"'$c', ${c}_d, ${c}_a").mkString(",\n  ")
    row.select(col("n"), expr(
        s"stack(${cols.size},\n  $stackArgs\n) AS (col_name, n_distinct, n_distinct_approx)"))
      .select("col_name", "n", "n_distinct", "n_distinct_approx")
      .orderBy("col_name")
  }

  val profileSql: String =
    """WITH a AS (
      |  SELECT count(*) AS n,
      |         CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS st_null,
      |         count(DISTINCT o_orderstatus) AS st_dist,
      |         min(o_orderstatus) AS st_min, max(o_orderstatus) AS st_max,
      |         CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS pr_null,
      |         count(DISTINCT o_orderpriority) AS pr_dist,
      |         min(o_orderpriority) AS pr_min, max(o_orderpriority) AS pr_max,
      |         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ck_null,
      |         count(DISTINCT o_custkey) AS ck_dist,
      |         CAST(min(o_custkey) AS DOUBLE) AS ck_min,
      |         CAST(max(o_custkey) AS DOUBLE) AS ck_max,
      |         CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp_null,
      |         count(DISTINCT o_totalprice) AS tp_dist,
      |         min(o_totalprice) AS tp_min, max(o_totalprice) AS tp_max
      |  FROM orders)
      |SELECT 'o_orderstatus' AS col_name, n, st_null AS n_null, st_dist AS n_distinct,
      |       st_min AS min_s, st_max AS max_s,
      |       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num FROM a
      |UNION ALL
      |SELECT 'o_orderpriority', n, pr_null, pr_dist, pr_min, pr_max,
      |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM a
      |UNION ALL
      |SELECT 'o_custkey', n, ck_null, ck_dist, CAST(NULL AS VARCHAR),
      |       CAST(NULL AS VARCHAR), ck_min, ck_max FROM a
      |UNION ALL
      |SELECT 'o_totalprice', n, tp_null, tp_dist, CAST(NULL AS VARCHAR),
      |       CAST(NULL AS VARCHAR), tp_min, tp_max FROM a
      |ORDER BY col_name""".stripMargin

  /** Fuzzy string matching — near-identical entity names via blocked
    * Levenshtein join, the entity-resolution primitive (catalog
    * dedup, vendor-name reconciliation) beside the token-set dedup
    * family ([[graft.queries.DedupQueries]] matches CONTENT; this
    * matches SHORT KEYS where edit distance is the right metric).
    * Three-stage shape: collapse to DISTINCT names (names ≪ rows —
    * the exact-dup collapse pattern), candidate pairs via a cheap
    * BLOCKING key (last name token) so no all-pairs join ever forms,
    * then exact edit-distance verify at threshold ≤ 2.
    *
    * Scale: the only corpus-sized pass is the distinct collapse; the
    * blocked self-join is bounded by Σ block² over distinct names
    * (oversized blocks would salt-shard exactly as
    * `DedupQueries.minhashCandidates` does); Spark's 3-arg
    * `levenshtein(l, r, k)` bounds each verify at O(k·len) via early
    * exit rather than the full O(len²) matrix. Distances are exact
    * integers — both engines implement the same textbook metric. */
  def fuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables(spark, dir, "part").select(col("p_name")).distinct()
      .withColumn("blk", element_at(split(col("p_name"), " "), -1))
      .transform(graft.Tables.scratchPin(_, "fuzzy-names")) // distinct part names, dimension-linear — durable pin (r11)
    names.select(col("p_name").as("a"), col("blk"))
      .join(names.select(col("p_name").as("b"), col("blk")), "blk")
      .filter(col("a") < col("b"))
      // 3-arg form: -1 past the threshold, early-exit inside
      .withColumn("dist", levenshtein(col("a"), col("b"), 2))
      .filter(col("dist") >= 0)
      .select(col("a"), col("b"), col("dist").cast("long").as("dist"))
      .orderBy("a", "b")
  }

  val fuzzyMatchSql: String =
    """WITH names AS (
      |  SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS blk FROM part),
      |pairs AS (
      |  SELECT x.p_name AS a, y.p_name AS b,
      |         levenshtein(x.p_name, y.p_name) AS dist
      |  FROM names x JOIN names y ON x.blk = y.blk AND x.p_name < y.p_name)
      |SELECT a, b, CAST(dist AS BIGINT) AS dist
      |FROM pairs WHERE dist <= 2
      |ORDER BY a, b""".stripMargin

  /** Join-key skew diagnostics — the profile you run BEFORE picking a
    * join/aggregation strategy at scale (salting? AQE skew join?
    * broadcast?): per candidate key column, row/key counts, the max
    * and rank-pick p50/p99 per-key multiplicities, the top-key share,
    * the max/avg skew ratio, and the Gini coefficient of the key
    * distribution.
    *
    * Scale: the Gini needs every key's RANK in multiplicity order —
    * ranking a billion-key table globally is a single-partition sort
    * bottleneck. Instead the profile reduces to the COUNT-OF-COUNTS
    * histogram (multiplicity → #keys with it), which is bounded by
    * the number of DISTINCT multiplicities (≪ keys; ≤ max
    * multiplicity), and evaluates each equal-multiplicity run's rank
    * range in closed form (keys sharing a multiplicity occupy
    * consecutive ranks, so Σᵢ(2i−n−1)·c over the run is pure integer
    * arithmetic on the run's boundaries). The only corpus-sized work
    * is the per-key count; the histogram window is tiny by
    * construction. Integer arithmetic to the final rounded ratios
    * (long products — overflows only past ~10⁹ keys × 10⁶
    * multiplicity, far beyond the profile's own usefulness). */
  def skewStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    skewProfileOf(ev, "user_id").union(skewProfileOf(ev, "event_type"))
      .orderBy("key_col")
  }

  private[graft] def skewProfileOf(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = df.groupBy(col(keyCol).cast("string").as("k"))
      .agg(count(lit(1)).as("c"))
    val hist = cnt.groupBy("c").agg(count(lit(1)).as("nk"))
    // run of nk keys with multiplicity c occupies ranks
    // (k0, k0+nk]; Σ_{i in run} (2i − n − 1)·c =
    // c·(2·(k0·nk + nk(nk+1)/2) − nk·(n+1))
    val w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val runs = hist
      .withColumn("kcum", sum("nk").over(w))
      .withColumn("ccum", sum(col("c") * col("nk")).over(w))
      .withColumn("tot_k", sum("nk").over(all))
    runs
      .agg(
        max("kcum").as("n_keys"),
        max("ccum").as("n_rows"),
        max("c").as("max_c"),
        min(when(col("kcum") * 100 >= col("tot_k") * 50, col("c"))).as("p50_c"),
        min(when(col("kcum") * 100 >= col("tot_k") * 99, col("c"))).as("p99_c"),
        sum(col("c") * expr("2 * ((kcum - nk) * nk + nk * (nk + 1) div 2)"))
          .as("gnum_pos"),
        sum(col("c") * col("nk")).as("gden_c"))
      .select(
        lit(keyCol).as("key_col"),
        col("n_rows"), col("n_keys"), col("max_c"), col("p50_c"), col("p99_c"),
        Det.rnd(col("max_c") * col("n_keys").cast("double") / col("n_rows"), 4)
          .as("skew_ratio"),
        Det.rnd(col("max_c").cast("double") / col("n_rows"), 6).as("top_share"),
        Det.rnd((col("gnum_pos") - (col("n_keys") + 1) * col("gden_c"))
          .cast("double") / (col("n_keys").cast("double") * col("gden_c")), 6)
          .as("gini"))
  }

  val skewStatsSql: String = {
    def profile(keyExpr: String, label: String) =
      s"""SELECT '$label' AS key_col, n_rows, n_keys, max_c, p50_c, p99_c,
         |       ${Det.rndSql("max_c * CAST(n_keys AS DOUBLE) / n_rows", 4)} AS skew_ratio,
         |       ${Det.rndSql("CAST(max_c AS DOUBLE) / n_rows", 6)} AS top_share,
         |       ${Det.rndSql(
           "CAST(gnum_pos - (n_keys + 1) * gden_c AS DOUBLE)" +
             " / (CAST(n_keys AS DOUBLE) * gden_c)", 6)} AS gini
         |FROM (
         |  SELECT max(kcum) AS n_keys, max(ccum) AS n_rows, max(c) AS max_c,
         |         min(CASE WHEN kcum * 100 >= tot_k * 50 THEN c END) AS p50_c,
         |         min(CASE WHEN kcum * 100 >= tot_k * 99 THEN c END) AS p99_c,
         |         CAST(sum(c * (2 * ((kcum - nk) * nk + nk * (nk + 1) // 2)))
         |              AS BIGINT) AS gnum_pos,
         |         CAST(sum(c * nk) AS BIGINT) AS gden_c
         |  FROM (
         |    SELECT c, nk,
         |           CAST(sum(nk) OVER wo AS BIGINT) AS kcum,
         |           CAST(sum(c * nk) OVER wo AS BIGINT) AS ccum,
         |           CAST(sum(nk) OVER () AS BIGINT) AS tot_k
         |    FROM (SELECT c, count(*) AS nk FROM
         |            (SELECT $keyExpr AS k, count(*) AS c FROM events GROUP BY 1)
         |          GROUP BY 1)
         |    WINDOW wo AS (ORDER BY c
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))""".stripMargin
    s"""${profile("CAST(user_id AS VARCHAR)", "user_id")}
       |UNION ALL
       |${profile("event_type", "event_type")}
       |ORDER BY key_col""".stripMargin
  }

  val anomalyMadSql: String =
    """WITH v AS (SELECT event_type, value, event_id FROM events),
      |rv AS (SELECT event_type, value,
      |              row_number() OVER (PARTITION BY event_type
      |                                 ORDER BY value, event_id) AS rn,
      |              count(*) OVER (PARTITION BY event_type) AS n
      |       FROM v),
      |med AS (SELECT event_type,
      |               max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
      |        FROM rv GROUP BY 1),
      |d AS (SELECT v.event_type, v.value, v.event_id, med.med,
      |             abs(v.value - med.med) AS dev
      |      FROM v JOIN med USING (event_type)),
      |rd AS (SELECT event_type, dev,
      |              row_number() OVER (PARTITION BY event_type
      |                                 ORDER BY dev, event_id) AS rn,
      |              count(*) OVER (PARTITION BY event_type) AS n
      |       FROM d),
      |mad AS (SELECT event_type,
      |               max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
      |        FROM rd GROUP BY 1)
      |SELECT d.event_type, count(*) AS n, min(d.med) AS med, min(mad.mad) AS mad,
      |       CAST(sum(CASE WHEN d.dev > CAST(3.0 AS DOUBLE)
      |                                    * CAST(1.4826 AS DOUBLE) * mad.mad
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       max(d.dev) AS max_dev
      |FROM d JOIN mad USING (event_type)
      |GROUP BY d.event_type
      |ORDER BY d.event_type""".stripMargin

  /** Rolling-window anomaly detection — per event type, each value is
    * z-scored against the PRECEDING 100 events (inclusive frame,
    * event-time order with event_id tiebreak) and flagged when
    * |z| > 3; the streaming-shaped drift detector a pipeline runs
    * over ingest telemetry, expressed as a batch window so the oracle
    * can replay it.
    *
    * Scale: one window pass per event-type partition — high
    * cardinality keys shard naturally; the frame is rows-bounded so
    * state is O(100) per partition regardless of corpus size.
    * Determinism: values are exact 2-decimal money, so the frame sums
    * run over integer CENTS and the z-score collapses to
    * (c·n − s)/√(n·ssq − s²) — one integer-fed sqrt and divide,
    * bit-identical cross-engine (window-frame accumulation order
    * cannot perturb integer sums, unlike floating sums under
    * DuckDB's segment-tree frames); the |z| > 3 branch compares
    * identical doubles. Warmup rows (n < 20) are excluded. */
  def rollingAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts"), col("event_id")).rowsBetween(-99, 0)
    Tables(spark, dir, "events")
      .select(col("event_type"), col("event_id"), col("ts"), col("value"),
        Det.cents(col("value")).as("c"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum("c").over(w))
      .withColumn("ssq", sum(col("c") * col("c")).over(w))
      .withColumn("num", col("n") * col("ssq") - col("s") * col("s"))
      .filter(col("n") >= 20 && col("num") > 0)
      .withColumn("z",
        (col("c") * col("n") - col("s")).cast("double")
          / sqrt(col("num").cast("double")))
      .filter(abs(col("z")) > 3.0)
      .select(col("event_type"), col("event_id"), col("value"),
        col("n").as("n_win"), Det.rnd(col("z"), 4).as("z"))
      .orderBy("event_type", "event_id")
  }

  val rollingAnomalySql: String =
    s"""WITH e AS (SELECT event_type, event_id, ts, value,
       |                  ${Det.centsSql("value")} AS c
       |           FROM events),
       |w AS (SELECT event_type, event_id, value, c,
       |             count(*) OVER win AS n,
       |             CAST(sum(c) OVER win AS BIGINT) AS s,
       |             CAST(sum(c * c) OVER win AS BIGINT) AS ssq
       |      FROM e
       |      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
       |                     ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)),
       |z AS (SELECT event_type, event_id, value, CAST(n AS BIGINT) AS n_win,
       |             (c * n - s) / sqrt(CAST(n * ssq - s * s AS DOUBLE)) AS z
       |      FROM w
       |      WHERE n >= 20 AND n * ssq - s * s > 0)
       |SELECT event_type, event_id, value, n_win, ${Det.rndSql("z", 4)} AS z
       |FROM z
       |WHERE abs(z) > 3
       |ORDER BY event_type, event_id""".stripMargin

  /** Watermark sizing — per event type, the event-time DISORDER
    * distribution: how far behind the running event-time maximum each
    * event arrives (arrival order = event_id). This is THE input for
    * choosing a Structured Streaming watermark delay: the p95/max
    * disorder bound the lateness a `withWatermark` horizon must
    * tolerate before dropped-late-data becomes measurable
    * ([[graft.streaming.StreamJobs.windowedCounts]] consumes exactly
    * this number). Emits n_events, n_late (disorder > 0),
    * max_disorder_s, and the EXACT p95 (rank-pick at ceil(0.95·n) —
    * a real element, the [[groupPercentile]] convention, never an
    * interpolation engines disagree on).
    *
    * Scale: one running-max window pass + one rank-pick window pass,
    * both partitioned by event type — high-cardinality keys shard;
    * state is O(1) per partition for the running max. Determinism:
    * epoch seconds are exact integers end to end. */
  def watermarkSizing(spark: SparkSession, dir: String): DataFrame =
    watermarkSizingOf(Tables(spark, dir, "events"))

  /** [[watermarkSizing]] on an arbitrary events frame — the ScalaTest
    * entry (the driver corpus arrives fully in-order, so its disorder
    * stats are legitimately all zero; the planted-fixture spec proves
    * the nonzero semantics). */
  private[graft] def watermarkSizingOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arrival = Window.partitionBy("event_type")
      .orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = events
      .select(col("event_type"), col("event_id"),
        expr("unix_timestamp(ts)").as("es"))
      .withColumn("disorder", max("es").over(arrival) - col("es"))
    val byDisorder = Window.partitionBy("event_type")
      .orderBy(col("disorder"), col("event_id"))
    d.withColumn("rn", row_number().over(byDisorder))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(
        max("n").as("n_events"),
        sum(when(col("disorder") > 0, 1L).otherwise(0L)).as("n_late"),
        max("disorder").as("max_disorder_s"),
        max(when(col("rn") === ceil(col("n") * 0.95), col("disorder")))
          .as("p95_disorder_s"))
      .orderBy("event_type")
  }

  val watermarkSizingSql: String =
    """WITH d AS (
      |  SELECT event_type, event_id,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
      |         max(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
      |           OVER (PARTITION BY event_type ORDER BY event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           - CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS disorder
      |  FROM events),
      |r AS (SELECT event_type, disorder,
      |             row_number() OVER (PARTITION BY event_type
      |                                ORDER BY disorder, event_id) AS rn,
      |             count(*) OVER (PARTITION BY event_type) AS n
      |      FROM d)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
      |       CAST(sum(CASE WHEN disorder > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |       CAST(max(disorder) AS BIGINT) AS max_disorder_s,
      |       CAST(max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
      |                     THEN disorder END) AS BIGINT) AS p95_disorder_s
      |FROM r
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Incremental aggregate maintenance — the materialized-view update
    * a production pipeline runs on each ingest batch: per-type
    * (count, sum, min, max) partials over the BASE corpus and the
    * DELTA batch (split at the in-query day cut) merge by the
    * aggregates' own algebra (counts/sums add, extrema take
    * least/greatest, with full-outer-join + coalesce for keys present
    * on one side only), and the merged row is compared field-by-field
    * against a direct full recompute — `matches_full` lands in the
    * oracled output, so the merge identity is VERIFIED, not assumed.
    * This is the contract partial aggregation (and every restateable
    * sketch in `graft.sketch`) relies on, demonstrated on the plain
    * aggregates a report actually maintains.
    *
    * Scale: three hash aggregations (base, delta, full) + a
    * group-count-sized join; in production the full recompute is the
    * AUDIT lane run on samples, while base partials come from the
    * stored view — the merge itself touches only aggregate rows.
    * Determinism: counts/extrema and integer-cents sums. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"),
        Det.cents(col("value")).as("c"))
    val cut = ev.agg((((min("day") + max("day")) + 1) / 2).cast("long").as("cut"))
    val tagged = ev.crossJoin(broadcast(cut))
    def aggOf(df: DataFrame) = df.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum("c").as("s"), min("c").as("mn"), max("c").as("mx"))
    val base  = aggOf(tagged.filter(col("day") < col("cut")))
    val delta = aggOf(tagged.filter(col("day") >= col("cut")))
    val full  = aggOf(tagged)
    val merged = base.as("b")
      .join(delta.as("d"), base("event_type") === delta("event_type"), "full_outer")
      .select(
        coalesce(col("b.event_type"), col("d.event_type")).as("event_type"),
        (coalesce(col("b.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
        (coalesce(col("b.s"), lit(0L)) + coalesce(col("d.s"), lit(0L))).as("s"),
        least(col("b.mn"), col("d.mn")).as("mn"),
        greatest(col("b.mx"), col("d.mx")).as("mx"))
    merged.as("m").join(full.as("f"), Seq("event_type"))
      .select(col("event_type"), col("m.n").as("n_events"),
        (col("m.s").cast("double") / 100.0).as("total_value"),
        (col("m.mn").cast("double") / 100.0).as("min_value"),
        (col("m.mx").cast("double") / 100.0).as("max_value"),
        (col("m.n") === col("f.n") && col("m.s") === col("f.s")
          && col("m.mn") === col("f.mn") && col("m.mx") === col("f.mx"))
          .as("matches_full"))
      .orderBy("event_type")
  }

  val incrementalAggSql: String =
    s"""WITH e AS (SELECT event_type,
       |                  CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
       |                  ${Det.centsSql("value")} AS c
       |           FROM events),
       |cut AS (SELECT (min(day) + max(day) + 1) // 2 AS cut FROM e),
       |t AS (SELECT e.*, cut.cut FROM e CROSS JOIN cut),
       |b AS (SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
       |             min(c) AS mn, max(c) AS mx
       |      FROM t WHERE day < cut GROUP BY 1),
       |d AS (SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
       |             min(c) AS mn, max(c) AS mx
       |      FROM t WHERE day >= cut GROUP BY 1),
       |f AS (SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
       |             min(c) AS mn, max(c) AS mx
       |      FROM t GROUP BY 1),
       |m AS (SELECT coalesce(b.event_type, d.event_type) AS event_type,
       |             CAST(coalesce(b.n, 0) + coalesce(d.n, 0) AS BIGINT) AS n,
       |             CAST(coalesce(b.s, 0) + coalesce(d.s, 0) AS BIGINT) AS s,
       |             CASE WHEN b.mn IS NULL THEN d.mn WHEN d.mn IS NULL THEN b.mn
       |                  ELSE least(b.mn, d.mn) END AS mn,
       |             CASE WHEN b.mx IS NULL THEN d.mx WHEN d.mx IS NULL THEN b.mx
       |                  ELSE greatest(b.mx, d.mx) END AS mx
       |      FROM b FULL OUTER JOIN d ON b.event_type = d.event_type)
       |SELECT m.event_type, m.n AS n_events,
       |       CAST(m.s AS DOUBLE) / 100.0 AS total_value,
       |       CAST(m.mn AS DOUBLE) / 100.0 AS min_value,
       |       CAST(m.mx AS DOUBLE) / 100.0 AS max_value,
       |       (m.n = f.n AND m.s = f.s AND m.mn = f.mn AND m.mx = f.mx)
       |         AS matches_full
       |FROM m JOIN f USING (event_type)
       |ORDER BY m.event_type""".stripMargin

  /** Path mining — the top-k most frequent length-3 event-type paths
    * across user journeys (the n-gram generalization of
    * [[markovTransitions]]' bigram matrix): per user, consecutive
    * event triples via two `lag`s over (ts, event_id) order, counted
    * globally, cut to the top 20 by (count desc, path asc).
    *
    * Scale: one user-keyed window exchange (the same shuffle
    * sessionization pays) + a paths-bounded aggregation (≤ types³
    * keys) + TakeOrderedAndProject. Determinism: integer counts,
    * lexicographic tiebreak. */
  def pathMining(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e1", lag("event_type", 2).over(w))
      .withColumn("e2", lag("event_type", 1).over(w))
      .filter(col("e1").isNotNull)
      .groupBy(col("e1"), col("e2"), col("event_type").as("e3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("e1"), asc("e2"), asc("e3"))
      .limit(k)
  }

  def pathMiningSql(k: Int = 20): String =
    s"""WITH p AS (
       |  SELECT user_id,
       |         lag(event_type, 2) OVER w AS e1,
       |         lag(event_type, 1) OVER w AS e2,
       |         event_type AS e3
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT e1, e2, e3, count(*) AS cnt
       |FROM p
       |WHERE e1 IS NOT NULL
       |GROUP BY 1, 2, 3
       |ORDER BY cnt DESC, e1, e2, e3
       |LIMIT $k""".stripMargin

  /** Snapshot diff — the keyed added/removed/changed comparison a
    * data-versioning layer computes between two corpus snapshots
    * (here: per-user event counts in the first vs second half of the
    * stream's day range, the cut derived in-query as a 1-row
    * broadcast). The production shape for "what changed since the
    * last release" audits on a maintained dataset.
    *
    * Scale: ONE scan + one (user_id) hash-aggregation — both
    * snapshots fall out of the same pass as conditional counts, so
    * the diff costs no more than either snapshot alone (the naive
    * two-scans-plus-full-outer-join shape pays 2× the scan and a
    * second shuffle for nothing when both snapshots derive from one
    * table; diffing two PHYSICAL tables is the same aggregate over
    * their union with a side tag). 'same' rows are filtered before
    * output, so result size tracks churn, not corpus size.
    * Determinism: pure integer counts. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
    val cut = ev.agg((((min("day") + max("day")) + 1) / 2)
      .cast("long").as("cut"))
    ev.crossJoin(broadcast(cut))
      .groupBy("user_id")
      .agg(
        sum(when(col("day") < col("cut"), 1L).otherwise(0L)).as("old_n"),
        sum(when(col("day") >= col("cut"), 1L).otherwise(0L)).as("new_n"))
      .withColumn("status",
        when(col("old_n") === 0, "added")
          .when(col("new_n") === 0, "removed")
          .when(col("old_n") =!= col("new_n"), "changed")
          .otherwise("same"))
      .filter(col("status") =!= "same")
      .select("user_id", "old_n", "new_n", "status")
      .orderBy("user_id")
  }

  val snapshotDiffSql: String =
    """WITH d AS (SELECT user_id,
      |                  CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day
      |           FROM events),
      |cut AS (SELECT (min(day) + max(day) + 1) // 2 AS cut FROM d),
      |agg AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN day < cut THEN 1 ELSE 0 END) AS BIGINT) AS old_n,
      |         CAST(sum(CASE WHEN day >= cut THEN 1 ELSE 0 END) AS BIGINT) AS new_n
      |  FROM d CROSS JOIN cut
      |  GROUP BY user_id)
      |SELECT user_id, old_n, new_n,
      |       CASE WHEN old_n = 0 THEN 'added'
      |            WHEN new_n = 0 THEN 'removed'
      |            ELSE 'changed' END AS status
      |FROM agg
      |WHERE old_n = 0 OR new_n = 0 OR old_n <> new_n
      |ORDER BY user_id""".stripMargin

  /** Time-decay weighted aggregation — per event type, revenue under a
    * half-life-per-WEEK exponential decay anchored at the newest week
    * (weight 2⁻ᵃᵍᵉ): the recency-weighting fold behind freshness
    * features and decayed leaderboards, in its deterministic form.
    * Weights are exact powers of two, so every per-week term
    * cents·2⁻ᵃᵍᵉ is an exact dyadic rational — the sum is
    * order-independent (bit-identical across engines and partition
    * orders) as long as weekly cent totals stay under 2⁵³⁻ᵃᵍᵉ, far
    * beyond any gate scale; e^(−λt) weights would NOT survive this
    * (engine-dependent rounding per term). The plain total rides
    * along for contrast.
    *
    * Scale: one pass into a (type, week) aggregate (map-side
    * combined), a 1-row max-week broadcast, a type-sized rollup.
    * Determinism: integer cents, integer week ages, dyadic weights;
    * 4dp rounding at output only. */
  def timeDecay(spark: SparkSession, dir: String): DataFrame =
    timeDecayOf(graft.Tables(spark, dir, "events"))

  private[graft] def timeDecayOf(events: DataFrame): DataFrame = {
    val weekly = events
      .select(col("event_type"),
        expr("unix_timestamp(ts) div 604800").as("w"),
        Det.cents(col("value")).as("c"))
      .groupBy("event_type", "w")
      .agg(count(lit(1)).as("n"), sum("c").as("cw"))
    val mx = weekly.agg(max("w").as("mw"))
    weekly.crossJoin(broadcast(mx))
      .groupBy("event_type")
      .agg(
        sum("n").as("n_events"),
        (sum("cw").cast("double") / 100.0).as("revenue"),
        Det.rnd(
          sum(col("cw").cast("double") * pow(lit(0.5), (col("mw") - col("w")).cast("double")))
            / 100.0, 4).as("decayed_revenue"))
      .orderBy("event_type")
  }

  val timeDecaySql: String =
    s"""WITH weekly AS (SELECT event_type,
       |                       CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 604800 AS w,
       |                       count(*) AS n,
       |                       CAST(sum(${Det.centsSql("value")}) AS BIGINT) AS cw
       |                FROM events GROUP BY 1, 2),
       |mx AS (SELECT max(w) AS mw FROM weekly)
       |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
       |       CAST(sum(cw) AS DOUBLE) / 100.0 AS revenue,
       |       ${Det.rndSql("sum(CAST(cw AS DOUBLE) * pow(0.5, CAST(mw - w AS DOUBLE))) / 100.0", 4)} AS decayed_revenue
       |FROM weekly CROSS JOIN mx
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** Shared derived-stat formulas for [[momentsSketch]] — ONE text,
    * parsed by both engines, so every float op runs in the identical
    * order on identical inputs (exact-integer sums → deterministic
    * doubles). No `pow` anywhere: libm pow differs across engines in
    * the last ulp; sqrt and explicit products are IEEE-pinned. */
  private val MomMean = "CAST(s1 AS DOUBLE) / n"
  private val MomVar =
    s"CAST(s2 AS DOUBLE) / n - ($MomMean) * ($MomMean)"
  private val MomM3 =
    s"CAST(s3 AS DOUBLE) / n - 3.0 * ($MomMean) * (CAST(s2 AS DOUBLE) / n)" +
      s" + 2.0 * ($MomMean) * ($MomMean) * ($MomMean)"
  private val MomM4 =
    s"CAST(s4 AS DOUBLE) / n - 4.0 * ($MomMean) * (CAST(s3 AS DOUBLE) / n)" +
      s" + 6.0 * ($MomMean) * ($MomMean) * (CAST(s2 AS DOUBLE) / n)" +
      s" - 3.0 * ($MomMean) * ($MomMean) * ($MomMean) * ($MomMean)"
  // degenerate (constant / single-row) groups: shape stats pin to 0
  private val MomSkew =
    s"CASE WHEN ($MomVar) <= 0 THEN 0.0" +
      s" ELSE ($MomM3) / (sqrt($MomVar) * sqrt($MomVar) * sqrt($MomVar)) END"
  private val MomKurt =
    s"CASE WHEN ($MomVar) <= 0 THEN 0.0" +
      s" ELSE ($MomM4) / (($MomVar) * ($MomVar)) - 3.0 END"

  /** Moments sketch — per event type, the constant-size MERGEABLE
    * distribution summary (n, Σc, Σc², Σc³, Σc⁴ over exact integer
    * cents) plus the shape stats it derives (mean, population stddev,
    * skewness, excess kurtosis): the published moments-sketch design
    * re-expressed exactly. The five sums ARE the sketch — merging two
    * shards is elementwise addition (no error, unlike quantile
    * sketches), which is why a 100-TB profile job ships power sums
    * per partition and folds them on one reducer. Sums ride
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): with cents ≤ 2×10⁴,
    * Σc⁴ stays exact past 10¹² rows per group — and both engines
    * round the same exact integer to the same IEEE double before the
    * float stage, so derived stats are bit-identical.
    *
    * Scale: one pass, map-side combined, five numbers per group.
    * Determinism: exact decimal sums; the derived-stat formulas are
    * ONE shared text (no pow — sqrt and explicit products only)
    * rounded to 6dp at output. */
  def momentsSketch(spark: SparkSession, dir: String): DataFrame =
    momentsSketchOf(graft.Tables(spark, dir, "events"))

  private[graft] def momentsSketchOf(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), Det.cents(col("value")).cast("decimal(10,0)").as("c"))
      .withColumn("c2", col("c") * col("c"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("c").cast("decimal(38,0)").as("s1"),
        sum("c2").cast("decimal(38,0)").as("s2"),
        sum(col("c2") * col("c")).cast("decimal(38,0)").as("s3"),
        sum(col("c2") * col("c2")).cast("decimal(38,0)").as("s4"))
      .selectExpr(
        "event_type", "n",
        "CAST(s1 AS STRING) AS m1", "CAST(s2 AS STRING) AS m2",
        "CAST(s3 AS STRING) AS m3", "CAST(s4 AS STRING) AS m4",
        s"${Det.rndSql(s"($MomMean) / 100.0", 6)} AS mean",
        s"${Det.rndSql(s"sqrt($MomVar) / 100.0", 6)} AS stddev",
        s"${Det.rndSql(MomSkew, 6)} AS skewness",
        s"${Det.rndSql(MomKurt, 6)} AS kurtosis")
      .orderBy("event_type")

  val momentsSketchSql: String =
    s"""WITH c AS (SELECT event_type, ${Det.centsSql("value")} AS c FROM events),
       |s AS (SELECT event_type, count(*) AS n,
       |             sum(c) AS s1, sum(c * c) AS s2,
       |             sum(c * c * c) AS s3, sum(c * c * c * c) AS s4
       |      FROM c GROUP BY 1)
       |SELECT event_type, n,
       |       CAST(s1 AS VARCHAR) AS m1, CAST(s2 AS VARCHAR) AS m2,
       |       CAST(s3 AS VARCHAR) AS m3, CAST(s4 AS VARCHAR) AS m4,
       |       ${Det.rndSql(s"($MomMean) / 100.0", 6)} AS mean,
       |       ${Det.rndSql(s"sqrt($MomVar) / 100.0", 6)} AS stddev,
       |       ${Det.rndSql(MomSkew, 6)} AS skewness,
       |       ${Det.rndSql(MomKurt, 6)} AS kurtosis
       |FROM s
       |ORDER BY event_type""".stripMargin

  /** Bootstrap resample count and the CI order-statistic indices:
    * percentile q is the ⌈q·B⌉-th smallest resample mean (lo =
    * ⌈0.025·200⌉ = 5, hi = ⌈0.975·200⌉ = 195) — an explicit
    * convention shared with the oracle, because engines' builtin
    * `percentile` interpolation rules differ. */
  private val BootB  = 200
  private val BootLo = 5
  private val BootHi = 195

  /** Deterministic Poisson(1) draw from a uniform `u` in [0,1) —
    * inverse-CDF over the exact partial sums of e⁻¹/k!. The same
    * literal text parses to the same IEEE doubles in Spark and DuckDB,
    * and u is a dyadic rational k/2³² that can never equal the
    * non-terminating thresholds, so the branch taken is identical
    * cross-engine. Truncated at 5 (P(X>5|λ=1) ≈ 6e-4 folds into the
    * top bucket — still mean ≈ 1). */
  private val PoisInv: String =
    """CASE WHEN u < 0.36787944117144233 THEN 0
      |     WHEN u < 0.7357588823428847  THEN 1
      |     WHEN u < 0.9196986029286058  THEN 2
      |     WHEN u < 0.9810118431238462  THEN 3
      |     WHEN u < 0.9963401531726563  THEN 4
      |     ELSE 5 END""".stripMargin

  /** BOOTSTRAP confidence interval for the corpus mean document length
    * — the Poisson bootstrap (per-row resample weights w ~ Poisson(1),
    * the classic single-pass distributed formulation: each row decides
    * its multiplicity in every resample locally, no sampling-with-
    * replacement shuffle exists anywhere). Weights come from the
    * overflow-safe integer modmul ring (the [[TextQueries]] split/
    * sample convention — no `rand()`, reproducible across engines and
    * partitionings), so the oracle replays every draw exactly and the
    * CI is hash-checked, not band-checked.
    *
    * Scale: the corpus is scanned ONCE; the explode is a flatMap to
    * B·n in-task rows that partial-aggregate to ≤ B groups per task
    * before the shuffle (map-side combine), so the exchange carries
    * ~B rows per task regardless of corpus size. The final ranking
    * window sorts B = [[BootB]] rows — bounded, one task, by design.
    * All arithmetic before the two divisions is exact integer; each
    * resample mean is a single IEEE division of exact integers —
    * bit-identical cross-engine, zero rounding anywhere. */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame =
    bootstrapCiOf(Tables(spark, dir, "documents"))

  private[graft] def bootstrapCiOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = s"(doc_id * $BootB + b + 1)"
    val base = docs.select(col("doc_id"), col("n_chars"))
    val means = base
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(BootB - 1))).as("b"))
      .withColumn("u",
        expr(s"pmod(pmod(pmod($key, 4294967296) * 40503, 65536) * 65536" +
          s" + pmod($key, 4294967296) * 31153, 4294967296) / 4294967296.0"))
      .withColumn("w", expr(PoisInv))
      .groupBy("b")
      .agg((sum(col("w") * col("n_chars")).cast("double") / sum("w")).as("mb"))
    val ranked = means
      .withColumn("rn", row_number().over(Window.orderBy(asc("mb"), asc("b"))))
    val lo = ranked.filter(col("rn") === BootLo).select(col("mb").as("ci_lo"))
    val hi = ranked.filter(col("rn") === BootHi).select(col("mb").as("ci_hi"))
    base
      .agg(count(lit(1)).as("n_docs"),
        (sum("n_chars").cast("double") / count(lit(1))).as("mean"))
      .crossJoin(broadcast(lo))
      .crossJoin(broadcast(hi))
  }

  /** Frequent item PAIRS (market-basket mining, the A-Priori/PCY
    * workload of MMDS ch.6): parts co-purchased within an order, with
    * support and lift for the top pairs. The all-pairs blowup is
    * avoided structurally: baskets are first collapsed to DISTINCT
    * (order, part) — within-order repeats are quantity, not
    * co-occurrence — and the self-join fans out only C(b,2) pairs per
    * basket, where basket size b is bounded by order line count (≤13
    * in this corpus, ~7 in TPC-H) — the join is basket-local, no
    * cross-basket pairs ever materialize. The pair aggregate then
    * shuffles on (p1, p2), sized by pairs that actually co-occur.
    * At 100 TB: identical shape; if baskets were unbounded the
    * distinct-collapse would be followed by a basket-size cap (PCY's
    * hash-filter stage) — not needed for order-shaped baskets.
    * Support/lift are single divisions of exact integer counts —
    * deterministic cross-engine; the top-20 cut is tie-broken on the
    * full (count, p1, p2) key. */
  def frequentPairs(spark: SparkSession, dir: String): DataFrame =
    frequentPairsOf(Tables(spark, dir, "lineitem"),
      Some(basketItemsScratch(spark, dir)), Some(basketPairsScratch(spark, dir)))

  /** Basket relation (order, part) DISTINCT — within-order repeats are
    * quantity, not co-occurrence. Shared by [[frequentPairs]],
    * [[assocRules]], [[joinForecast]]. */
  private def basketItems(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()

  /** One-time keyed pins of the basket relation and its supported
    * (≥2 baskets) co-occurrence pair counts — the trunk pattern (r15
    * optimization): [[frequentPairs]] and [[assocRules]] each re-ran
    * the identical distinct + basket self-join + pair aggregation per
    * invocation; now the first caller materializes both once per
    * (session, dir). The pair relation is support-filtered, so the
    * pin is answer-proportional, never the raw self-join fan-out. */
  private def basketItemsScratch(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.pinKeyed(spark, "basket-items", dir)(
      basketItems(Tables(spark, dir, "lineitem")))

  private def basketPairsScratch(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.pinKeyed(spark, "basket-pairs", dir) {
      val items = basketItemsScratch(spark, dir)
      items.alias("a").join(items.alias("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
        .agg(count(lit(1)).as("pair_cnt"))
        .filter(col("pair_cnt") >= 2)
    }

  /** Eager materialization — the `_setup_baskets` bench label. */
  def materializeBaskets(spark: SparkSession, dir: String): Unit = {
    basketPairsScratch(spark, dir)
    ()
  }

  private[graft] def frequentPairsOf(lineitem: DataFrame,
      items0: Option[DataFrame] = None,
      pairs0: Option[DataFrame] = None): DataFrame = {
    val items = items0.getOrElse(basketItems(lineitem)
      .transform(graft.Tables.scratchPin(_, "fp-items"))) // (order×part) distinct, corpus-sized — durable pin (r11)
    val nBaskets = items.agg(countDistinct("o").as("n_baskets"))
    val itemCnt = items.groupBy("p").agg(count(lit(1)).as("ic"))
    val top = pairs0.getOrElse(items.alias("a").join(items.alias("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= 2))
      .orderBy(desc("pair_cnt"), asc("p1"), asc("p2"))
      .limit(20)
    top
      .join(itemCnt.select(col("p").as("p1"), col("ic").as("c1")), "p1")
      .join(itemCnt.select(col("p").as("p2"), col("ic").as("c2")), "p2")
      .crossJoin(broadcast(nBaskets))
      .select(col("p1"), col("p2"), col("pair_cnt"),
        round(col("pair_cnt").cast("double") / col("n_baskets"), 6).as("support"),
        round((col("pair_cnt") * col("n_baskets")).cast("double")
          / (col("c1") * col("c2")), 4).as("lift"))
      .orderBy(desc("pair_cnt"), asc("p1"), asc("p2"))
  }

  val frequentPairsSql: String =
    """WITH i AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |nb AS (SELECT count(DISTINCT o) AS n_baskets FROM i),
      |ic AS (SELECT p, count(*) AS ic FROM i GROUP BY p),
      |top AS (SELECT a.p AS p1, b.p AS p2, count(*) AS pair_cnt
      |        FROM i a JOIN i b ON a.o = b.o AND a.p < b.p
      |        GROUP BY 1, 2 HAVING count(*) >= 2
      |        ORDER BY pair_cnt DESC, p1, p2 LIMIT 20)
      |SELECT p1, p2, pair_cnt,
      |       round(CAST(pair_cnt AS DOUBLE) / n_baskets, 6) AS support,
      |       round(CAST(pair_cnt * n_baskets AS DOUBLE) / (c1.ic * c2.ic), 4) AS lift
      |FROM top
      |JOIN ic c1 ON c1.p = top.p1
      |JOIN ic c2 ON c2.p = top.p2
      |CROSS JOIN nb
      |ORDER BY pair_cnt DESC, p1, p2""".stripMargin

  /** Leave-one-out TARGET ENCODING of a categorical column (the
    * leakage-safe categorical-feature transform of large-scale feature
    * engineering): each order's market segment is encoded by the mean
    * order total of its segment EXCLUDING the order itself —
    * (S − x)/(n − 1) — so a row never sees its own target, plus the
    * Bayesian m-estimate smoothing tier (S + m·prior)/(n + m) that
    * shrinks rare categories toward the global mean.
    *
    * One exchange total: per-row LOO is window arithmetic over the
    * segment partition ([[targetEncodeRows]], the reusable per-row
    * surface); this oracled aggregate derives every output from ONE
    * hash aggregation because LOO is monotone-decreasing in x — the
    * LOO extremes are (S − max x)/(n − 1) and (S − min x)/(n − 1),
    * and the LOO MEAN collapses algebraically to S/n (∑(S−x)/(n−1)
    * = (nS−S)/(n−1) = S — the no-net-leakage identity, emitted so the
    * oracle pins it). Money rides as exact integer cents; every double
    * is one division of exact integers — order-independent. */
  def targetEncode(spark: SparkSession, dir: String): DataFrame =
    targetEncodeAgg(
      Tables(spark, dir, "orders").join(
        Tables(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey")))

  /** Per-row LOO + smoothed encodings (segment kept for inspection);
    * null when the category is a singleton (no out-of-row evidence). */
  private[graft] def targetEncodeRows(oc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_mktsegment")
    oc.withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .withColumn("s", sum("cents").over(w))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("loo", when(col("n") > 1,
        (col("s") - col("cents")).cast("double") / (col("n") - 1) / 100.0))
      .select(col("o_orderkey"), col("c_mktsegment"), col("cents"),
        col("n"), col("loo"))
  }

  private val SmoothM = 100

  private[graft] def targetEncodeAgg(oc: DataFrame): DataFrame = {
    val seg = oc
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"), sum("cents").as("s"),
        min("cents").as("mn"), max("cents").as("mx"))
    val g = seg.agg(sum("n").as("ng"), sum("s").as("sg"))
    seg.crossJoin(broadcast(g))
      .select(col("segment"), col("n"),
        round(col("s").cast("double") / col("n") / 100.0, 4).as("loo_mean"),
        round((col("s") - col("mx")).cast("double") / (col("n") - 1) / 100.0, 4)
          .as("loo_min"),
        round((col("s") - col("mn")).cast("double") / (col("n") - 1) / 100.0, 4)
          .as("loo_max"),
        // (S + m·Sg/ng)/(n + m) as one exact-integer ratio:
        // (S·ng + m·Sg) / (ng·(n + m)) cents
        round((col("s") * col("ng") + lit(SmoothM) * col("sg")).cast("double")
          / (col("ng") * (col("n") + lit(SmoothM))) / 100.0, 4).as("smooth_enc"))
      .orderBy("segment")
  }

  val targetEncodeSql: String =
    s"""WITH seg AS (
       |  SELECT c_mktsegment AS segment, count(*) AS n,
       |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s,
       |         min(CAST(round(o_totalprice * 100) AS BIGINT)) AS mn,
       |         max(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1),
       |g AS (SELECT sum(n) AS ng, sum(s) AS sg FROM seg)
       |SELECT segment, n,
       |       round(CAST(s AS DOUBLE) / n / 100.0, 4) AS loo_mean,
       |       round(CAST(s - mx AS DOUBLE) / (n - 1) / 100.0, 4) AS loo_min,
       |       round(CAST(s - mn AS DOUBLE) / (n - 1) / 100.0, 4) AS loo_max,
       |       round(CAST(s * ng + $SmoothM * sg AS DOUBLE)
       |             / (ng * (n + $SmoothM)) / 100.0, 4) AS smooth_enc
       |FROM seg CROSS JOIN g
       |ORDER BY segment""".stripMargin

  private val EqHistK = 8

  /** Equi-DEPTH histogram (k buckets of ~equal row count) — the
    * boundary computation behind range partitioning, optimizer column
    * stats, and skew-aware sort layouts. NOT computed with a global
    * row_number: a whole-relation rank is a single-partition window at
    * scale. Instead the relation collapses to its distinct-VALUE
    * histogram first (one hash aggregation — the only pass over the
    * data), and every boundary derives from the cumulative counts of
    * that vocabulary-sized table; each distinct value lands wholly in
    * the bucket its first row falls in, which is exactly how a range
    * partitioner must treat ties (a tie cannot straddle an exchange
    * boundary). Bucket counts deviate from n/k only by tie spill —
    * emitted so the skew is visible. All-integer cents arithmetic;
    * cross-engine exact. */
  def equidepthHist(spark: SparkSession, dir: String): DataFrame =
    equidepthHistOf(Tables(spark, dir, "orders"))

  private[graft] def equidepthHistOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = orders
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    val w = Window.orderBy("v")
    // cum and n ride the SAME Window sort over the distinct-value table
    // (two frames, one WindowExec) — no second scan, no cross join
    h.withColumn("cum",
        coalesce(sum("t").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum("t").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .groupBy(expr(s"least(${EqHistK - 1}, (cum * $EqHistK) div n)").as("bucket"))
      .agg(sum("t").as("cnt"),
        (min("v").cast("double") / 100.0).as("lo"),
        (max("v").cast("double") / 100.0).as("hi"))
      .orderBy("bucket")
  }

  val equidepthHistSql: String =
    s"""WITH h AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, count(*) AS t
       |           FROM orders GROUP BY 1),
       |c AS (SELECT v, t,
       |             coalesce(sum(t) OVER (ORDER BY v
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
       |             sum(t) OVER () AS n
       |      FROM h)
       |SELECT least($EqHistK - 1, CAST(cum * $EqHistK // n AS BIGINT)) AS bucket,
       |       CAST(sum(t) AS BIGINT) AS cnt,
       |       CAST(min(v) AS DOUBLE) / 100.0 AS lo,
       |       CAST(max(v) AS DOUBLE) / 100.0 AS hi
       |FROM c
       |GROUP BY 1
       |ORDER BY bucket""".stripMargin

  /** Mann-Whitney U (Wilcoxon rank-sum) — the nonparametric two-sample
    * test that [[abTest]]'s t-statistic cannot replace when the metric
    * is heavy-tailed (session values, doc lengths): does the 'click'
    * value distribution stochastically dominate 'purchase'?
    *
    * Rank statistics WITHOUT ranking the rows: the fact table collapses
    * to its distinct-value histogram (one aggregation — the only
    * full-data pass; value cardinality is bounded by the 2dp domain),
    * and the tie-averaged rank-sum comes from the histogram identity
    * 2·R₁ = Σ_v n₁(v)·(2·below(v) + t(v) + 1), with the tie correction
    * Σ(t³−t) from the same table. Everything up to the final z is
    * exact integer arithmetic; U₁ is half-integer-exact (one divide by
    * 2); z applies the tie-corrected normal approximation in one fixed
    * double expression tree — no double is ever aggregated. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame =
    mannWhitneyOf(Tables(spark, dir, "events"), "click", "purchase")

  /** The running-histogram half of [[mannWhitney]] — a single
    * streaming-safe aggregation (per-value counts are mergeable
    * state), shared with `StreamJobs.mannWhitneyStream`. */
  private[graft] def mannWhitneyHist(events: DataFrame, g1: String, g2: String): DataFrame =
    events
      .filter(col("event_type").isin(g1, g2))
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("v"),
        when(col("event_type") === g1, 1L).otherwise(0L).as("is1"))
      .groupBy("v").agg(count(lit(1)).as("t"), sum("is1").as("n1v"))

  /** The finishing step of [[mannWhitney]]: histogram (v, t, n1v) →
    * one (n1, n2, u1, z) row. Vocabulary-sized input — runs per batch
    * over materialized histogram state in the streaming twin. */
  private[graft] def mannWhitneyFinish(h: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("v")
    h.withColumn("below",
        coalesce(sum("t").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .agg(
        sum("n1v").as("n1"), sum(col("t") - col("n1v")).as("n2"),
        sum(col("n1v") * (lit(2) * col("below") + col("t") + 1)).as("twice_r1"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      .select(col("n1"), col("n2"),
        ((col("twice_r1") - col("n1") * (col("n1") + 1)).cast("double") / 2.0).as("u1"),
        round(
          (col("twice_r1") - col("n1") * (col("n1") + 1) - col("n1") * col("n2"))
            .cast("double") /
          (lit(2.0) * sqrt(
            (col("n1") * col("n2")).cast("double") / 12.0 *
              ((col("n1") + col("n2") + 1).cast("double") -
                col("ties").cast("double") /
                  ((col("n1") + col("n2")).cast("double") * (col("n1") + col("n2") - 1))))),
          6).as("z"))
  }

  private[graft] def mannWhitneyOf(events: DataFrame, g1: String, g2: String): DataFrame =
    mannWhitneyFinish(mannWhitneyHist(events, g1, g2))

  val mannWhitneySql: String =
    """WITH h AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS v, count(*) AS t,
      |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1v
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |c AS (SELECT v, t, n1v,
      |             coalesce(sum(t) OVER (ORDER BY v
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |      FROM h),
      |s AS (SELECT CAST(sum(n1v) AS BIGINT) AS n1,
      |             CAST(sum(t - n1v) AS BIGINT) AS n2,
      |             CAST(sum(n1v * (2 * below + t + 1)) AS BIGINT) AS twice_r1,
      |             CAST(sum(t * t * t - t) AS BIGINT) AS ties
      |      FROM c)
      |SELECT n1, n2,
      |       CAST(twice_r1 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
      |       round(CAST(twice_r1 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
      |             / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0
      |                * (CAST(n1 + n2 + 1 AS DOUBLE)
      |                   - CAST(ties AS DOUBLE)
      |                     / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))), 6) AS z
      |FROM s""".stripMargin

  /** ARGMIN JOIN-BACK (the TPC-H Q2 correlated-subquery shape:
    * "the supplier with the minimum price for each part"): per part,
    * the cheapest observed unit price and WHICH supplier offers it.
    * Spark has no correlated scalar subqueries in the DataFrame API —
    * and doesn't need them: the relational form is a per-key min
    * aggregation joined back on (key, min) — two shuffles on the same
    * key (co-partitioned, AQE-coalesced), linear output. Ties (two
    * suppliers at the same min price) resolve to the smallest suppkey
    * via a second min aggregation AFTER the join-back — never
    * `arg_min`/`min_by`, whose tie choice is engine-defined. Unit
    * price stays an exact integer: price in cents × 1000, divided by
    * the integral quantity — one exact div per row, no float compare
    * ever decides the argmin. */
  def argminJoin(spark: SparkSession, dir: String): DataFrame =
    argminJoinOf(Tables(spark, dir, "lineitem"))

  private[graft] def argminJoinOf(lineitem: DataFrame): DataFrame = {
    val priced = lineitem.select(col("l_partkey").as("part"), col("l_suppkey").as("supp"),
      // milli-cents per unit: (price_cents * 1000) div qty — exact, and
      // qty is integral 1..50 so the scale keeps 3 digits of headroom
      expr("(CAST(round(l_extendedprice * 100) AS BIGINT) * 1000)" +
        " div CAST(l_quantity AS BIGINT)").as("unit_mc"))
    val minPrice = priced.groupBy("part").agg(min("unit_mc").as("unit_mc"))
    priced.join(minPrice, Seq("part", "unit_mc"))
      .groupBy("part")
      .agg(min("supp").as("best_supp"), min("unit_mc").as("mc"),
        count(lit(1)).as("n_tied"))
      .select(col("part"), col("best_supp"),
        (col("mc").cast("double") / 100000.0).as("best_unit_price"),
        col("n_tied"))
      .orderBy("part")
  }

  val argminJoinSql: String =
    """WITH p AS (SELECT l_partkey AS part, l_suppkey AS supp,
      |                  (CAST(round(l_extendedprice * 100) AS BIGINT) * 1000)
      |                    // CAST(l_quantity AS BIGINT) AS unit_mc
      |           FROM lineitem),
      |m AS (SELECT part, min(unit_mc) AS unit_mc FROM p GROUP BY part)
      |SELECT part, min(supp) AS best_supp,
      |       CAST(min(p.unit_mc) AS DOUBLE) / 100000.0 AS best_unit_price,
      |       count(*) AS n_tied
      |FROM p JOIN m USING (part, unit_mc)
      |GROUP BY part
      |ORDER BY part""".stripMargin

  /** TIME-TO-CONVERT quantiles per funnel stage: how long users take
    * between consecutive funnel stages, as EXACT lower-median / p90 /
    * max — the latency companion to [[eventFunnel]]'s mean gaps
    * (heavy-tailed conversion delays make the mean misleading; the
    * reference's describe() quartiles are the same instinct).
    *
    * Quantiles come from the gap-seconds HISTOGRAM (the equi-depth
    * technique): per-user gaps collapse to (stage, gap) counts, the
    * cumulative walk runs over that bounded-cardinality table
    * (partitioned by stage — each partition is histogram-sized), and
    * the quantile is the first gap whose cumulative count reaches
    * ⌈q·n⌉. ZERO floating point — every output column is integer
    * seconds. */
  def funnelTime(spark: SparkSession, dir: String): DataFrame =
    funnelTimeOf(Tables(spark, dir, "events"))

  private[graft] def funnelTimeOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val staged = funnelStagesOf(events)
    val gaps = Seq(
      ("2_view", col("t2") - col("t1")),
      ("3_click", col("t3") - col("t2")),
      ("4_purchase", col("t4") - col("t3")))
      .map { case (name, g) =>
        staged.filter(g.isNotNull).select(lit(name).as("stage"), g.as("gap")) }
      .reduce(_ unionByName _)
    val h = gaps.groupBy("stage", "gap").agg(count(lit(1)).as("t"))
    val w = Window.partitionBy("stage").orderBy("gap")
    val cum = h
      .withColumn("thru", sum("t").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum("t").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    cum.groupBy("stage")
      .agg(max("n").as("n_users"),
        min(when(col("thru") * 2 >= col("n"), col("gap"))).as("median_gap_s"),
        min(when(col("thru") * 10 >= col("n") * 9, col("gap"))).as("p90_gap_s"),
        max("gap").as("max_gap_s"))
      .orderBy("stage")
  }

  val funnelTimeSql: String =
    """WITH e AS (SELECT user_id, event_type,
      |                  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec
      |           FROM events),
      |s1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN tsec END)
      |                   OVER (PARTITION BY user_id) AS t1 FROM e),
      |s2 AS (SELECT *, min(CASE WHEN event_type = 'view' AND tsec > t1 THEN tsec END)
      |                   OVER (PARTITION BY user_id) AS t2 FROM s1),
      |s3 AS (SELECT *, min(CASE WHEN event_type = 'click' AND tsec > t2 THEN tsec END)
      |                   OVER (PARTITION BY user_id) AS t3 FROM s2),
      |s4 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND tsec > t3 THEN tsec END)
      |                   OVER (PARTITION BY user_id) AS t4 FROM s3),
      |u AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3, max(t4) AS t4
      |      FROM s4 GROUP BY 1),
      |gaps AS (
      |  SELECT '2_view' AS stage, t2 - t1 AS gap FROM u WHERE t2 - t1 IS NOT NULL
      |  UNION ALL
      |  SELECT '3_click', t3 - t2 FROM u WHERE t3 - t2 IS NOT NULL
      |  UNION ALL
      |  SELECT '4_purchase', t4 - t3 FROM u WHERE t4 - t3 IS NOT NULL),
      |h AS (SELECT stage, gap, count(*) AS t FROM gaps GROUP BY 1, 2),
      |c AS (SELECT stage, gap, t,
      |             sum(t) OVER (PARTITION BY stage ORDER BY gap
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS thru,
      |             sum(t) OVER (PARTITION BY stage) AS n
      |      FROM h)
      |SELECT stage, CAST(max(n) AS BIGINT) AS n_users,
      |       CAST(min(CASE WHEN thru * 2 >= n THEN gap END) AS BIGINT) AS median_gap_s,
      |       CAST(min(CASE WHEN thru * 10 >= n * 9 THEN gap END) AS BIGINT) AS p90_gap_s,
      |       CAST(max(gap) AS BIGINT) AS max_gap_s
      |FROM c
      |GROUP BY stage
      |ORDER BY stage""".stripMargin

  /** MARKET-SHARE SHIFT — percent-of-total and rank trajectory by
    * month: each order priority's share of that month's revenue, its
    * within-month rank, and the rank movement vs the priority's
    * previous appearance (plain `lag` — a month with no orders for a
    * priority is skipped, not treated as rank ∞)
    * (the share-analytics composition: aggregate → window-over-
    * aggregate in TWO independent directions — within-month for
    * share/rank, across-months per priority for the lag). The base
    * aggregate is (month × priority)-sized, so every window here runs
    * over a tiny relation — the single full-data pass is the cents
    * aggregation. Revenue exact integer cents; share one division;
    * ranks/deltas integers (rank ties broken by priority). */
  def shareShift(spark: SparkSession, dir: String): DataFrame =
    shareShiftOf(Tables(spark, dir, "orders"))

  private[graft] def shareShiftOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = orders
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"),
        col("o_orderpriority").as("priority"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val wm = Window.partitionBy("month")
    val wp = Window.partitionBy("priority").orderBy("month")
    m.withColumn("total", sum("cents").over(wm))
      .withColumn("rank", row_number().over(
        wm.orderBy(desc("cents"), asc("priority"))))
      .withColumn("rank_delta", lag("rank", 1).over(wp) - col("rank"))
      .select(col("month"), col("priority"),
        (col("cents").cast("double") / 100.0).as("revenue"),
        round(col("cents").cast("double") / col("total"), 6).as("share"),
        col("rank"), col("rank_delta"))
      .orderBy("month", "rank")
  }

  val shareShiftSql: String =
    """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
      |                  o_orderpriority AS priority,
      |                  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |           FROM orders GROUP BY 1, 2),
      |r AS (SELECT month, priority, cents,
      |             sum(cents) OVER (PARTITION BY month) AS total,
      |             row_number() OVER (PARTITION BY month
      |               ORDER BY cents DESC, priority) AS rank
      |      FROM m)
      |SELECT month, priority,
      |       CAST(cents AS DOUBLE) / 100.0 AS revenue,
      |       round(CAST(cents AS DOUBLE) / total, 6) AS share,
      |       CAST(rank AS INTEGER) AS rank,
      |       CAST(lag(rank) OVER (PARTITION BY priority ORDER BY month) - rank
      |            AS INTEGER) AS rank_delta
      |FROM r
      |ORDER BY month, rank""".stripMargin

  /** ASSOCIATION RULES from the frequent pairs — the step after
    * [[frequentPairs]] in the A-Priori pipeline: each qualifying pair
    * {X, Y} yields both directed rules X→Y and Y→X, scored by
    * confidence = n(XY)/n(X) and MMDS's interest = confidence −
    * support(Y) (how much X actually raises Y over its base rate; a
    * high-confidence rule onto an everywhere-item scores ~0). Same
    * basket-local fan-out bound as the pair mining; the rule scoring
    * adds only item-histogram joins. Confidence/interest are single
    * divisions of exact integers, ROUNDED BEFORE RANKING (the tfidf
    * precedent) so cut and output can't disagree cross-engine; the
    * top-20 cut tie-breaks on the full rounded-score+counts+ids key. */
  def assocRules(spark: SparkSession, dir: String): DataFrame =
    assocRulesOf(Tables(spark, dir, "lineitem"),
      Some(basketItemsScratch(spark, dir)), Some(basketPairsScratch(spark, dir)))

  private[graft] def assocRulesOf(lineitem: DataFrame,
      items0: Option[DataFrame] = None,
      pairs0: Option[DataFrame] = None): DataFrame = {
    val items = items0.getOrElse(
      graft.Tables.scratchPin(basketItems(lineitem), "ar-items")) // corpus-sized — durable pin (r11)
    val nBaskets = items.agg(countDistinct("o").as("n_baskets"))
    val itemCnt = items.groupBy("p").agg(count(lit(1)).as("ic"))
    val pairs = pairs0.getOrElse(items.alias("a").join(items.alias("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= 2))
    val rules = pairs.select(col("p1").as("ante"), col("p2").as("cons"), col("pair_cnt"))
      .unionAll(pairs.select(col("p2").as("ante"), col("p1").as("cons"), col("pair_cnt")))
    rules
      .join(itemCnt.select(col("p").as("ante"), col("ic").as("c_ante")), "ante")
      .join(itemCnt.select(col("p").as("cons"), col("ic").as("c_cons")), "cons")
      .crossJoin(broadcast(nBaskets))
      .select(col("ante"), col("cons"), col("pair_cnt"),
        round(col("pair_cnt").cast("double") / col("c_ante"), 6).as("confidence"),
        round(col("pair_cnt").cast("double") / col("c_ante")
          - col("c_cons").cast("double") / col("n_baskets"), 6).as("interest"))
      .orderBy(desc("confidence"), desc("pair_cnt"), asc("ante"), asc("cons"))
      .limit(20)
  }

  val assocRulesSql: String =
    """WITH i AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |nb AS (SELECT count(DISTINCT o) AS n_baskets FROM i),
      |ic AS (SELECT p, count(*) AS ic FROM i GROUP BY p),
      |pr AS (SELECT a.p AS p1, b.p AS p2, count(*) AS pair_cnt
      |       FROM i a JOIN i b ON a.o = b.o AND a.p < b.p
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |rules AS (SELECT p1 AS ante, p2 AS cons, pair_cnt FROM pr
      |          UNION ALL SELECT p2, p1, pair_cnt FROM pr)
      |SELECT ante, cons, pair_cnt,
      |       round(CAST(pair_cnt AS DOUBLE) / c1.ic, 6) AS confidence,
      |       round(CAST(pair_cnt AS DOUBLE) / c1.ic
      |             - CAST(c2.ic AS DOUBLE) / n_baskets, 6) AS interest
      |FROM rules
      |JOIN ic c1 ON c1.p = rules.ante
      |JOIN ic c2 ON c2.p = rules.cons
      |CROSS JOIN nb
      |ORDER BY confidence DESC, pair_cnt DESC, ante, cons
      |LIMIT 20""".stripMargin

  /** JOIN-CARDINALITY FORECAST — predict a join's output size (and its
    * skew) from the two sides' key histograms, WITHOUT running the
    * join: |A⋈B| = Σ_k c_A(k)·c_B(k). This is the shuffle-sizing
    * pre-check a pipeline runs before committing to an expensive
    * self-join — here forecasting [[frequentPairs]]' basket self-join:
    * per-basket distinct-item counts c give the self-join fan-out
    * Σc² and the true pair yield Σc(c−1)/2, plus the largest single
    * basket's share (the would-be straggler). The histograms are
    * key-cardinality-sized — the forecast costs one aggregation,
    * orders of magnitude under the join it sizes; all counts exact
    * integers, the share a single division. */
  def joinForecast(spark: SparkSession, dir: String): DataFrame =
    joinForecastOf(Tables(spark, dir, "lineitem"))

  private[graft] def joinForecastOf(lineitem: DataFrame): DataFrame =
    basketItems(lineitem)
      .groupBy("o").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_baskets"),
        sum("c").as("n_items"),
        sum(col("c") * col("c")).as("selfjoin_rows"),
        expr("sum(c * (c - 1)) div 2").as("pair_rows"),
        max("c").as("max_basket"))
      .select(col("n_baskets"), col("n_items"), col("selfjoin_rows"),
        col("pair_rows"), col("max_basket"),
        round((col("max_basket") * (col("max_basket") - 1)).cast("double")
          / 2.0 / col("pair_rows"), 6).as("top_basket_share"))

  val joinForecastSql: String =
    """WITH c AS (SELECT o, count(*) AS c FROM
      |             (SELECT DISTINCT l_orderkey AS o, l_partkey FROM lineitem)
      |           GROUP BY o)
      |SELECT count(*) AS n_baskets,
      |       CAST(sum(c) AS BIGINT) AS n_items,
      |       CAST(sum(c * c) AS BIGINT) AS selfjoin_rows,
      |       CAST(sum(c * (c - 1)) // 2 AS BIGINT) AS pair_rows,
      |       CAST(max(c) AS BIGINT) AS max_basket,
      |       round(CAST(max(c) * (max(c) - 1) AS DOUBLE) / 2.0
      |             / (sum(c * (c - 1)) // 2), 6) AS top_basket_share
      |FROM c""".stripMargin

  /** DuckDB twin of [[bootstrapCi]]: identical hash ring, identical
    * inverse-CDF branch, identical order-statistic convention. */
  val bootstrapCiSql: String = {
    val key = s"(doc_id * $BootB + b + 1)"
    s"""WITH r AS (
       |  SELECT doc_id, n_chars, unnest(range($BootB)) AS b FROM documents),
       |u AS (
       |  SELECT n_chars, b,
       |         ((((($key % 4294967296) * 40503) % 65536) * 65536
       |           + ($key % 4294967296) * 31153) % 4294967296) / 4294967296.0 AS u
       |  FROM r),
       |m AS (
       |  SELECT b, CAST(sum(w * n_chars) AS DOUBLE) / sum(w) AS mb
       |  FROM (SELECT n_chars, b, $PoisInv AS w FROM u)
       |  GROUP BY b),
       |sel AS (
       |  SELECT max(CASE WHEN rn = $BootLo THEN mb END) AS ci_lo,
       |         max(CASE WHEN rn = $BootHi THEN mb END) AS ci_hi
       |  FROM (SELECT mb, row_number() OVER (ORDER BY mb, b) AS rn FROM m))
       |SELECT (SELECT count(*) FROM documents) AS n_docs,
       |       (SELECT CAST(sum(n_chars) AS DOUBLE) / count(*) FROM documents) AS mean,
       |       ci_lo, ci_hi
       |FROM sel""".stripMargin
  }

  /** Skyline (Pareto frontier) of the part catalog: the parts for which
    * no other part is both cheaper-or-equal AND larger-or-equal (with
    * one strict) — the "best deals" frontier, the multi-objective
    * complement of [[argminJoin]]'s single-objective argmin.
    *
    * NOT a dominance self-join (O(n²) pairs) and NOT a global
    * row_number sort: the relation collapses to its distinct
    * (price, size) histogram first — one hash aggregation, the only
    * full-data pass, cardinality bounded by the value domain — and the
    * 2-D frontier falls out of the classic sweep identity on that
    * table: a point survives iff no strictly-cheaper point reaches its
    * size (`max(size) over prices < p`, an integer-cents RANGE frame)
    * and no same-price point exceeds it. Exact duplicates are mutually
    * non-dominating and survive together, carried as multiplicity.
    * Distributed-skyline note: skyline(∪ᵢ skyline(partᵢ)) =
    * skyline(all) — the histogram collapse plays the "local pass"
    * role, and the windows run over the vocabulary-sized remainder.
    * All-integer dominance arithmetic; cross-engine exact. */
  def skyline(spark: SparkSession, dir: String): DataFrame =
    skylineOf(Tables(spark, dir, "part"))

  private[graft] def skylineOf(part: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = part
      .groupBy(Det.cents(col("p_retailprice")).as("pc"), col("p_size").as("sz"))
      .agg(count(lit(1)).as("n_parts"))
    // integer cents ⇒ rangeBetween(…, -1) is exactly "strictly cheaper"
    val cheaper = Window.orderBy("pc").rangeBetween(Window.unboundedPreceding, -1)
    val samePrice = Window.partitionBy("pc")
    h.withColumn("best_lt", max("sz").over(cheaper))
      .withColumn("best_eq", max("sz").over(samePrice))
      .filter(coalesce(col("best_lt"), lit(Int.MinValue.toLong)) < col("sz") &&
        col("sz") === col("best_eq"))
      .select((col("pc").cast("double") / 100.0).as("price"),
        col("sz").as("p_size"), col("n_parts"))
      .orderBy("price", "p_size")
  }

  val skylineSql: String =
    s"""WITH h AS (SELECT ${Det.centsSql("p_retailprice")} AS pc, p_size AS sz,
       |                  count(*) AS n_parts
       |           FROM part GROUP BY 1, 2)
       |SELECT CAST(pc AS DOUBLE) / 100.0 AS price, sz AS p_size,
       |       CAST(n_parts AS BIGINT) AS n_parts
       |FROM h a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM h b
       |  WHERE b.pc <= a.pc AND b.sz >= a.sz AND (b.pc < a.pc OR b.sz > a.sz))
       |ORDER BY price, p_size""".stripMargin

  /** Conversion event for [[survivalKm]]: first purchase with value ≥
    * this threshold (~45% of users convert at gate scale — a real mix
    * of deaths and right-censored survivors). */
  private val KmValueMin = 150.0

  /** Kaplan-Meier time-to-conversion curve with right-censoring — the
    * survival-analysis operator behind every retention/conversion
    * curve that [[funnelTime]]'s converter-only quantiles cannot
    * express: users who never convert contribute risk exposure up to
    * corpus end WITHOUT contributing a conversion, so S(t) is unbiased
    * by the observation window (dropping censored users — the naive
    * fix — overstates conversion speed).
    *
    * Duration = first event → first value-≥-[[KmValueMin]] purchase
    * (death) or corpus end (censored), discretized to whole days in
    * exact integer micros. The fact table collapses to a
    * ≤ corpus-span-days histogram of (day, deaths, censored) — one
    * user-keyed aggregation then one day-keyed aggregation are the
    * only full-data passes; the KM product and risk-set accounting run
    * over the day table (standard convention: users censored AT day t
    * count in t's risk set). Risk sets and event counts are exact
    * integers; only the survival product itself is floating (exp∘Σln —
    * associativity-free because the window prefix order is fixed),
    * rounded via [[Det]]. */
  /** LOG-RANK TEST between the two user-id-parity cohorts on the same
    * time-to-conversion data as [[survivalKm]]: at every conversion
    * day the observed group-1 conversions are compared to the
    * hypergeometric expectation given both risk sets, and
    * χ² = (O₁−E₁)²/V decides whether the two survival curves differ —
    * the inference companion to the KM curve (which only DESCRIBES
    * one cohort). Parity split = the engine-neutral A/B assignment
    * the drift family already uses.
    *
    * Scale shape: one groupBy(user) pass, then everything lives in
    * day-histogram space (two cumulative windows over the
    * calendar-bounded day relation). Counts and risk sets are exact
    * integers; E₁ and V are per-day rationals summed over the
    * day relation and fenced once. Days with n ≤ 1 at risk carry no
    * variance (the standard convention, identical in the oracle). */
  def logrankTest(spark: SparkSession, dir: String): DataFrame =
    logrankTestOf(Tables(spark, dir, "events"))

  private[graft] def logrankTestOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = events.groupBy("user_id").agg(
      min(unix_micros(col("ts"))).as("first_us"),
      min(when(col("event_type") === "purchase" && col("value") >= KmValueMin,
        unix_micros(col("ts")))).as("conv_us"))
    val corpusEnd = events.agg(max(unix_micros(col("ts"))).as("end_us"))
    val daily = users.crossJoin(broadcast(corpusEnd))
      .select(pmod(col("user_id"), lit(2)).as("g"),
        expr("(coalesce(conv_us, end_us) - first_us) div 86400000000").as("day"),
        col("conv_us").isNotNull.as("obs"))
      .groupBy("day").agg(
        sum(when(col("obs") && col("g") === 0, 1L).otherwise(0L)).as("d0"),
        sum(when(!col("obs") && col("g") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("obs") && col("g") === 1, 1L).otherwise(0L)).as("d1"),
        sum(when(!col("obs") && col("g") === 1, 1L).otherwise(0L)).as("c1"))
    val w = Window.orderBy("day")
    val risk = daily
      .withColumn("n0", sum(col("d0") + col("c0")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        - coalesce(sum(col("d0") + col("c0")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n1", sum(col("d1") + col("c1")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        - coalesce(sum(col("d1") + col("c1")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", col("n0") + col("n1"))
      .withColumn("d", col("d0") + col("d1"))
    risk.agg(
        sum("d0").as("o0"), sum("d1").as("o1"),
        sum(col("d").cast("double") * col("n1") / col("n")).as("e1"),
        sum(when(col("n") > 1,
          col("d").cast("double") * col("n1") / col("n")
            * (lit(1.0) - col("n1").cast("double") / col("n"))
            * (col("n") - col("d")).cast("double") / (col("n") - 1))
          .otherwise(0.0)).as("v"))
      .select(col("o0"), col("o1"),
        Det.rnd(col("e1"), 4).as("e1"),
        Det.rnd((col("o1").cast("double") - col("e1"))
          / sqrt(col("v")), 4).as("z"),
        Det.rnd((col("o1").cast("double") - col("e1"))
          * (col("o1").cast("double") - col("e1")) / col("v"), 4).as("chi2"))
  }

  val logrankTestSql: String =
    s"""WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
       |                  min(CASE WHEN event_type = 'purchase' AND value >= $KmValueMin
       |                           THEN epoch_us(ts) END) AS conv
       |           FROM events GROUP BY 1),
       |h AS (SELECT max(epoch_us(ts)) AS e FROM events),
       |dd AS (SELECT (coalesce(conv, e) - f) // 86400000000 AS day,
       |              CAST(sum(CASE WHEN conv IS NOT NULL AND user_id % 2 = 0
       |                            THEN 1 ELSE 0 END) AS BIGINT) AS d0,
       |              CAST(sum(CASE WHEN conv IS NULL AND user_id % 2 = 0
       |                            THEN 1 ELSE 0 END) AS BIGINT) AS c0,
       |              CAST(sum(CASE WHEN conv IS NOT NULL AND user_id % 2 = 1
       |                            THEN 1 ELSE 0 END) AS BIGINT) AS d1,
       |              CAST(sum(CASE WHEN conv IS NULL AND user_id % 2 = 1
       |                            THEN 1 ELSE 0 END) AS BIGINT) AS c1
       |       FROM u CROSS JOIN h GROUP BY 1),
       |rk AS (SELECT day, d0, d1,
       |              sum(d0 + c0) OVER ()
       |                - coalesce(sum(d0 + c0) OVER (ORDER BY day
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n0,
       |              sum(d1 + c1) OVER ()
       |                - coalesce(sum(d1 + c1) OVER (ORDER BY day
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
       |       FROM dd),
       |a AS (SELECT CAST(sum(d0) AS BIGINT) AS o0, CAST(sum(d1) AS BIGINT) AS o1,
       |             sum(CAST(d0 + d1 AS DOUBLE) * n1 / (n0 + n1)) AS e1,
       |             sum(CASE WHEN n0 + n1 > 1
       |                      THEN CAST(d0 + d1 AS DOUBLE) * n1 / (n0 + n1)
       |                           * (1.0 - CAST(n1 AS DOUBLE) / (n0 + n1))
       |                           * CAST(n0 + n1 - d0 - d1 AS DOUBLE) / (n0 + n1 - 1)
       |                      ELSE 0.0 END) AS v
       |      FROM rk)
       |SELECT o0, o1, ${Det.rndSql("e1", 4)} AS e1,
       |       ${Det.rndSql("(CAST(o1 AS DOUBLE) - e1) / sqrt(v)", 4)} AS z,
       |       ${Det.rndSql(
          "(CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v", 4)} AS chi2
       |FROM a""".stripMargin

  def survivalKm(spark: SparkSession, dir: String): DataFrame =
    survivalKmOf(Tables(spark, dir, "events"))

  private[graft] def survivalKmOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = events.groupBy("user_id").agg(
      min(unix_micros(col("ts"))).as("first_us"),
      min(when(col("event_type") === "purchase" && col("value") >= KmValueMin,
        unix_micros(col("ts")))).as("conv_us"))
    val corpusEnd = events.agg(max(unix_micros(col("ts"))).as("end_us"))
    val daily = users.crossJoin(broadcast(corpusEnd))
      .select(
        expr("(coalesce(conv_us, end_us) - first_us) div 86400000000").as("day"),
        col("conv_us").isNotNull.as("obs"))
      .groupBy("day").agg(
        sum(when(col("obs"), 1L).otherwise(0L)).as("d"),
        sum(when(col("obs"), 0L).otherwise(1L)).as("c"))
    val w = Window.orderBy("day")
    daily
      .withColumn("gone_before", coalesce(sum(col("d") + col("c"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum(col("d") + col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n_risk", col("total") - col("gone_before"))
      // Terminal-day guard: a day where every at-risk user converts
      // (d == n_risk) is a legitimate KM outcome with S(t) = 0, but
      // log(0) is NULL in Spark and an error in DuckDB. Keep only the
      // d < n_risk factors in the log-sum and force surv to 0.0 once
      // any prefix day has extinguished the risk set.
      .withColumn("extinct", max(when(col("d") === col("n_risk"), 1)
        .otherwise(0)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("surv", when(col("extinct") === 1, lit(0.0))
        .otherwise(Det.rnd(exp(coalesce(sum(
          when(col("d") < col("n_risk"),
            log(lit(1.0) - col("d").cast("double") / col("n_risk"))))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), lit(0.0))), 4)))
      .select(col("day"), col("d"), col("c"), col("n_risk"), col("surv"))
      .orderBy("day")
  }

  val survivalKmSql: String =
    s"""WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
       |                  min(CASE WHEN event_type = 'purchase' AND value >= $KmValueMin
       |                           THEN epoch_us(ts) END) AS conv
       |           FROM events GROUP BY 1),
       |h AS (SELECT max(epoch_us(ts)) AS e FROM events),
       |dd AS (SELECT (coalesce(conv, e) - f) // 86400000000 AS day,
       |              CAST(sum(CASE WHEN conv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |              CAST(sum(CASE WHEN conv IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS c
       |       FROM u CROSS JOIN h GROUP BY 1),
       |wdw AS (SELECT day, d, c,
       |               sum(d + c) OVER ()
       |                 - coalesce(sum(d + c) OVER (ORDER BY day
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
       |        FROM dd)
       |SELECT day, d, c, CAST(n_risk AS BIGINT) AS n_risk,
       |       CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
       |                 OVER (ORDER BY day
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
       |            THEN 0.0
       |            ELSE ${Det.rndSql(
                 "exp(coalesce(sum(CASE WHEN d < n_risk THEN " +
                 "ln(1 - CAST(d AS DOUBLE) / n_risk) END) OVER (ORDER BY day " +
                 "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0))", 4)}
       |       END AS surv
       |FROM wdw
       |ORDER BY day""".stripMargin

  private val ZoneRows = 256L
  private val ZoneLoUs = 1704672000000000L // 2024-01-08T00:00:00Z
  private val ZoneHiUs = 1705276800000000L // 2024-01-15T00:00:00Z

  /** Zone-map data skipping made explicit: per-zone (min, max)
    * statistics over the events stream's ingestion order, then a
    * time-range count that consults ONLY the stats table to decide
    * which zones to scan — the engine-level mechanic behind parquet
    * row-group pruning / Iceberg manifest filtering, surfaced as an
    * operator so its effectiveness is measurable. Events arrive
    * roughly time-ordered (ingestion clustering, corr(ts, event_id) ≈
    * 0.9999 in the corpus — the property zone maps exploit), so a
    * [[ZoneRows]]-row zone's [min,max] interval is narrow and a
    * one-week predicate disqualifies most zones from the stats table
    * alone.
    *
    * Output is the audit row a table-format maintenance job emits:
    * zones total/scanned, exact rows matched, and the false-positive
    * rows a zone-granular scan reads but discards. The stats build is
    * one hash aggregation; the probe side broadcasts the surviving
    * zone ids into the fact scan (a zones-sized list), so the "scan"
    * is a semi-join that a file-skipping reader executes as I/O
    * elision — nothing here shuffles the fact table. At 100 TB the
    * stats table is rows/[[ZoneRows]] entries — the manifest, not the
    * data. */
  def zonemapPrune(spark: SparkSession, dir: String): DataFrame =
    zonemapPruneOf(Tables(spark, dir, "events"))

  private[graft] def zonemapPruneOf(events: DataFrame): DataFrame = {
    val us = events.select(col("event_id"),
      unix_micros(col("ts")).as("tus"),
      expr(s"event_id div $ZoneRows").as("zone"))
    val stats = us.groupBy("zone")
      .agg(min("tus").as("mn"), max("tus").as("mx"), count(lit(1)).as("rows"))
    val live = stats.filter(col("mx") >= ZoneLoUs && col("mn") < ZoneHiUs)
    val scanned = us.join(broadcast(live.select("zone")), Seq("zone"))
    scanned.agg(
        count(lit(1)).as("rows_scanned"),
        sum(when(col("tus") >= ZoneLoUs && col("tus") < ZoneHiUs, 1L)
          .otherwise(0L)).as("rows_matched"))
      .crossJoin(broadcast(stats.agg(
        count(lit(1)).as("zones_total"),
        sum(when(col("mx") >= ZoneLoUs && col("mn") < ZoneHiUs, 1L)
          .otherwise(0L)).as("zones_scanned"))))
      .select(col("zones_total"), col("zones_scanned"),
        col("rows_scanned"), col("rows_matched"),
        (col("rows_scanned") - col("rows_matched")).as("rows_false_positive"))
  }

  val zonemapPruneSql: String =
    s"""WITH z AS (SELECT event_id // $ZoneRows AS zone, epoch_us(ts) AS tus
       |           FROM events),
       |s AS (SELECT zone, min(tus) AS mn, max(tus) AS mx FROM z GROUP BY 1),
       |live AS (SELECT zone FROM s WHERE mx >= $ZoneLoUs AND mn < $ZoneHiUs),
       |sc AS (SELECT count(*) AS rows_scanned,
       |              CAST(sum(CASE WHEN tus >= $ZoneLoUs AND tus < $ZoneHiUs
       |                            THEN 1 ELSE 0 END) AS BIGINT) AS rows_matched
       |       FROM z JOIN live USING (zone))
       |SELECT (SELECT count(*) FROM s) AS zones_total,
       |       (SELECT count(*) FROM live) AS zones_scanned,
       |       CAST(rows_scanned AS BIGINT) AS rows_scanned,
       |       rows_matched,
       |       CAST(rows_scanned - rows_matched AS BIGINT) AS rows_false_positive
       |FROM sc""".stripMargin

  private val RfmBins = 5

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * feature-assembly operator behind churn models and campaign
    * targeting: one user-keyed pass builds the three exact features,
    * then each feature maps to a quintile score WITHOUT a corpus-wide
    * rank. The equi-depth trick of [[equidepthHist]] applies per
    * dimension: scores derive from the cumulative counts of each
    * feature's distinct-VALUE histogram (recency is bounded by corpus
    * span in hours, frequency by per-user event counts; monetary is
    * deliberately coarsened to whole dollars so its score domain is
    * value-bounded too — score resolution, not accounting resolution).
    * A tie never straddles a score boundary, exactly as a range
    * partitioner treats it. Features stay exact integers
    * (days/counts/cents); only scores derive from them. */
  def rfmSegment(spark: SparkSession, dir: String): DataFrame = {
    // per-user feature frame is corpus-keyed (one row per user) and
    // read four times — durable scratch parquet, not executor-pinned
    // (the VERDICT r8 #2 pattern)
    rfmFinish(Tables.pinKeyed(spark, "rfm", dir)(rfmFeaturesOf(Tables(spark, dir, "events"))))
  }

  /** Per-user exact-integer RFM features (recency hours, frequency,
    * monetary cents + whole-dollar coarsening). */
  private[graft] def rfmFeaturesOf(events: DataFrame): DataFrame = {
    val corpusEnd = events.agg(max(unix_micros(col("ts"))).as("end_us"))
    events.groupBy("user_id").agg(
        max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("frequency"),
        coalesce(sum(when(col("event_type") === "purchase",
          Det.cents(col("value")))), lit(0L)).as("monetary_cents"))
      .crossJoin(broadcast(corpusEnd))
      .select(col("user_id"),
        expr("(end_us - last_us) div 3600000000").as("recency_hours"),
        col("frequency"), col("monetary_cents"),
        expr("monetary_cents div 100").as("m_dollars"))
  }

  /** Quintile scoring + segment assembly over a materialized feature
    * frame. */
  private def rfmFinish(rfm: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // quintile score from the feature's distinct-value histogram:
    // bucket = floor(cumBefore·bins / n) + 1, ties land whole
    // (equidepth); `worstFirst` orders the histogram so score 5 is
    // always the BEST quintile of the dimension
    def scoresFor(feature: String, worstFirst: Boolean, scoreName: String): DataFrame = {
      val h = rfm.groupBy(col(feature).as("v")).agg(count(lit(1)).as("t"))
      val w = if (worstFirst) Window.orderBy("v") else Window.orderBy(desc("v"))
      h.withColumn("cum",
          coalesce(sum("t").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum("t").over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("v").as(feature),
          expr(s"least($RfmBins, CAST((cum * $RfmBins) div n AS INT) + 1)")
            .as(scoreName))
    }
    rfm
      .join(broadcast(scoresFor("recency_hours", worstFirst = false, "r_score")),
        "recency_hours") // largest recency scored first → 1; freshest → 5
      .join(broadcast(scoresFor("frequency", worstFirst = true, "f_score")),
        "frequency")
      .join(broadcast(scoresFor("m_dollars", worstFirst = true, "m_score")),
        "m_dollars")
      .select(col("user_id"), col("recency_hours"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("segment"))
      .orderBy("user_id")
  }

  val rfmSegmentSql: String =
    s"""WITH e AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
       |rfm AS (SELECT user_id,
       |               (e.end_us - max(epoch_us(ts))) // 3600000000 AS recency_hours,
       |               count(*) AS frequency,
       |               CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
       |                 THEN ${Det.centsSql("value")} END), 0) AS BIGINT) AS monetary_cents
       |        FROM events CROSS JOIN e
       |        GROUP BY user_id, e.end_us),
       |r2 AS (SELECT *, monetary_cents // 100 AS m_dollars FROM rfm),
       |rs AS (SELECT v AS recency_hours,
       |              least($RfmBins, CAST(cum * $RfmBins // n AS INT) + 1) AS r_score
       |       FROM (SELECT v, coalesce(sum(t) OVER (ORDER BY v DESC
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
       |                    sum(t) OVER () AS n
       |             FROM (SELECT recency_hours AS v, count(*) AS t FROM r2 GROUP BY 1))),
       |fs AS (SELECT v AS frequency,
       |              least($RfmBins, CAST(cum * $RfmBins // n AS INT) + 1) AS f_score
       |       FROM (SELECT v, coalesce(sum(t) OVER (ORDER BY v
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
       |                    sum(t) OVER () AS n
       |             FROM (SELECT frequency AS v, count(*) AS t FROM r2 GROUP BY 1))),
       |ms AS (SELECT v AS m_dollars,
       |              least($RfmBins, CAST(cum * $RfmBins // n AS INT) + 1) AS m_score
       |       FROM (SELECT v, coalesce(sum(t) OVER (ORDER BY v
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
       |                    sum(t) OVER () AS n
       |             FROM (SELECT m_dollars AS v, count(*) AS t FROM r2 GROUP BY 1)))
       |SELECT user_id, recency_hours, frequency, monetary_cents,
       |       CAST(r_score AS INTEGER) AS r_score, CAST(f_score AS INTEGER) AS f_score,
       |       CAST(m_score AS INTEGER) AS m_score,
       |       CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER) AS segment
       |FROM r2
       |JOIN rs USING (recency_hours) JOIN fs USING (frequency) JOIN ms USING (m_dollars)
       |ORDER BY user_id""".stripMargin

  /** One-step-ahead EWMA forecast of the daily event volume with
    * α = 1/2 — the capacity-planning smoother, computed EXACTLY where
    * doubles allow and deterministically everywhere: with a dyadic α
    * the recurrence level_d = (c_d + level_{d−1})/2 has the closed
    * form 2^{d+1}·level_d = c_0 + Σ_{j=0..d} 2^j·c_j, so the level is
    * an integer window sum divided by a power of two. A single global
    * closed form overflows the BIGINT scale factor past day 62, so
    * the recurrence is RE-ANCHORED every [[EwmaSegDays]] days
    * (segment reseed): within a segment the scaled sum
    * T_d = Σ 2^{d mod S}·c_d is an exact BIGINT, and the carry into
    * segment g obeys carry(g) = 2^{−S}·(T'_{g−1} + carry(g−1)) (the
    * total decay across any segment is exactly S halvings, gaps
    * included), seeded carry(0) = c₀. The carry chain is evaluated as
    * an ascending-k fold of exactly-scaled terms — IEEE multiplication
    * by a power of two commutes with addition rounding, so the fold is
    * BIT-EQUAL to the sequential per-segment recurrence (property-
    * tested over a >100-day fixture in Round9Spec). Contributions
    * older than ~34 segments underflow to exactly 0.0, which bounds
    * the carry lookback; day spans of centuries stay finite and
    * correct. The daily collapse is the only full-data pass; the
    * finish runs over the ≤ span-days histogram. */
  def ewmaForecast(spark: SparkSession, dir: String): DataFrame =
    ewmaForecastOf(Tables(spark, dir, "events"))

  private[graft] def ewmaForecastOf(events: DataFrame): DataFrame = {
    val start = events.agg(min(unix_micros(col("ts"))).as("start_us"))
    ewmaFinish(events.crossJoin(broadcast(start))
      .groupBy(expr("(unix_micros(ts) - start_us) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c")))
  }

  /** The running half of [[ewmaForecast]] — a plain streaming-safe
    * day-count aggregation (the day origin must be FIXED for a stream;
    * the batch path derives it in-plan). Shared with
    * `StreamJobs.ewmaStream`. */
  private[graft] def ewmaDailyFrom(events: DataFrame, startUs: Long): DataFrame =
    events.groupBy(expr(s"(unix_micros(ts) - ${startUs}L) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))

  /** Segment length of the reseeded dyadic closed form: within-segment
    * scale factors stay ≤ 2^32, so the BIGINT scaled sum is exact (and
    * double-exact) for daily counts up to ~2^20. */
  private[graft] val EwmaSegDays = 32

  /** Carry-chain lookback in segments: 2^(−32·34) underflows below the
    * smallest subnormal double, so older segments contribute exactly
    * 0.0 and the candidate join is bounded regardless of span. */
  private val EwmaCarryHorizon = 40

  /** The vocabulary-sized finish of [[ewmaForecast]]: the segment-
    * reseeded dyadic recurrence over the ≤ span-days histogram (see
    * the operator scaladoc for the algebra). Requires day 0 present —
    * guaranteed because the day origin is min(ts). */
  private[graft] def ewmaFinish(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val S = EwmaSegDays
    val d2 = daily.select(col("day"), col("c"),
      expr(s"day div $S").as("seg"), expr(s"CAST(day % $S AS INT)").as("o"))
    val c0 = daily.filter(col("day") === 0).select(col("c").as("c0"))
    // per-segment scaled total T'_g (exact BIGINT; segments are
    // vocabulary-sized: span/S rows)
    val segs = d2.groupBy("seg")
      .agg(sum(expr("c * shiftleft(CAST(1 AS BIGINT), o)")).as("tp"))
    // carry(g) = fold over k < g ascending of T'_k·2^{−S(g−k)}, seeded
    // c₀·2^{−Sg}; the bounded-horizon join is exact because older
    // terms are 0.0 by underflow
    val carries = d2.select(col("seg").as("g")).distinct()
      .join(broadcast(segs.select(col("seg").as("k"), col("tp"))),
        col("k") < col("g") && col("k") >= col("g") - EwmaCarryHorizon, "left")
      .groupBy("g")
      .agg(sort_array(collect_list(when(col("k").isNotNull,
        struct(col("k"), col("tp"))))).as("terms"))
      .crossJoin(broadcast(c0))
      .select(col("g"), expr(
        s"""aggregate(terms,
           |  CAST(c0 AS DOUBLE) * power(2.0, -CAST($S AS DOUBLE) * CAST(g AS DOUBLE)),
           |  (acc, t) -> acc + CAST(t.tp AS DOUBLE)
           |    * power(2.0, -CAST($S AS DOUBLE) * CAST(g - t.k AS DOUBLE)))""".stripMargin)
        .as("carry"))
    val w = Window.partitionBy("seg").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    d2.join(broadcast(carries), col("seg") === col("g"))
      .withColumn("t",
        sum(expr("c * shiftleft(CAST(1 AS BIGINT), o)")).over(w))
      .withColumn("level", (col("t").cast("double") + col("carry"))
        / expr("shiftleft(CAST(1 AS BIGINT), o + 1)").cast("double"))
      .withColumn("forecast_next", col("level"))
      // previous-day level: the last PRESENT level decayed through the
      // zero-event gap days (level halves on an empty day), so err is
      // c − level_{d−1} even right after a gap
      .withColumn("prev_level", lag("level", 1).over(Window.orderBy("day")))
      .withColumn("prev_day", lag("day", 1).over(Window.orderBy("day")))
      .withColumn("err", col("c").cast("double") - col("prev_level")
        * pow(lit(0.5), (col("day") - lit(1) - col("prev_day")).cast("double")))
      .select(col("day"), col("c"), col("level"), col("forecast_next"), col("err"))
      .orderBy("day")
  }

  val ewmaForecastSql: String =
    s"""WITH st AS (SELECT min(epoch_us(ts)) AS start_us FROM events),
       |daily AS (SELECT (epoch_us(ts) - start_us) // 86400000000 AS day,
       |                 count(*) AS c
       |          FROM events CROSS JOIN st GROUP BY 1),
       |d2 AS (SELECT day, c, day // $EwmaSegDays AS seg,
       |              CAST(day % $EwmaSegDays AS INT) AS o FROM daily),
       |c0 AS (SELECT c AS c0 FROM daily WHERE day = 0),
       |segs AS (SELECT seg, sum(c * (CAST(1 AS BIGINT) << o)) AS tp
       |         FROM d2 GROUP BY 1),
       |carries AS (SELECT g.seg AS g,
       |                   CAST(c0 AS DOUBLE)
       |                     * pow(2.0, -$EwmaSegDays.0 * g.seg)
       |                   + coalesce(sum(CAST(k.tp AS DOUBLE)
       |                       * pow(2.0, -$EwmaSegDays.0 * (g.seg - k.seg))), 0.0)
       |                     AS carry
       |            FROM (SELECT DISTINCT seg FROM d2) g
       |            CROSS JOIN c0
       |            LEFT JOIN segs k
       |              ON k.seg < g.seg AND k.seg >= g.seg - $EwmaCarryHorizon
       |            GROUP BY g.seg, c0),
       |lv AS (SELECT day, c,
       |              (CAST(sum(c * (CAST(1 AS BIGINT) << o))
       |                 OVER (PARTITION BY seg ORDER BY day
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |               + carry)
       |              / CAST(CAST(1 AS BIGINT) << (o + 1) AS DOUBLE) AS level
       |       FROM d2 JOIN carries ON seg = g)
       |SELECT day, c, level, level AS forecast_next,
       |       CAST(c AS DOUBLE) - lag(level, 1) OVER (ORDER BY day)
       |         * pow(0.5, CAST(day - 1 - lag(day, 1) OVER (ORDER BY day) AS DOUBLE))
       |         AS err
       |FROM lv
       |ORDER BY day""".stripMargin

  private val NegK = 4       // negatives per customer
  private val NegOversample = 16

  /** Deterministic NEGATIVE SAMPLING for recommender training — the
    * data-prep step that turns implicit-feedback positives
    * (customer bought part) into labeled training pairs: per customer,
    * [[NegK]] parts they did NOT buy, drawn by the same overflow-safe
    * modmul hash family as [[TextQueries.trainSplit]] (no rand() — two
    * engines replay the identical draw). [[NegOversample]] candidate
    * slots per customer are generated in-plan (a constant-width
    * explode, not a catalog scan per user), mapped into the part-key
    * domain, ANTI-JOINED against the customer's positives
    * (co-partitioned on the join key — the one shuffle that matters at
    * scale), then the first [[NegK]] surviving slots win. A customer
    * whose draws all collide keeps < k negatives — bounded, visible,
    * never silently re-drawn (re-draw loops are nondeterministic under
    * partitioning). */
  def negativeSampling(spark: SparkSession, dir: String): DataFrame =
    negativeSamplingOf(Tables(spark, dir, "orders"), Tables(spark, dir, "lineitem"),
      Tables(spark, dir, "part"))

  private[graft] def negativeSamplingOf(
      orders: DataFrame, lineitem: DataFrame, part: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val positives = orders.join(lineitem,
        orders("o_orderkey") === lineitem("l_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_partkey").as("partkey"))
      .distinct()
    val maxPk = part.agg(max("p_partkey").as("max_pk"))
    val draws = positives.select("custkey").distinct()
      .crossJoin(broadcast(maxPk))
      .select(col("custkey"), col("max_pk"),
        explode(expr(s"sequence(0, ${NegOversample - 1})")).as("slot"))
      .withColumn("partkey", expr(
        // Knuth modmul on (custkey, slot), folded into the part-key domain
        "1 + ((custkey * 2654435761 + slot * 40503 + 7) % 4294967296) % max_pk"))
      // colliding hash slots can draw the same partkey twice for one
      // customer; keep the earliest slot so the NegK picks are distinct
      .groupBy("custkey", "partkey").agg(min("slot").as("slot"))
    val survivors = draws.join(positives, Seq("custkey", "partkey"), "left_anti")
    survivors
      .withColumn("pick", row_number().over(
        Window.partitionBy("custkey").orderBy("slot")))
      .filter(col("pick") <= NegK)
      .select(col("custkey"), col("partkey").as("neg_partkey"), col("pick"))
      .orderBy("custkey", "pick")
  }

  val negativeSamplingSql: String =
    s"""WITH pos AS (SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
       |             FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |mp AS (SELECT max(p_partkey) AS max_pk FROM part),
       |draws0 AS (SELECT custkey, max_pk, s.slot,
       |                  1 + ((custkey * 2654435761 + s.slot * 40503 + 7) % 4294967296)
       |                    % max_pk AS partkey
       |           FROM (SELECT DISTINCT custkey FROM pos) CROSS JOIN mp
       |           CROSS JOIN (SELECT unnest(range($NegOversample)) AS slot) s),
       |draws AS (SELECT custkey, partkey, min(slot) AS slot
       |          FROM draws0 GROUP BY 1, 2),
       |surv AS (SELECT d.custkey, d.partkey, d.slot
       |         FROM draws d ANTI JOIN pos p
       |           ON p.custkey = d.custkey AND p.partkey = d.partkey)
       |SELECT custkey, partkey AS neg_partkey, CAST(pick AS INTEGER) AS pick
       |FROM (SELECT custkey, partkey, slot,
       |             row_number() OVER (PARTITION BY custkey ORDER BY slot) AS pick
       |      FROM surv)
       |WHERE pick <= $NegK
       |ORDER BY custkey, pick""".stripMargin

  /** Revenue-concentration audit: Gini coefficient + top-1%/top-10%
    * revenue shares over per-customer order revenue — the inequality
    * metrics a data-curation owner reads before source reweighting
    * (a corpus whose token mass is 90% one domain has the same
    * pathology as a market whose revenue is 90% one account; cf.
    * [[TextQueries]] zipf/mixture ops for the token-side view).
    *
    * Exactness: revenue aggregates in integer cents; the Gini rank sum
    * Σ i·xᵢ collapses ONTO THE DISTINCT-VALUE HISTOGRAM — a run of m
    * equal values ending at ascending position p contributes
    * v·(m·p − m(m−1)/2), summed in decimal(38,0) (HUGEINT on the
    * oracle side), so no per-customer global sort or row numbering
    * exists anywhere in the plan: the only window runs over the
    * distinct-revenue histogram (the established vocabulary-sized
    * finish). Top-k% shares read the same histogram from the top; a
    * boundary inside an equal-value run takes (k − cumBefore)·v —
    * value-identical for any tie order, so no tiebreak is needed at
    * all. Only the final three ratios are floating, each fenced at
    * 6dp. */
  def giniConcentration(spark: SparkSession, dir: String): DataFrame =
    giniConcentrationOf(Tables(spark, dir, "orders"))

  private[graft] def giniConcentrationOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = orders.groupBy("o_custkey")
      .agg(sum(Det.cents(col("o_totalprice"))).as("c"))
    val hist = rev.groupBy("c").agg(count(lit(1)).as("m"))
    val tot = hist.agg(sum("m").as("n"), sum(expr("c * m")).as("total"))
    val wa = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    val wd = Window.orderBy(desc("c")).rowsBetween(Window.unboundedPreceding, -1)
    val rows = hist.crossJoin(broadcast(tot))
      .withColumn("k1", expr("(n + 99) div 100"))
      .withColumn("k10", expr("(n + 9) div 10"))
      .withColumn("p", sum("m").over(wa))
      .withColumn("db", coalesce(sum("m").over(wd), lit(0L)))
      .withColumn("sb", coalesce(sum(expr("c * m")).over(wd), lit(0L)))
    rows.agg(
        first("n").as("n"), first("total").as("total"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * (CAST(m AS DECIMAL(38,0)) * CAST(p AS DECIMAL(38,0)) - CAST((m * (m - 1)) div 2 AS DECIMAL(38,0)))"))
          .as("s1"),
        max(when(col("db") < col("k1") && col("k1") <= col("db") + col("m"),
          col("sb") + (col("k1") - col("db")) * col("c"))).as("top1"),
        max(when(col("db") < col("k10") && col("k10") <= col("db") + col("m"),
          col("sb") + (col("k10") - col("db")) * col("c"))).as("top10"))
      .select(col("n").as("n_customers"), col("total").as("total_cents"),
        Det.rnd(expr("2.0 * CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)) - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)"), 6).as("gini"),
        Det.rnd(col("top1").cast("double") / col("total").cast("double"), 6).as("top1_share"),
        Det.rnd(col("top10").cast("double") / col("total").cast("double"), 6).as("top10_share"))
  }

  val giniConcentrationSql: String =
    s"""WITH rev AS (SELECT o_custkey, sum(${Det.centsSql("o_totalprice")}) AS c
       |             FROM orders GROUP BY 1),
       |hist AS (SELECT c, count(*) AS m FROM rev GROUP BY 1),
       |tot AS (SELECT CAST(sum(m) AS BIGINT) AS n, CAST(sum(c * m) AS BIGINT) AS total
       |        FROM hist),
       |rws AS (SELECT c, m, n, total,
       |               (n + 99) // 100 AS k1, (n + 9) // 10 AS k10,
       |               sum(m) OVER (ORDER BY c
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
       |               coalesce(sum(m) OVER (ORDER BY c DESC
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS db,
       |               coalesce(sum(c * m) OVER (ORDER BY c DESC
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sb
       |        FROM hist CROSS JOIN tot),
       |ag AS (SELECT any_value(n) AS n, any_value(total) AS total,
       |              sum(CAST(c AS HUGEINT) * (CAST(m AS HUGEINT) * CAST(p AS HUGEINT)
       |                - CAST((m * (m - 1)) // 2 AS HUGEINT))) AS s1,
       |              max(CASE WHEN db < k1 AND k1 <= db + m
       |                       THEN sb + (k1 - db) * c END) AS top1,
       |              max(CASE WHEN db < k10 AND k10 <= db + m
       |                       THEN sb + (k10 - db) * c END) AS top10
       |       FROM rws)
       |SELECT CAST(n AS BIGINT) AS n_customers, CAST(total AS BIGINT) AS total_cents,
       |       ${Det.rndSql("2.0 * CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)) - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)", 6)} AS gini,
       |       ${Det.rndSql("CAST(top1 AS DOUBLE) / CAST(total AS DOUBLE)", 6)} AS top1_share,
       |       ${Det.rndSql("CAST(top10 AS DOUBLE) / CAST(total AS DOUBLE)", 6)} AS top10_share
       |FROM ag""".stripMargin

  private val PsiBins = 10
  private val PsiSentinel = 4611686018427387904L // 2^62: outside any cents domain

  /** Population Stability Index of purchase value between the first
    * and second half of the event timeline — the standard model-
    * monitoring drift score (PSI = Σ (p_b − p_a)·ln(p_b/p_a) over the
    * expected-period decile bins), complementing [[ksSplitDrift]]:
    * KS reads the max CDF gap, PSI reads the full reweighting mass,
    * which is what a mixture-rebalancing job actually prices.
    *
    * Bins are deciles of period A's distinct-value histogram (ties
    * land whole — the [[rfmSegment]] equidepth rule), realized as ≤
    * [[PsiBins]] value ranges and broadcast into one pass over both
    * periods (a 10-row nested-loop range probe, not a shuffle). A
    * period-B bin with zero rows clamps its count to 1 for the log
    * (the standard PSI floor, deterministic in both engines). Counts
    * are exact integers; only the per-bin term and total are floating,
    * fenced at 6dp. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame =
    psiDriftOf(Tables(spark, dir, "events"))

  private[graft] def psiDriftOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val purch = events.filter(col("event_type") === "purchase")
      .select(Det.cents(col("value")).as("v"), unix_micros(col("ts")).as("tus"))
    val mid = purch.agg(expr("(min(tus) + max(tus)) div 2").as("mid"))
    val sp = purch.crossJoin(broadcast(mid))
      .withColumn("in_a", col("tus") < col("mid"))
    val hist = sp.filter(col("in_a")).groupBy("v").agg(count(lit(1)).as("m"))
    val wv = Window.orderBy("v")
    val binOf = hist
      .withColumn("cum", coalesce(sum("m").over(
        wv.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum("m").over(
        wv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("v"),
        expr(s"least($PsiBins, CAST((cum * $PsiBins) div n AS INT) + 1)").as("bin"))
    val ranges = binOf.groupBy("bin").agg(min("v").as("lo"))
      .withColumn("lo", when(col("bin") === 1, lit(-PsiSentinel)).otherwise(col("lo")))
      .withColumn("hi", coalesce(lead("lo", 1).over(Window.orderBy("bin")),
        lit(PsiSentinel)))
    val counts = sp.join(broadcast(ranges),
        col("v") >= col("lo") && col("v") < col("hi"))
      .groupBy("bin")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("cnt_b"))
    val wall = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("na", sum("cnt_a").over(wall))
      .withColumn("nb", sum("cnt_b").over(wall))
      .withColumn("pa", col("cnt_a").cast("double") / col("na"))
      .withColumn("pb", greatest(col("cnt_b"), lit(1L)).cast("double") / col("nb"))
      .withColumn("term", (col("pb") - col("pa")) * log(col("pb") / col("pa")))
      .withColumn("psi_total", Det.rnd(sum("term").over(wall), 6))
      .select(col("bin"), col("cnt_a"), col("cnt_b"),
        Det.rnd(col("term"), 6).as("psi_term"), col("psi_total"))
      .orderBy("bin")
  }

  val psiDriftSql: String =
    s"""WITH purch AS (SELECT ${Det.centsSql("value")} AS v, epoch_us(ts) AS tus
       |               FROM events WHERE event_type = 'purchase'),
       |mid AS (SELECT (min(tus) + max(tus)) // 2 AS mid FROM purch),
       |sp AS (SELECT v, tus < mid AS in_a FROM purch CROSS JOIN mid),
       |hist AS (SELECT v, count(*) AS m FROM sp WHERE in_a GROUP BY 1),
       |bins AS (SELECT v, least($PsiBins, CAST((cum * $PsiBins) // n AS INT) + 1) AS bin
       |         FROM (SELECT v, coalesce(sum(m) OVER (ORDER BY v
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
       |                      sum(m) OVER () AS n
       |               FROM hist)),
       |rng AS (SELECT bin, lo, coalesce(lead(lo, 1) OVER (ORDER BY bin),
       |                                 $PsiSentinel) AS hi
       |        FROM (SELECT bin, CASE WHEN bin = 1 THEN -$PsiSentinel
       |                               ELSE min(v) END AS lo
       |              FROM bins GROUP BY bin)),
       |cnts AS (SELECT bin,
       |                CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
       |                CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
       |         FROM sp JOIN rng ON sp.v >= rng.lo AND sp.v < rng.hi
       |         GROUP BY 1),
       |terms AS (SELECT bin, cnt_a, cnt_b,
       |                 (CAST(greatest(cnt_b, 1) AS DOUBLE) / sum(cnt_b) OVER ()
       |                  - CAST(cnt_a AS DOUBLE) / sum(cnt_a) OVER ())
       |                 * ln((CAST(greatest(cnt_b, 1) AS DOUBLE) / sum(cnt_b) OVER ())
       |                      / (CAST(cnt_a AS DOUBLE) / sum(cnt_a) OVER ())) AS term
       |          FROM cnts)
       |SELECT CAST(bin AS INTEGER) AS bin, cnt_a, cnt_b,
       |       ${Det.rndSql("term", 6)} AS psi_term,
       |       ${Det.rndSql("sum(term) OVER ()", 6)} AS psi_total
       |FROM terms
       |ORDER BY bin""".stripMargin

  // --------------------------------------------- cascade delete plan

  /** CASCADE-DELETE planning over the FK graph — the right-to-erasure
    * (GDPR art. 17) workload: given a victim set of customers, compute
    * what each table loses when the deletion cascades
    * customer → orders → lineitem, as an audit relation BEFORE any
    * mutation runs (the plan a compliance pipeline reviews and then
    * executes as anti-joins). Victim set is deterministic
    * (c_custkey ≡ 0 mod 97). Complements [[refIntegrity]]: that op
    * proves the FK edges are clean, this one uses them.
    *
    * Scale: the victim set broadcasts into orders (semi-join), the
    * surviving-order key set is a fact-fact semi-join for lineitem —
    * one shuffle on the key, the same plan an actual DELETE's rewrite
    * pass needs. Pure integer counts.
    */
  def cascadeDelete(spark: SparkSession, dir: String): DataFrame = {
    val victims = Tables(spark, dir, "customer")
      .filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
    val orders = Tables(spark, dir, "orders")
    val li = Tables(spark, dir, "lineitem")
    val deadOrders = orders.join(broadcast(victims),
      orders("o_custkey") === victims("c_custkey"), "left_semi")
    val deadLi = li.join(deadOrders.select("o_orderkey"),
      li("l_orderkey") === deadOrders("o_orderkey"), "left_semi")
    // all-relational (one 1-row aggregate pair per table, no driver
    // counts): the audit is itself a DataFrame a pipeline can join on
    def stat(name: String, all: DataFrame, dead: DataFrame): DataFrame =
      all.agg(count(lit(1)).as("n_rows"))
        .crossJoin(dead.agg(count(lit(1)).as("n_deleted")))
        .select(lit(name).as("table_name"), col("n_rows"), col("n_deleted"),
          (col("n_rows") - col("n_deleted")).as("n_surviving"))
    stat("customer", Tables(spark, dir, "customer"), victims)
      .unionAll(stat("orders", orders, deadOrders))
      .unionAll(stat("lineitem", li, deadLi))
      .orderBy("table_name")
  }

  val cascadeDeleteSql: String =
    """WITH victims AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
      |dead_o AS (SELECT o_orderkey FROM orders
      |           WHERE o_custkey IN (SELECT c_custkey FROM victims)),
      |s AS (
      |  SELECT 'customer' AS table_name, (SELECT count(*) FROM customer) AS n_rows,
      |         (SELECT count(*) FROM victims) AS n_deleted
      |  UNION ALL
      |  SELECT 'lineitem', (SELECT count(*) FROM lineitem),
      |         (SELECT count(*) FROM lineitem
      |          WHERE l_orderkey IN (SELECT o_orderkey FROM dead_o))
      |  UNION ALL
      |  SELECT 'orders', (SELECT count(*) FROM orders),
      |         (SELECT count(*) FROM dead_o))
      |SELECT table_name, n_rows, n_deleted, n_rows - n_deleted AS n_surviving
      |FROM s
      |ORDER BY table_name""".stripMargin

  // --------------------------------------------- RANGE-frame trailing

  /** Trailing 7-/30-day revenue via RANGE (value-distance) window
    * frames over the day number — the frame semantics ROWS cannot
    * express when the series has gaps: `rangeBetween(-6, 0)` spans six
    * CALENDAR days back regardless of how many histogram rows exist in
    * between, so a day after a quiet week trails only itself. The
    * window runs over the calendar-bounded day histogram (the
    * established single-partition vocabulary finish); all sums are
    * exact cents, the trailing average is one fenced division.
    */
  def trailingWindow(spark: SparkSession, dir: String): DataFrame =
    trailingWindowOf(Tables(spark, dir, "events"))

  private[graft] def trailingWindowOf(events: DataFrame): DataFrame =
    trailingFinish(cusumDailyFrom(events))

  /** RANGE-frame finish over the (day, x) daily histogram — shared
    * with the streaming twin (`StreamJobs.trailingStream`): the state
    * is the same mergeable daily-cents histogram CUSUM keeps, so one
    * streaming aggregation feeds BOTH monitors' per-batch finishes. */
  private[graft] def trailingFinish(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w7 = Window.orderBy("dayn").rangeBetween(-6, 0)
    val w30 = Window.orderBy("dayn").rangeBetween(-29, 0)
    daily
      .withColumn("dayn", expr("unix_date(day)"))
      .withColumn("s7", sum("x").over(w7))
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("s30", sum("x").over(w30))
      .select(
        col("day"),
        (col("x").cast("double") / 100.0).as("revenue"),
        (col("s7").cast("double") / 100.0).as("trail7"),
        col("n7").as("days_in_7"),
        Det.rnd(col("s7").cast("double") / col("n7") / 100.0, 6).as("avg7"),
        (col("s30").cast("double") / 100.0).as("trail30"))
      .orderBy("day")
  }

  val trailingWindowSql: String =
    s"""WITH daily AS (
       |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
       |         CAST(sum(${Det.centsSql("value")}) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |t AS (
       |  SELECT day, x,
       |         sum(x) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7,
       |         count(*) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS n7,
       |         sum(x) OVER (ORDER BY day RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS s30
       |  FROM daily)
       |SELECT CAST(DATE '1970-01-01' + to_days(CAST(day AS INTEGER)) AS DATE) AS day,
       |       CAST(x AS DOUBLE) / 100.0 AS revenue,
       |       CAST(s7 AS DOUBLE) / 100.0 AS trail7,
       |       CAST(n7 AS BIGINT) AS days_in_7,
       |       ${Det.rndSql("CAST(s7 AS DOUBLE) / n7 / 100.0", 6)} AS avg7,
       |       CAST(s30 AS DOUBLE) / 100.0 AS trail30
       |FROM t
       |ORDER BY day""".stripMargin

  // --------------------------------------- incremental JOIN-view upkeep

  /** Incremental maintenance of a JOIN view under inserts on BOTH
    * sides — the delta rule a materialized-view engine applies instead
    * of recomputing: for V = O ⋈ C, Δ V = ΔO⋈C₀ ∪ O₀⋈ΔC ∪ ΔO⋈ΔC (the
    * bilinear expansion; [[incrementalAgg]] covers the single-relation
    * aggregate case, this covers the join case where the delta cost is
    * ∝ |Δ|·join-fanout, not |O|). Orders split by the timeline
    * midpoint (the insert batch), customers by custkey mod 10 (newly
    * onboarded accounts); the view is revenue per market segment. The
    * oracled output carries base, the three delta terms, their merge,
    * AND the matches_full flag against the from-scratch recompute — the
    * maintenance identity is part of the result, not a test-only claim.
    *
    * Scale: the three delta joins each ship only a delta on at least
    * one side; segment-level merge is arithmetic on |segments|-sized
    * aggregates. Determinism: exact integer cents throughout.
    */
  def ivmJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        (col("c_custkey") % 10 === 0).as("c_new"))
    val ord0 = Tables(spark, dir, "orders")
      .select(col("o_custkey"), Det.cents(col("o_totalprice")).as("c"),
        expr("unix_date(CAST(o_orderdate AS DATE))").as("day"))
    val cut = ord0.agg((((min("day") + max("day")) + 1) / 2).cast("long").as("cut"))
    val ord = ord0.crossJoin(broadcast(cut))
      .withColumn("o_new", col("day") >= col("cut"))
    def aggOf(o: DataFrame, c: DataFrame) =
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("seg").agg(count(lit(1)).as("n"), sum("c").as("s"))
    val cOld = cust.filter(!col("c_new")); val cNew = cust.filter(col("c_new"))
    val oOld = ord.filter(!col("o_new"));  val oNew = ord.filter(col("o_new"))
    val base = aggOf(oOld, cOld)
    val d1 = aggOf(oNew, cOld)
    val d2 = aggOf(oOld, cNew)
    val d3 = aggOf(oNew, cNew)
    def tag(df: DataFrame, t: String) =
      df.select(col("seg"), col("n"), col("s"), lit(t).as("part"))
    val merged = tag(base, "base").unionAll(tag(d1, "d_ord")).unionAll(tag(d2, "d_cust"))
      .unionAll(tag(d3, "d_both"))
      .groupBy("seg").agg(
        sum(when(col("part") === "base", col("n")).otherwise(0L)).as("n_base"),
        sum(when(col("part") =!= "base", col("n")).otherwise(0L)).as("n_delta"),
        sum("n").as("n"), sum("s").as("s"))
    val full = aggOf(ord, cust)
    merged.as("m").join(full.as("f"), Seq("seg"))
      .select(col("seg"), col("n_base"), col("n_delta"), col("m.n").as("n_orders"),
        (col("m.s").cast("double") / 100.0).as("revenue"),
        (col("m.n") === col("f.n") && col("m.s") === col("f.s")).as("matches_full"))
      .orderBy("seg")
  }

  val ivmJoinSql: String =
    s"""WITH cust AS (SELECT c_custkey, c_mktsegment AS seg,
       |                     c_custkey % 10 = 0 AS c_new
       |              FROM customer),
       |ord AS (SELECT o_custkey, ${Det.centsSql("o_totalprice")} AS c,
       |               datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) >=
       |                 (SELECT (min(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
       |                        + max(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) + 1) // 2
       |                  FROM orders) AS o_new
       |        FROM orders),
       |parts AS (
       |  SELECT seg,
       |         CASE WHEN NOT o_new AND NOT c_new THEN 'base'
       |              WHEN o_new AND NOT c_new THEN 'd_ord'
       |              WHEN NOT o_new AND c_new THEN 'd_cust'
       |              ELSE 'd_both' END AS part,
       |         count(*) AS n, CAST(sum(c) AS BIGINT) AS s
       |  FROM ord JOIN cust ON ord.o_custkey = cust.c_custkey
       |  GROUP BY 1, 2),
       |merged AS (
       |  SELECT seg,
       |         CAST(sum(CASE WHEN part = 'base' THEN n ELSE 0 END) AS BIGINT) AS n_base,
       |         CAST(sum(CASE WHEN part <> 'base' THEN n ELSE 0 END) AS BIGINT) AS n_delta,
       |         CAST(sum(n) AS BIGINT) AS n_orders, CAST(sum(s) AS BIGINT) AS s
       |  FROM parts GROUP BY 1),
       |full_v AS (
       |  SELECT seg, count(*) AS n, CAST(sum(c) AS BIGINT) AS s
       |  FROM ord JOIN cust ON ord.o_custkey = cust.c_custkey
       |  GROUP BY 1)
       |SELECT m.seg, m.n_base, m.n_delta, m.n_orders,
       |       CAST(m.s AS DOUBLE) / 100.0 AS revenue,
       |       m.n_orders = f.n AND m.s = f.s AS matches_full
       |FROM merged m JOIN full_v f ON m.seg = f.seg
       |ORDER BY m.seg""".stripMargin

  // ------------------------------------------------- CUSUM change-point

  /** CUSUM change-point detection (Page 1954) over the daily purchase
    * total — the monitoring op a data pipeline runs over ingest-volume
    * or label-drift series. Both one-sided statistics via the closed
    * form S⁺_t = C_t − min_{0≤j≤t} C_j with C_t = Σ(z_i − k): the
    * recursive max(0, ·) fold becomes a cumulative sum plus a running
    * min — two ordered-window passes over the day histogram (a
    * calendar-bounded relation, the documented single-partition-window
    * family), no UDF, no iteration.
    *
    * Determinism: the z-scores are scaled EXACT INTEGERS — the scale
    * estimate is the mean absolute deviation (a ratio of integer sums,
    * unlike σ which is irrational), so z·10⁶ = n·(n·x_t − Σx)·10⁶ div D
    * with D = Σ|n·x_i − Σx| is a pure BIGINT both engines truncate
    * identically (both `div` and `//` truncate toward zero; sign is
    * split out anyway). Every cumulative/min/threshold comparison
    * happens on integers; doubles appear only in the final ÷10⁶
    * display columns. k = 0.5·MAD, h = 4·MAD.
    */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame =
    cusumChangepointOf(Tables(spark, dir, "events"))

  private val CusumScale = 1000000L
  private val CusumK     = 500000L  // 0.5 in 1e6 units
  private val CusumH     = 4000000L // 4.0 in 1e6 units

  private[graft] def cusumChangepointOf(events: DataFrame): DataFrame =
    cusumFinish(cusumDailyFrom(events))

  /** Streaming-mergeable state: the daily purchase-cents histogram —
    * a plain sum per calendar day, so partial aggregates merge across
    * batches/partitions exactly (the streaming twin feeds this from a
    * MemoryStream in complete mode; [[cusumFinish]] replays the
    * closed form per batch on the calendar-bounded result). */
  private[graft] def cusumDailyFrom(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(Det.cents(col("value"))).as("x"))

  private[graft] def cusumFinish(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wall = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wrun = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = daily
      .withColumn("n", count(lit(1)).over(wall))
      .withColumn("sx", sum("x").over(wall))
      .withColumn("num", col("n") * col("x") - col("sx"))
      .withColumn("d", sum(abs(col("num"))).over(wall))
    dev
      .withColumn("z6",
        when(col("num") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr(s"(abs(num) * n * $CusumScale) div d"))
      .withColumn("cum_p", sum(col("z6") - lit(CusumK)).over(wrun))
      .withColumn("cum_n", sum(-col("z6") - lit(CusumK)).over(wrun))
      .withColumn("s_pos", col("cum_p") - least(lit(0L), min("cum_p").over(wrun)))
      .withColumn("s_neg", col("cum_n") - least(lit(0L), min("cum_n").over(wrun)))
      .select(
        col("day"),
        (col("x").cast("double") / 100.0).as("total_value"),
        Det.rnd(col("z6").cast("double") / CusumScale, 6).as("z"),
        Det.rnd(col("s_pos").cast("double") / CusumScale, 6).as("cusum_pos"),
        Det.rnd(col("s_neg").cast("double") / CusumScale, 6).as("cusum_neg"),
        (col("s_pos") > CusumH || col("s_neg") > CusumH).cast("int").as("alarm"))
      .orderBy("day")
  }

  val cusumChangepointSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(sum(${Det.centsSql("value")}) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |dev AS (
       |  SELECT day, x,
       |         count(*) OVER () AS n, sum(x) OVER () AS sx
       |  FROM daily),
       |z AS (
       |  SELECT day, x,
       |         CASE WHEN n*x - sx < 0 THEN -1 ELSE 1 END *
       |           ((abs(n*x - sx) * n * $CusumScale) //
       |            (sum(abs(n*x - sx)) OVER ())) AS z6
       |  FROM dev),
       |c AS (
       |  SELECT day, x, z6,
       |         sum(z6 - $CusumK) OVER (ORDER BY day) AS cum_p,
       |         sum(-z6 - $CusumK) OVER (ORDER BY day) AS cum_n
       |  FROM z),
       |s AS (
       |  SELECT day, x, z6,
       |         cum_p - least(0, min(cum_p) OVER (ORDER BY day)) AS s_pos,
       |         cum_n - least(0, min(cum_n) OVER (ORDER BY day)) AS s_neg
       |  FROM c)
       |SELECT day, CAST(x AS DOUBLE) / 100.0 AS total_value,
       |       ${Det.rndSql(s"CAST(z6 AS DOUBLE) / $CusumScale", 6)} AS z,
       |       ${Det.rndSql(s"CAST(s_pos AS DOUBLE) / $CusumScale", 6)} AS cusum_pos,
       |       ${Det.rndSql(s"CAST(s_neg AS DOUBLE) / $CusumScale", 6)} AS cusum_neg,
       |       CAST(s_pos > $CusumH OR s_neg > $CusumH AS INTEGER) AS alarm
       |FROM s
       |ORDER BY day""".stripMargin

  // ---------------------------------------------------- Theil–Sen trend

  /** Theil–Sen robust trend over monthly order revenue — the median of
    * all pairwise slopes (y_j − y_i)/(x_j − x_i), the estimator that
    * shrugs off the outlier months OLS chases (29% breakdown point).
    *
    * Scale: the pair relation is month × month — a CALENDAR-bounded
    * self-join (~80 months → ~3k pairs regardless of corpus size; the
    * corpus-sized work is the one groupBy producing the monthly
    * histogram). Determinism: slopes are exact scaled integers
    * (sign·(|Δcents|·10⁶ div Δmonth)); the median picks the middle
    * row(s) by row_number over (slope, month-pair) — no engine median()
    * semantics in play — and averages at most two integers in double.
    * The intercept is the median of y_i·10⁶ − slope6·x_i over months,
    * computed the same way.
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame =
    theilSenOf(Tables(spark, dir, "orders"))

  private[graft] def theilSenOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = orders
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mx"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("y"))
    val a = monthly.select(col("mx").as("xi"), col("y").as("yi"))
    val b = monthly.select(col("mx").as("xj"), col("y").as("yj"))
    val slopes = a.join(b, col("xi") < col("xj"))
      .withColumn("dy", col("yj") - col("yi"))
      .withColumn("s6",
        when(col("dy") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr(s"(abs(dy) * $CusumScale) div (xj - xi)"))
    val wS = Window.orderBy(col("s6"), col("xi"), col("xj"))
    val ranked = slopes
      .withColumn("rn", row_number().over(wS))
      .withColumn("np", count(lit(1)).over(
        wS.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val slopeMed = ranked
      .filter(col("rn") === expr("(np + 1) div 2") || col("rn") === expr("(np + 2) div 2"))
      .agg(avg(col("s6").cast("double")).as("slope6"), first("np").as("n_pairs"))
    val wI = Window.orderBy(col("i6"), col("mx"))
    val intercepts = monthly.crossJoin(broadcast(slopeMed))
      // trunc-toward-zero on BOTH engines (Spark's double→long cast
      // truncates; DuckDB's CAST rounds, so the oracle goes via trunc())
      .withColumn("i6", col("y") * lit(CusumScale) -
        col("slope6").cast("long") * col("mx"))
      .withColumn("rn", row_number().over(wI))
      .withColumn("nm", count(lit(1)).over(
        wI.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    intercepts
      .filter(col("rn") === expr("(nm + 1) div 2") || col("rn") === expr("(nm + 2) div 2"))
      .agg(
        first("nm").as("n_months"), first("n_pairs").as("n_pairs"),
        Det.rnd(first("slope6") / lit(CusumScale.toDouble) / 100.0, 6).as("slope_per_month"),
        Det.rnd(avg(col("i6").cast("double")) / CusumScale / 100.0, 6).as("intercept"))
  }

  val theilSenSql: String =
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mx,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |slopes AS (
       |  SELECT a.mx AS xi, b.mx AS xj,
       |         CASE WHEN b.y - a.y < 0 THEN -1 ELSE 1 END *
       |           ((abs(b.y - a.y) * $CusumScale) // (b.mx - a.mx)) AS s6
       |  FROM monthly a JOIN monthly b ON a.mx < b.mx),
       |ranked AS (
       |  SELECT s6, row_number() OVER (ORDER BY s6, xi, xj) AS rn,
       |         count(*) OVER () AS np
       |  FROM slopes),
       |med AS (
       |  SELECT avg(CAST(s6 AS DOUBLE)) AS slope6, max(np) AS n_pairs
       |  FROM ranked WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2),
       |icand AS (
       |  SELECT y * $CusumScale - CAST(trunc(slope6) AS BIGINT) * mx AS i6, mx, n_pairs, slope6
       |  FROM monthly CROSS JOIN med),
       |iranked AS (
       |  SELECT i6, n_pairs, slope6,
       |         row_number() OVER (ORDER BY i6, mx) AS rn, count(*) OVER () AS nm
       |  FROM icand)
       |SELECT CAST(max(nm) AS BIGINT) AS n_months,
       |       CAST(max(n_pairs) AS BIGINT) AS n_pairs,
       |       ${Det.rndSql(s"max(slope6) / $CusumScale.0 / 100.0", 6)} AS slope_per_month,
       |       ${Det.rndSql(s"avg(CAST(i6 AS DOUBLE)) / $CusumScale / 100.0", 6)} AS intercept
       |FROM iranked WHERE rn = (nm + 1) // 2 OR rn = (nm + 2) // 2""".stripMargin

  // ------------------------------------------- referential integrity

  /** Referential-integrity audit over every FK edge of the star schema
    * — the data-contract check a warehouse runs after each load:
    * orphaned child keys (FK with no parent) and unreferenced parents
    * (dimension rows no fact touches), one row per edge.
    *
    * Scale: each edge is one anti-join pair — parents broadcast when
    * dimension-sized, the lineitem→orders edge shuffles both sides on
    * the key once (exactly the plan a 100-TB FK check needs: no
    * distinct-collect, no driver set). The six edges union into one
    * result; Spark runs them as independent subtrees. Determinism:
    * pure integer counts.
    */
  def refIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val t = (n: String) => Tables(spark, dir, n)
    val edges = Seq(
      ("customer.c_nationkey->nation",  t("customer"), "c_nationkey", t("nation"),   "n_nationkey"),
      ("lineitem.l_orderkey->orders",   t("lineitem"), "l_orderkey",  t("orders"),   "o_orderkey"),
      ("lineitem.l_partkey->part",      t("lineitem"), "l_partkey",   t("part"),     "p_partkey"),
      ("lineitem.l_suppkey->supplier",  t("lineitem"), "l_suppkey",   t("supplier"), "s_suppkey"),
      ("nation.n_regionkey->region",    t("nation"),   "n_regionkey", t("region"),   "r_regionkey"),
      ("orders.o_custkey->customer",    t("orders"),   "o_custkey",   t("customer"), "c_custkey"))
    edges.map { case (name, child, ck, parent, pk) =>
      val c = child.select(col(ck).as("k"))
      val p = parent.select(col(pk).as("k"))
      val childStats = c.join(p.distinct().withColumn("hit", lit(1)), Seq("k"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphan"))
      val parentStats = p
        .join(c.distinct().withColumn("ref", lit(1)), Seq("k"), "left")
        .agg(count(lit(1)).as("n_parent"),
          sum(when(col("ref").isNull, 1L).otherwise(0L)).as("n_unreferenced"))
      childStats.crossJoin(parentStats).select(
        lit(name).as("edge"), col("n_child"), col("n_orphan"),
        col("n_parent"), col("n_unreferenced"))
    }.reduce(_ unionAll _).orderBy("edge")
  }

  val refIntegritySql: String = {
    val edge = (name: String, child: String, ck: String, parent: String, pk: String) =>
      s"""SELECT '$name' AS edge,
         |  (SELECT count(*) FROM $child) AS n_child,
         |  (SELECT count(*) FROM $child WHERE $ck NOT IN (SELECT $pk FROM $parent)) AS n_orphan,
         |  (SELECT count(*) FROM $parent) AS n_parent,
         |  (SELECT count(*) FROM $parent WHERE $pk NOT IN (SELECT $ck FROM $child)) AS n_unreferenced""".stripMargin
    Seq(
      edge("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
      edge("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
  }

  /** Gaps-and-islands: per-user runs of CONSECUTIVE active calendar
    * days (streaks), via the classic day-index-minus-row-number group
    * key — two rows land in the same island iff their day indices and
    * their per-user ranks advance in lockstep. All windows are
    * partitioned by user_id (events shuffle once on user and every
    * streak computes inside its partition — no global window, no
    * second exchange at any scale); day arithmetic is pure integers
    * off a fixed epoch, so both engines group identically. */
  def gapsIslands(spark: SparkSession, dir: String): DataFrame =
    gapsIslandsOf(Tables(spark, dir, "events"))

  private[graft] def gapsIslandsOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = events
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("d"))
      .distinct()
    val byUser = Window.partitionBy("user_id").orderBy("d")
    val perIsland = days
      .withColumn("grp", col("d") - row_number().over(byUser))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), min("d").as("start_d"))
    perIsland.groupBy("user_id")
      .agg(
        count(lit(1)).as("n_streaks"),
        max("len").as("longest_streak"),
        sum("len").as("active_days"),
        min("start_d").as("first_day"))
      .orderBy("user_id")
  }

  val gapsIslandsSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) AS d
      |  FROM events),
      |isl AS (
      |  SELECT user_id, d,
      |         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
      |  FROM days),
      |per AS (
      |  SELECT user_id, grp, count(*) AS len, min(d) AS start_d
      |  FROM isl GROUP BY user_id, grp)
      |SELECT user_id, count(*) AS n_streaks,
      |       CAST(max(len) AS BIGINT) AS longest_streak,
      |       CAST(sum(len) AS BIGINT) AS active_days,
      |       CAST(min(start_d) AS INTEGER) AS first_day
      |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Ingest-time event deduplication: an event is a DUPLICATE when the
    * previous event of the same (user, type) lies within
    * [[EventDedupGapUs]] — the at-least-once-delivery suppression
    * every event pipeline runs before anything downstream counts.
    * Lag-based (each event judged against its physical predecessor,
    * kept or not): one window, one shuffle on the dedup key, micros
    * integers end to end. The horizon is a free parameter of the rule
    * (a production ingest dedup runs at seconds); the shipped 1-hour
    * value is chosen so the gate corpus — whose per-(user, type)
    * inter-arrival median is ~2 days — actually exercises the flag
    * path rather than oracling an all-zero column. The streaming twin
    * is [[graft.streaming.StreamJobs.eventDedupStream]], one Long of
    * state per key. */
  def eventDedup(spark: SparkSession, dir: String): DataFrame =
    eventDedupOf(Tables(spark, dir, "events"))

  private[graft] val EventDedupGapUs = 3600L * 1000000L // 1 h

  private[graft] def eventDedupOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy("user_id", "event_type").orderBy("tus", "event_id")
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("gap", col("tus") - lag("tus", 1).over(byKey))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("gap") <= EventDedupGapUs, 1L).otherwise(0L)).as("n_dups"),
        Det.rnd(
          sum(when(col("gap") <= EventDedupGapUs, 1.0).otherwise(0.0)) / count(lit(1)),
          6).as("dup_rate"))
      .orderBy("event_type")
  }

  val eventDedupSql: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events),
       |l AS (
       |  SELECT event_type,
       |         tus - lag(tus) OVER (PARTITION BY user_id, event_type
       |                              ORDER BY tus, event_id) AS gap
       |  FROM e)
       |SELECT event_type, count(*) AS n_events,
       |       CAST(sum(CASE WHEN gap <= $EventDedupGapUs THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       |       ${Det.rndSql(s"CAST(sum(CASE WHEN gap <= $EventDedupGapUs THEN 1.0 ELSE 0.0 END) AS DOUBLE) / count(*)", 6)} AS dup_rate
       |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Golden-record survivorship merge: collapse each user's event
    * history into ONE canonical profile row under explicit, named
    * survivorship rules — first/last seen (min/max micros), exact
    * money total (integer cents), most-frequent event type with a
    * lexicographic tie-break, and latest-wins value/type (row 1 of a
    * (tus, event_id)-descending rank). The master-data-management
    * merge step of entity resolution. Three single-shuffle passes over
    * the same user_id partitioning joined at the end — at scale the
    * exchange reuse rule collapses them onto one shuffle footprint,
    * and every window is user-partitioned (no global window). */
  def goldenRecord(spark: SparkSession, dir: String): DataFrame =
    goldenRecordOf(Tables(spark, dir, "events"))

  private[graft] def goldenRecordOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events.select(col("user_id"), col("event_id"), col("event_type"),
      col("value"), unix_micros(col("ts")).as("tus"))
    val base = e.groupBy("user_id").agg(
      min("tus").as("first_us"),
      max("tus").as("last_us"),
      count(lit(1)).as("n_events"),
      Det.moneySum(col("value")).as("total_value"))
    val byFreq = Window.partitionBy("user_id")
      .orderBy(col("cnt").desc, col("event_type"))
    val top = e.groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(byFreq))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("top_type"))
    val byRecency = Window.partitionBy("user_id")
      .orderBy(col("tus").desc, col("event_id").desc)
    val latest = e.withColumn("rn", row_number().over(byRecency))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"))
    base.join(top, Seq("user_id")).join(latest, Seq("user_id"))
      .orderBy("user_id")
  }

  val goldenRecordSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS tus FROM events),
       |base AS (
       |  SELECT user_id, min(tus) AS first_us, max(tus) AS last_us,
       |         count(*) AS n_events, ${Det.moneySumSql("value")} AS total_value
       |  FROM e GROUP BY user_id),
       |cnt AS (
       |  SELECT user_id, event_type, count(*) AS c FROM e GROUP BY user_id, event_type),
       |top AS (
       |  SELECT user_id, event_type AS top_type FROM (
       |    SELECT user_id, event_type,
       |           row_number() OVER (PARTITION BY user_id ORDER BY c DESC, event_type) AS rn
       |    FROM cnt) WHERE rn = 1),
       |latest AS (
       |  SELECT user_id, event_type AS last_type, value AS last_value FROM (
       |    SELECT user_id, event_type, value,
       |           row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
       |    FROM e) WHERE rn = 1)
       |SELECT user_id, first_us, last_us, n_events, total_value,
       |       top_type, last_type, last_value
       |FROM base JOIN top USING (user_id) JOIN latest USING (user_id)
       |ORDER BY user_id""".stripMargin

  private val SessionGapUs = 1800L * 1000000L // the sessionize 30-min gap
  private val DayUs = 86400L * 1000000L

  /** Peak concurrent sessions per UTC day — the interval-overlap sweep
    * (capacity planning's core query): sessions come from the same
    * 30-min-gap rule as [[sessionize]], each [start, end] interval is
    * CLIPPED at day boundaries into per-day segments, and per day a
    * +1/−1 boundary sweep's running sum maxes out at the peak. At a
    * shared instant starts count before ends (a session ending at t
    * and one starting at t are both live at t). Every window is
    * bounded: per-user for the session build, per-day for the sweep —
    * no global ordering anywhere, pure micros integers. The max of the
    * running sum is tie-order-invariant (all peers in a (tus, delta)
    * group share a sign, so the group's max is its closing sum),
    * which is what makes the two engines agree without a total
    * tiebreak. */
  def sessionConcurrency(spark: SparkSession, dir: String): DataFrame =
    sessionConcurrencyOf(Tables(spark, dir, "events"))

  private[graft] def sessionConcurrencyOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val sess = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .withColumn("gap", col("tus") - lag("tus", 1).over(byUser))
      .withColumn("new_s",
        when(col("gap").isNull || col("gap") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("sid", sum("new_s").over(byUser))
      .groupBy("user_id", "sid")
      .agg(min("tus").as("s"), max("tus").as("e"))
    val seg = sess
      .select(col("s"), col("e"),
        explode(expr(s"sequence(CAST(s / $DayUs AS LONG), CAST(e / $DayUs AS LONG))")).as("day"))
      .select(col("day"),
        greatest(col("s"), col("day") * DayUs).as("cs"),
        least(col("e"), (col("day") + 1) * DayUs - 1).as("ce"))
    val bounds = seg.select(col("day"), col("cs").as("tus"), lit(1L).as("delta"))
      .unionAll(seg.select(col("day"), col("ce").as("tus"), lit(-1L).as("delta")))
    val byDay = Window.partitionBy("day")
      .orderBy(col("tus").asc, col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds
      .withColumn("c", sum("delta").over(byDay))
      .groupBy("day")
      .agg(
        (count(lit(1)) / 2).cast("long").as("n_segments"),
        max("c").as("peak_concurrency"))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("day").cast("int")).as("day"),
        col("n_segments"), col("peak_concurrency"))
      .orderBy("day")
  }

  val sessionConcurrencySql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
       |g AS (
       |  SELECT user_id, event_id, tus,
       |         CASE WHEN tus - lag(tus, 1) OVER w IS NULL
       |                OR tus - lag(tus, 1) OVER w > $SessionGapUs
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
       |sids AS (
       |  SELECT user_id, tus,
       |         sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
       |           ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM g),
       |sess AS (
       |  SELECT user_id, sid, min(tus) AS s, max(tus) AS e
       |  FROM sids GROUP BY user_id, sid),
       |seg AS (
       |  SELECT day, greatest(s, day * ${DayUs}) AS cs,
       |         least(e, (day + 1) * ${DayUs} - 1) AS ce
       |  FROM (SELECT s, e, unnest(range(s // ${DayUs}, e // ${DayUs} + 1)) AS day
       |        FROM sess)),
       |bounds AS (
       |  SELECT day, cs AS tus, 1 AS delta FROM seg
       |  UNION ALL SELECT day, ce AS tus, -1 AS delta FROM seg),
       |sweep AS (
       |  SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY tus, delta DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
       |  FROM bounds)
       |SELECT DATE '1970-01-01' + CAST(day AS INTEGER) AS day,
       |       CAST(count(*) / 2 AS BIGINT) AS n_segments,
       |       CAST(max(c) AS BIGINT) AS peak_concurrency
       |FROM sweep GROUP BY day ORDER BY day""".stripMargin

  private val SkewTopK = 5

  /** Join-key skew diagnostic — the pre-flight a 100 TB join runs
    * before choosing between plain shuffle, AQE skew split, and
    * explicit salting: the key-frequency histogram of
    * lineitem.l_suppkey, its hottest [[SkewTopK]] keys, the skew
    * factor (hottest key's rows vs the even-split average), and the
    * derived salting fan-out ⌈skew⌉ a [[saltedJoin]] would use. One
    * groupBy + a vocabulary-sized top-k — the histogram is the
    * expensive (but single-shuffle) pass; everything after is
    * key-cardinality-bounded. */
  def skewDiagnose(spark: SparkSession, dir: String): DataFrame =
    skewDiagnoseOf(Tables(spark, dir, "lineitem"))

  private[graft] def skewDiagnoseOf(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = lineitem.groupBy(col("l_suppkey").as("key"))
      .agg(count(lit(1)).as("key_rows"))
    val stats = cnt.agg(
      count(lit(1)).as("n_keys"), sum("key_rows").as("n_rows"),
      max("key_rows").as("max_rows"))
    val byHeat = Window.orderBy(col("key_rows").desc, col("key"))
    cnt.withColumn("heat_rank", row_number().over(byHeat))
      .filter(col("heat_rank") <= SkewTopK)
      .crossJoin(broadcast(stats))
      .select(
        col("heat_rank"), col("key"), col("key_rows"),
        Det.rnd(col("key_rows").cast("double") / col("n_rows").cast("double"), 6)
          .as("share"),
        col("n_keys"), col("n_rows"),
        Det.rnd(col("max_rows").cast("double") * col("n_keys").cast("double") /
          col("n_rows").cast("double"), 4).as("skew_factor"),
        ceil(col("max_rows").cast("double") * col("n_keys").cast("double") /
          col("n_rows").cast("double")).cast("long").as("recommended_salt"))
      .orderBy("heat_rank")
  }

  val skewDiagnoseSql: String =
    s"""WITH cnt AS (
       |  SELECT l_suppkey AS key, count(*) AS key_rows FROM lineitem GROUP BY 1),
       |stats AS (
       |  SELECT count(*) AS n_keys, CAST(sum(key_rows) AS BIGINT) AS n_rows,
       |         CAST(max(key_rows) AS BIGINT) AS max_rows
       |  FROM cnt),
       |ranked AS (
       |  SELECT CAST(row_number() OVER (ORDER BY key_rows DESC, key) AS INTEGER) AS heat_rank,
       |         key, key_rows
       |  FROM cnt)
       |SELECT heat_rank, key, key_rows,
       |       ${Det.rndSql("CAST(key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)", 6)} AS share,
       |       n_keys, n_rows,
       |       ${Det.rndSql("CAST(max_rows AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)", 4)} AS skew_factor,
       |       CAST(ceil(CAST(max_rows AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)) AS BIGINT) AS recommended_salt
       |FROM ranked CROSS JOIN stats
       |WHERE heat_rank <= $SkewTopK
       |ORDER BY heat_rank""".stripMargin

  private val JseMod = 4294967296L      // 2^32
  private val JseMul = 2654435761L      // Knuth multiplicative hash
  private val JseFrac = 8L              // sample keys with h(k) < 2^32/8

  /** Sketch-based join-cardinality estimation — the cost-model input a
    * query optimizer needs BEFORE running a 100 TB join: hash-sample
    * the key domain (every key with h(k) in the bottom 1/[[JseFrac]]
    * of hash space — a coordinated sample, so BOTH sides keep exactly
    * the same keys), count per-key rows on the sampled keys only, and
    * scale Σ aₖ·bₖ by [[JseFrac]]. The audit shape of [[TextQueries
    * .lshRecall]]: the exact Σ aₖ·bₖ over all keys rides along so the
    * estimate's relative error is part of the oracle-checked output —
    * at production scale only the sampled branch runs (the filter
    * reaches the scan, so 7/8 of both inputs is never read past the
    * key column). Pure-integer hashing and counts — engine-identical
    * by construction. */
  def joinSizeEst(spark: SparkSession, dir: String): DataFrame =
    joinSizeEstOf(Tables(spark, dir, "orders"), Tables(spark, dir, "lineitem"))

  private[graft] def joinSizeEstOf(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val a = orders.groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("ac"))
    val b = lineitem.groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("bc"))
    val joined = a.join(b, Seq("k"))
      .withColumn("h", pmod(col("k") * JseMul, lit(JseMod)))
    joined.agg(
      sum(col("ac") * col("bc")).as("exact_rows"),
      (sum(when(col("h") < JseMod / JseFrac, col("ac") * col("bc"))
        .otherwise(0L)) * JseFrac).as("est_rows"),
      sum(when(col("h") < JseMod / JseFrac, 1L).otherwise(0L)).as("sampled_keys"),
      count(lit(1)).as("join_keys"))
      .select(col("exact_rows"), col("est_rows"), col("sampled_keys"),
        col("join_keys"),
        Det.rnd(abs(col("est_rows") - col("exact_rows")).cast("double") /
          col("exact_rows").cast("double"), 4).as("rel_err"))
  }

  val joinSizeEstSql: String =
    s"""WITH a AS (SELECT o_orderkey AS k, count(*) AS ac FROM orders GROUP BY 1),
       |b AS (SELECT l_orderkey AS k, count(*) AS bc FROM lineitem GROUP BY 1),
       |j AS (SELECT a.k, ac, bc, (a.k * $JseMul) % $JseMod AS h
       |      FROM a JOIN b USING (k)),
       |agg AS (
       |  SELECT CAST(sum(ac * bc) AS BIGINT) AS exact_rows,
       |         CAST(sum(CASE WHEN h < ${JseMod / JseFrac} THEN ac * bc ELSE 0 END)
       |              * $JseFrac AS BIGINT) AS est_rows,
       |         CAST(sum(CASE WHEN h < ${JseMod / JseFrac} THEN 1 ELSE 0 END) AS BIGINT) AS sampled_keys,
       |         count(*) AS join_keys
       |  FROM j)
       |SELECT exact_rows, est_rows, sampled_keys, join_keys,
       |       ${Det.rndSql("CAST(abs(est_rows - exact_rows) AS DOUBLE) / CAST(exact_rows AS DOUBLE)", 4)} AS rel_err
       |FROM agg""".stripMargin

  /** Customer-lifetime-value cohort matrix: customers cohorted by
    * first-order YEAR, revenue accumulated by cohort age — the
    * (cohort × age) triangle every growth dashboard reads, with the
    * per-customer LTV curve (cumulative cohort revenue over the
    * cohort's full population, not just the still-active slice).
    * Exact integer cents throughout; the cumulative sum runs in cents
    * inside an age-ordered window partitioned by cohort (≤ 7 rows per
    * partition — year-vocabulary-bounded). */
  def ltvCohort(spark: SparkSession, dir: String): DataFrame =
    ltvCohortOf(Tables(spark, dir, "orders"))

  private[graft] def ltvCohortOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = orders.select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
      Det.cents(col("o_totalprice")).as("cents"))
    val first = o.groupBy("o_custkey").agg(min("yr").as("cohort"))
    val sizes = first.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    val per = o.join(first, Seq("o_custkey"))
      .withColumn("age", col("yr") - col("cohort"))
      .groupBy("cohort", "age")
      .agg(countDistinct("o_custkey").as("n_active"),
        sum("cents").as("rev_cents"))
    val byAge = Window.partitionBy("cohort").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("cum_cents", sum("rev_cents").over(byAge))
      .join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort").cast("long").as("cohort"),
        col("age").cast("long").as("age"), col("n_active"),
        (col("rev_cents").cast("double") / 100.0).as("revenue"),
        (col("cum_cents").cast("double") / 100.0).as("cum_revenue"),
        Det.rnd(col("cum_cents").cast("double") /
          (col("cohort_size").cast("double") * 100.0), 4).as("ltv_per_customer"))
      .orderBy("cohort", "age")
  }

  val ltvCohortSql: String =
    s"""WITH o AS (
       |  SELECT o_custkey, year(o_orderdate) AS yr,
       |         ${Det.centsSql("o_totalprice")} AS cents
       |  FROM orders),
       |first_o AS (SELECT o_custkey, min(yr) AS cohort FROM o GROUP BY 1),
       |sizes AS (SELECT cohort, count(*) AS cohort_size FROM first_o GROUP BY 1),
       |per AS (
       |  SELECT cohort, yr - cohort AS age,
       |         count(DISTINCT o.o_custkey) AS n_active,
       |         CAST(sum(cents) AS BIGINT) AS rev_cents
       |  FROM o JOIN first_o USING (o_custkey)
       |  GROUP BY 1, 2),
       |cum AS (
       |  SELECT cohort, age, n_active, rev_cents,
       |         CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
       |  FROM per)
       |SELECT CAST(cohort AS BIGINT) AS cohort, CAST(age AS BIGINT) AS age,
       |       n_active,
       |       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
       |       CAST(cum_cents AS DOUBLE) / 100.0 AS cum_revenue,
       |       ${Det.rndSql("CAST(cum_cents AS DOUBLE) / (CAST(cohort_size AS DOUBLE) * 100.0)", 4)} AS ltv_per_customer
       |FROM cum JOIN sizes USING (cohort)
       |ORDER BY cohort, age""".stripMargin

  private val AsofNearTolUs = 86400L * 1000000L // ±24 h — sized so the gate corpus (~11 h same-user type gaps) exercises both match directions

  /** NEAREST-in-time as-of join with tolerance — the bidirectional
    * sibling of [[asofJoin]] (which is strictly backward): every
    * `error` event matches its temporally closest same-user `click`
    * within ±[[AsofNearTolUs]] (a free parameter; 24 h here so the
    * gate corpus exercises both directions), the sensor-fusion alignment rule
    * (nearest wins; an exact-distance tie prefers the earlier match,
    * the pandas `merge_asof(direction='nearest')` contract).
    *
    * Shape: ONE interleaved pass — both types sort together inside a
    * per-user window, a carried last-click (backward) and
    * first-coming-click (forward) pair of IGNORE-NULLS window reads
    * give each error its two candidates without any join, and a
    * 3-way CASE picks the nearer in-tolerance side. No range join, no
    * per-pair fan-out, one shuffle on user_id — at 100 TB this is the
    * sort-merge-free as-of everyone actually wants. */
  def asofNearest(spark: SparkSession, dir: String): DataFrame =
    asofNearestOf(Tables(spark, dir, "events"))

  private[graft] def asofNearestOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events
      .filter(col("event_type").isin("click", "error"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val back = w.rowsBetween(Window.unboundedPreceding, -1)
    val fwd = w.rowsBetween(1, Window.unboundedFollowing)
    val clickTus = when(col("event_type") === "click", col("tus"))
    val clickId = when(col("event_type") === "click", col("event_id"))
    val cands = e
      .withColumn("b_tus", last(clickTus, ignoreNulls = true).over(back))
      .withColumn("b_id", last(clickId, ignoreNulls = true).over(back))
      .withColumn("f_tus", first(clickTus, ignoreNulls = true).over(fwd))
      .withColumn("f_id", first(clickId, ignoreNulls = true).over(fwd))
      .filter(col("event_type") === "error")
      .withColumn("bd", col("tus") - col("b_tus"))
      .withColumn("fd", col("f_tus") - col("tus"))
    val bOk = col("bd").isNotNull && col("bd") <= AsofNearTolUs
    val fOk = col("fd").isNotNull && col("fd") <= AsofNearTolUs
    cands.select(
      col("event_id"), col("user_id"),
      when(bOk && (!fOk || col("bd") <= col("fd")), col("b_id"))
        .when(fOk, col("f_id")).as("matched_click"),
      when(bOk && (!fOk || col("bd") <= col("fd")), -col("bd"))
        .when(fOk, col("fd")).as("delta_us"))
      .orderBy("event_id")
  }

  val asofNearestSql: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus
       |  FROM events WHERE event_type IN ('click', 'error')),
       |c AS (
       |  SELECT event_id, user_id, event_type, tus,
       |         last_value(CASE WHEN event_type = 'click' THEN tus END IGNORE NULLS)
       |           OVER (PARTITION BY user_id ORDER BY tus, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b_tus,
       |         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
       |           OVER (PARTITION BY user_id ORDER BY tus, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b_id,
       |         first_value(CASE WHEN event_type = 'click' THEN tus END IGNORE NULLS)
       |           OVER (PARTITION BY user_id ORDER BY tus, event_id
       |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS f_tus,
       |         first_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
       |           OVER (PARTITION BY user_id ORDER BY tus, event_id
       |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS f_id
       |  FROM e),
       |d AS (
       |  SELECT event_id, user_id, b_id, f_id,
       |         tus - b_tus AS bd, f_tus - tus AS fd
       |  FROM c WHERE event_type = 'error')
       |SELECT event_id, user_id,
       |       CASE WHEN bd IS NOT NULL AND bd <= $AsofNearTolUs
       |                 AND (fd IS NULL OR fd > $AsofNearTolUs OR bd <= fd)
       |            THEN b_id
       |            WHEN fd IS NOT NULL AND fd <= $AsofNearTolUs THEN f_id
       |       END AS matched_click,
       |       CASE WHEN bd IS NOT NULL AND bd <= $AsofNearTolUs
       |                 AND (fd IS NULL OR fd > $AsofNearTolUs OR bd <= fd)
       |            THEN -bd
       |            WHEN fd IS NOT NULL AND fd <= $AsofNearTolUs THEN fd
       |       END AS delta_us
       |FROM d
       |ORDER BY event_id""".stripMargin

  /** Clamped (non-negative) running balance — the Lindley recursion
    * W_t = max(0, W_{t−1} + δ_t) that inventory positions, prepaid
    * credit balances, and queue depths all follow. The recursion looks
    * sequential (each step depends on the clamped previous), but the
    * reflected-walk identity W_t = C_t − min(0, min_{j≤t} C_j) (with
    * C the plain cumulative sum) turns it into TWO stock window
    * functions — cumsum + running min — so it parallelizes like any
    * windowed aggregate and replays identically in SQL. The same
    * closed-form trick as [[cusumChangepoint]]'s max(0,·) fold, on
    * the opposite rail. Credits are purchase values, everything else
    * debits its value; exact integer cents end to end; windows are
    * user-partitioned. */
  def reflectedBalance(spark: SparkSession, dir: String): DataFrame =
    reflectedBalanceOf(Tables(spark, dir, "events"))

  private[graft] def reflectedBalanceOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRank = Window.partitionBy("user_id")
      .orderBy(col("tus").desc, col("event_id").desc)
    val deltas = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("tus"),
      when(col("event_type") === "purchase", Det.cents(col("value")))
        .otherwise(-Det.cents(col("value"))).as("delta"))
    deltas
      .withColumn("cum", sum("delta").over(w))
      .withColumn("runmin", least(lit(0L), min("cum").over(w)))
      .withColumn("bal", col("cum") - col("runmin"))
      .withColumn("rn", row_number().over(wRank))
      .groupBy("user_id")
      .agg(
        (max(when(col("rn") === 1, col("bal"))).cast("double") / 100.0)
          .as("final_balance"),
        (max("bal").cast("double") / 100.0).as("max_balance"),
        sum(when(col("bal") === 0L, 1L).otherwise(0L)).as("n_floored"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  val reflectedBalanceSql: String =
    s"""WITH d AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tus,
       |         CASE WHEN event_type = 'purchase' THEN ${Det.centsSql("value")}
       |              ELSE -${Det.centsSql("value")} END AS delta
       |  FROM events),
       |c AS (
       |  SELECT user_id, event_id, tus,
       |         sum(delta) OVER (PARTITION BY user_id ORDER BY tus, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d),
       |b AS (
       |  SELECT user_id, event_id, tus, cum,
       |         least(0, min(cum) OVER (PARTITION BY user_id ORDER BY tus, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS runmin
       |  FROM c),
       |r AS (
       |  SELECT user_id, cum - runmin AS bal,
       |         row_number() OVER (PARTITION BY user_id
       |           ORDER BY tus DESC, event_id DESC) AS rn
       |  FROM b)
       |SELECT user_id,
       |       CAST(max(CASE WHEN rn = 1 THEN bal END) AS DOUBLE) / 100.0 AS final_balance,
       |       CAST(max(bal) AS DOUBLE) / 100.0 AS max_balance,
       |       CAST(sum(CASE WHEN bal = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_floored,
       |       count(*) AS n_events
       |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Wald–Wolfowitz runs test on the daily purchase totals — is the
    * above/below-median sign sequence random, or does the series
    * trend/mean-shift (few long runs) or oscillate (many short
    * runs)? The monitoring sibling of [[cusumChangepoint]] that needs
    * NO tuned threshold. Shares [[cusumDailyFrom]]'s mergeable daily
    * histogram; the median is a rank pick from the day-bounded
    * relation (≤ span days — vocabulary-sized windows), median ties
    * drop per the standard test, and R/n₁/n₂ are exact integers with
    * one fixed double expression for z. */
  def runsTest(spark: SparkSession, dir: String): DataFrame =
    runsTestOf(Tables(spark, dir, "events"))

  private[graft] def runsTestOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = cusumDailyFrom(events)
    val wRank = Window.orderBy("x", "day")
    val wAll = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val med = daily
      .withColumn("r", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("r") === expr("(n + 1) div 2"))
      .select(col("x").as("med"))
    val signs = daily.crossJoin(broadcast(med))
      .filter(col("x") =!= col("med"))
      .withColumn("s", when(col("x") > col("med"), 1L).otherwise(0L))
    val wDay = Window.orderBy("day")
    signs
      .withColumn("flip",
        when(lag("s", 1).over(wDay).isNull ||
          lag("s", 1).over(wDay) =!= col("s"), 1L).otherwise(0L))
      .agg(
        sum("s").as("n1"),
        sum(lit(1L) - col("s")).as("n2"),
        sum("flip").as("runs"))
      .select(col("n1"), col("n2"), col("runs"),
        Det.rnd(expr("1.0 + 2.0 * n1 * n2 / (n1 + n2)"), 6).as("mu"),
        Det.rnd(expr(
          "(runs - (1.0 + 2.0 * n1 * n2 / (n1 + n2))) / " +
            "sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) / " +
            "((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))"), 6).as("z"))
  }

  val runsTestSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(sum(${Det.centsSql("value")}) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |med AS (
       |  SELECT x AS med FROM (
       |    SELECT x, row_number() OVER (ORDER BY x, day) AS r,
       |           count(*) OVER () AS n
       |    FROM daily) WHERE r = (n + 1) // 2),
       |signs AS (
       |  SELECT day, CASE WHEN x > med THEN 1 ELSE 0 END AS s
       |  FROM daily CROSS JOIN med WHERE x <> med),
       |flips AS (
       |  SELECT s, CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
       |                   OR lag(s) OVER (ORDER BY day) <> s
       |                 THEN 1 ELSE 0 END AS flip
       |  FROM signs),
       |agg AS (
       |  SELECT CAST(sum(s) AS BIGINT) AS n1, CAST(sum(1 - s) AS BIGINT) AS n2,
       |         CAST(sum(flip) AS BIGINT) AS runs
       |  FROM flips)
       |SELECT n1, n2, runs,
       |       ${Det.rndSql("1.0 + 2.0 * n1 * n2 / (n1 + n2)", 6)} AS mu,
       |       ${Det.rndSql("(runs - (1.0 + 2.0 * n1 * n2 / (n1 + n2))) / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))", 6)} AS z
       |FROM agg""".stripMargin

  /** Benford first-digit audit of order totals — the fraud/data-entry
    * screen: observed first-significant-digit shares vs Benford's
    * log₁₀(1+1/d), with the χ² distance carried on every row. The
    * digit is extracted from the INTEGER CENTS' decimal string (first
    * char of the BIGINT — no float log10 anywhere near a power-of-ten
    * boundary), so both engines bucket identically; one groupBy on a
    * 9-value key. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame =
    benfordAuditOf(Tables(spark, dir, "orders"))

  private[graft] def benfordAuditOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.orderBy("digit")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders
      .select(substring(Det.cents(col("o_totalprice")).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .withColumn("total", sum("n").over(wAll))
      .withColumn("share", col("n").cast("double") / col("total"))
      .withColumn("benford", expr("log10(1.0 + 1.0 / digit)"))
      .withColumn("chi2", sum(
        expr("pow(CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit), 2)" +
          " / log10(1.0 + 1.0 / digit)")).over(wAll) * col("total"))
      .select(col("digit"), col("n"),
        Det.rnd(col("share"), 6).as("share"),
        Det.rnd(col("benford"), 6).as("benford"),
        Det.rnd(col("chi2"), 4).as("chi2"))
      .orderBy("digit")
  }

  val benfordAuditSql: String =
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(${Det.centsSql("o_totalprice")} AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |  FROM orders),
       |cnt AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
       |t AS (
       |  SELECT digit, n, sum(n) OVER () AS total,
       |         log10(1.0 + 1.0 / digit) AS benford
       |  FROM cnt),
       |c AS (
       |  SELECT digit, n, total, benford,
       |         sum(pow(CAST(n AS DOUBLE) / total - benford, 2) / benford)
       |           OVER () * total AS chi2
       |  FROM t)
       |SELECT digit, n,
       |       ${Det.rndSql("CAST(n AS DOUBLE) / total", 6)} AS share,
       |       ${Det.rndSql("benford", 6)} AS benford,
       |       ${Det.rndSql("chi2", 4)} AS chi2
       |FROM c ORDER BY digit""".stripMargin

  private val AcfLags = Seq(1, 7)

  /** Sample autocorrelation of the daily purchase totals at calendar
    * lags 1 and 7 — the day-over-day persistence and weekly
    * seasonality scalars ([[seasonality]] reads the weekday MEANS;
    * ACF reads whether deviations repeat). Pairs come from a
    * calendar-lag self-join of the day histogram (missing days pair
    * with nothing — the standard gapped estimator), all sums are
    * exact BIGINTs off integer cents, and r collapses to ONE fixed
    * double expression per lag. */
  def autocorr(spark: SparkSession, dir: String): DataFrame =
    autocorrOf(Tables(spark, dir, "events"))

  private[graft] def autocorrOf(events: DataFrame): DataFrame = {
    val daily = cusumDailyFrom(events)
    val stats = daily.agg(
      count(lit(1)).as("n"), sum("x").as("s"),
      sum(col("x") * col("x")).as("q"))
    AcfLags.map { lag =>
      val a = daily.select(col("day").as("d1"), col("x").as("xh"))
      val b = daily.select(col("day").as("d2"), col("x").as("xt"))
      a.join(b, date_add(col("d1"), lag) === col("d2"))
        .agg(count(lit(1)).as("c"), sum(col("xh") * col("xt")).as("np"),
          sum("xh").as("sh"), sum("xt").as("st"))
        .crossJoin(broadcast(stats))
        .select(lit(lag).as("lag"), col("c").as("n_pairs"),
          Det.rnd(expr(
            "(np - (CAST(s AS DOUBLE) / n) * (sh + st) + c * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / " +
              "(q - CAST(s AS DOUBLE) * s / n)"), 6).as("acf"))
    }.reduce(_ unionAll _).orderBy("lag")
  }

  val autocorrSql: String = {
    val one = (lag: Int) =>
      s"""SELECT $lag AS lag, c AS n_pairs,
         |       ${Det.rndSql("(np - (CAST(s AS DOUBLE) / n) * (sh + st) + c * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / (q - CAST(s AS DOUBLE) * s / n)", 6)} AS acf
         |FROM (SELECT count(*) AS c, CAST(sum(a.x * b.x) AS BIGINT) AS np,
         |             CAST(sum(a.x) AS BIGINT) AS sh, CAST(sum(b.x) AS BIGINT) AS st
         |      FROM daily a JOIN daily b ON a.day + $lag = b.day)
         |CROSS JOIN stats""".stripMargin
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(sum(${Det.centsSql("value")}) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |stats AS (
       |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
       |         CAST(sum(x * x) AS BIGINT) AS q
       |  FROM daily)
       |${AcfLags.map(one).mkString("\nUNION ALL\n")}
       |ORDER BY lag""".stripMargin
  }

  /** Per-type inter-arrival tail latency — exact p50/p95/p99/max of the
    * same-(user, type) gap distribution, the SLO numbers an event
    * pipeline alarms on ([[watermarkSizing]] reads global disorder;
    * this reads per-key cadence). Exact rank-pick percentiles: gaps
    * rank inside type-partitioned windows (each partition one shuffle
    * key — never a global sort), the pick index is ⌈q·n⌉ in integer
    * arithmetic, micros end to end. */
  def tailLatency(spark: SparkSession, dir: String): DataFrame =
    tailLatencyOf(Tables(spark, dir, "events"))

  private[graft] def tailLatencyOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy("user_id", "event_type").orderBy("tus", "event_id")
    val gaps = events
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("gap", col("tus") - lag("tus", 1).over(byKey))
      .filter(col("gap").isNotNull)
    val byGap = Window.partitionBy("event_type").orderBy("gap", "user_id", "event_id")
    val wType = Window.partitionBy("event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    gaps
      .withColumn("r", row_number().over(byGap))
      .withColumn("n", count(lit(1)).over(wType))
      .filter(col("r") === expr("CAST(ceil(0.50 * n) AS BIGINT)") ||
        col("r") === expr("CAST(ceil(0.95 * n) AS BIGINT)") ||
        col("r") === expr("CAST(ceil(0.99 * n) AS BIGINT)") ||
        col("r") === col("n"))
      .groupBy("event_type")
      .agg(
        max("n").as("n_gaps"),
        max(when(col("r") === expr("CAST(ceil(0.50 * n) AS BIGINT)"), col("gap"))).as("p50_us"),
        max(when(col("r") === expr("CAST(ceil(0.95 * n) AS BIGINT)"), col("gap"))).as("p95_us"),
        max(when(col("r") === expr("CAST(ceil(0.99 * n) AS BIGINT)"), col("gap"))).as("p99_us"),
        max(when(col("r") === col("n"), col("gap"))).as("max_us"))
      .orderBy("event_type")
  }

  val tailLatencySql: String =
    s"""WITH g AS (
       |  SELECT user_id, event_type, event_id,
       |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
       |           ORDER BY epoch_us(ts), event_id) AS gap
       |  FROM events),
       |r AS (
       |  SELECT event_type, gap,
       |         row_number() OVER (PARTITION BY event_type
       |           ORDER BY gap, user_id, event_id) AS r,
       |         count(*) OVER (PARTITION BY event_type) AS n
       |  FROM g WHERE gap IS NOT NULL)
       |SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
       |       CAST(max(CASE WHEN r = CAST(ceil(0.50 * n) AS BIGINT) THEN gap END) AS BIGINT) AS p50_us,
       |       CAST(max(CASE WHEN r = CAST(ceil(0.95 * n) AS BIGINT) THEN gap END) AS BIGINT) AS p95_us,
       |       CAST(max(CASE WHEN r = CAST(ceil(0.99 * n) AS BIGINT) THEN gap END) AS BIGINT) AS p99_us,
       |       CAST(max(CASE WHEN r = n THEN gap END) AS BIGINT) AS max_us
       |FROM r
       |WHERE r = CAST(ceil(0.50 * n) AS BIGINT) OR r = CAST(ceil(0.95 * n) AS BIGINT)
       |   OR r = CAST(ceil(0.99 * n) AS BIGINT) OR r = n
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  private val PitHorizonUs = 7L * 86400L * 1000000L // 7-day label window

  /** Point-in-time-correct churn feature/label build — the feature-
    * store contract: every FEATURE reads strictly BEFORE the cutoff
    * (corpus end − 7 days), the LABEL reads strictly after, and no
    * column can leak across (the silent bug that inflates offline
    * AUC). One conditional-aggregation pass per user off the
    * broadcast scalar cutoff; recency/tenure in exact micros, money
    * in exact cents. Users with no pre-cutoff history are EXCLUDED
    * (no feature row exists at serving time either). */
  def pitFeatures(spark: SparkSession, dir: String): DataFrame =
    pitFeaturesOf(Tables(spark, dir, "events"))

  private[graft] def pitFeaturesOf(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tus"), Det.cents(col("value")).as("cents"))
    val cutoff = e.agg((max("tus") - PitHorizonUs).as("cut"))
    e.crossJoin(broadcast(cutoff))
      .groupBy("user_id")
      .agg(
        max("cut").as("cut"),
        sum(when(col("tus") < col("cut"), 1L).otherwise(0L)).as("f_n_events"),
        sum(when(col("tus") < col("cut") && col("event_type") === "purchase",
          col("cents")).otherwise(0L)).as("f_cents"),
        max(when(col("tus") < col("cut"), col("tus"))).as("f_last_us"),
        min(when(col("tus") < col("cut"), col("tus"))).as("f_first_us"),
        sum(when(col("tus") >= col("cut"), 1L).otherwise(0L)).as("post_events"))
      .filter(col("f_n_events") > 0)
      .select(col("user_id"), col("f_n_events"),
        (col("f_cents").cast("double") / 100.0).as("f_revenue"),
        (col("cut") - col("f_last_us")).as("f_recency_us"),
        (col("f_last_us") - col("f_first_us")).as("f_tenure_us"),
        when(col("post_events") === 0L, 1).otherwise(0).as("churned"))
      .orderBy("user_id")
  }

  val pitFeaturesSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS tus,
       |         ${Det.centsSql("value")} AS cents
       |  FROM events),
       |cut AS (SELECT max(tus) - $PitHorizonUs AS cut FROM e),
       |agg AS (
       |  SELECT user_id, max(cut) AS cut,
       |         CAST(sum(CASE WHEN tus < cut THEN 1 ELSE 0 END) AS BIGINT) AS f_n_events,
       |         CAST(sum(CASE WHEN tus < cut AND event_type = 'purchase'
       |                       THEN cents ELSE 0 END) AS BIGINT) AS f_cents,
       |         max(CASE WHEN tus < cut THEN tus END) AS f_last_us,
       |         min(CASE WHEN tus < cut THEN tus END) AS f_first_us,
       |         CAST(sum(CASE WHEN tus >= cut THEN 1 ELSE 0 END) AS BIGINT) AS post_events
       |  FROM e CROSS JOIN cut
       |  GROUP BY user_id)
       |SELECT user_id, f_n_events,
       |       CAST(f_cents AS DOUBLE) / 100.0 AS f_revenue,
       |       cut - f_last_us AS f_recency_us,
       |       f_last_us - f_first_us AS f_tenure_us,
       |       CAST(CASE WHEN post_events = 0 THEN 1 ELSE 0 END AS INTEGER) AS churned
       |FROM agg WHERE f_n_events > 0
       |ORDER BY user_id""".stripMargin

  /** Hour-of-day × event-type activity heatmap — the load-shape
    * matrix behind capacity planning and anomaly eyeballing: counts
    * and within-type shares per (type, UTC hour). One groupBy on a
    * 5×24-value key; shares are exact integer ratios. */
  def heatmapHour(spark: SparkSession, dir: String): DataFrame =
    heatmapHourOf(Tables(spark, dir, "events"))

  private[graft] def heatmapHourOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wType = Window.partitionBy("event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events
      .groupBy(col("event_type"), hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("type_total", sum("n").over(wType))
      .select(col("event_type"), col("hour"), col("n"),
        Det.rnd(col("n").cast("double") / col("type_total"), 6).as("share"))
      .orderBy("event_type", "hour")
  }

  val heatmapHourSql: String =
    s"""WITH c AS (
       |  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour, count(*) AS n
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, hour, n,
       |       ${Det.rndSql("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type)", 6)} AS share
       |FROM c ORDER BY event_type, hour""".stripMargin

  /** k-anonymity audit of the customer table under the quasi-identifier
    * (nation, segment, acctbal coarsened to $500 bands) — the privacy
    * pre-release gate: how much of the population sits in equivalence
    * classes smaller than k (re-identifiable) for the standard k
    * ladder, plus the minimum class size. Runs on the count-of-counts
    * histogram (class-size vocabulary), so the only full-data pass is
    * the one quasi-identifier groupBy — the [[giniConcentration]]
    * technique applied to privacy. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymityOf(Tables(spark, dir, "customer"))

  private[graft] def kAnonymityOf(customer: DataFrame): DataFrame = {
    val classes = customer
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        // truncating division (DuckDB's integer // truncates toward
        // zero, NOT floor — verified on -99999 // 50000 = -1); the
        // double→long cast truncates identically
        (Det.cents(col("c_acctbal")).cast("double") / 50000.0)
          .cast("long").as("bal_band"))
      .agg(count(lit(1)).as("sz"))
    val hist = classes.groupBy("sz").agg(count(lit(1)).as("m"))
    hist.agg(
      sum(col("sz") * col("m")).as("n_rows"),
      sum("m").as("n_classes"),
      min("sz").as("min_class"),
      sum(when(col("sz") < 2, col("sz") * col("m")).otherwise(0L)).as("rows_lt_2"),
      sum(when(col("sz") < 5, col("sz") * col("m")).otherwise(0L)).as("rows_lt_5"),
      sum(when(col("sz") < 10, col("sz") * col("m")).otherwise(0L)).as("rows_lt_10"))
      .select(col("n_rows"), col("n_classes"), col("min_class"),
        col("rows_lt_2"), col("rows_lt_5"), col("rows_lt_10"),
        Det.rnd(col("rows_lt_5").cast("double") / col("n_rows"), 6)
          .as("share_lt_5"))
  }

  val kAnonymitySql: String =
    s"""WITH classes AS (
       |  SELECT c_nationkey, c_mktsegment, ${Det.centsSql("c_acctbal")} // 50000 AS bal_band,
       |         count(*) AS sz
       |  FROM customer GROUP BY 1, 2, 3),
       |hist AS (SELECT sz, count(*) AS m FROM classes GROUP BY 1)
       |SELECT CAST(sum(sz * m) AS BIGINT) AS n_rows,
       |       CAST(sum(m) AS BIGINT) AS n_classes,
       |       CAST(min(sz) AS BIGINT) AS min_class,
       |       CAST(sum(CASE WHEN sz < 2 THEN sz * m ELSE 0 END) AS BIGINT) AS rows_lt_2,
       |       CAST(sum(CASE WHEN sz < 5 THEN sz * m ELSE 0 END) AS BIGINT) AS rows_lt_5,
       |       CAST(sum(CASE WHEN sz < 10 THEN sz * m ELSE 0 END) AS BIGINT) AS rows_lt_10,
       |       ${Det.rndSql("CAST(sum(CASE WHEN sz < 5 THEN sz * m ELSE 0 END) AS DOUBLE) / sum(sz * m)", 6)} AS share_lt_5
       |FROM hist""".stripMargin

  /** Order/lineitem money reconciliation — the finance-closing double-
    * entry audit: per order, the header total vs the line-derived
    * total Σ extprice·(1−disc)·(1+tax), both as exact integer
    * ten-thousandth-cent units, with the mismatch census (count,
    * total and max absolute drift) per order-status. In clean TPC-H
    * the books balance; on a synthetic feed this measures header/line
    * drift — either way the audit is the operator. One fact-fact
    * shuffle on the order key; header side aggregates first so the
    * join carries one row per order. */
  def reconciliation(spark: SparkSession, dir: String): DataFrame =
    reconciliationOf(Tables(spark, dir, "orders"), Tables(spark, dir, "lineitem"))

  private[graft] def reconciliationOf(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lines = lineitem.groupBy(col("l_orderkey").as("okey"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))" +
        " * (100 + CAST(round(l_tax * 100) AS BIGINT))")).as("line_units"))
    orders
      .select(col("o_orderkey").as("okey"), col("o_orderstatus"),
        (Det.cents(col("o_totalprice")) * 10000L).as("head_units"))
      .join(lines, Seq("okey"), "left")
      .withColumn("diff", abs(coalesce(col("line_units"), lit(0L)) - col("head_units")))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("diff") === 0L, 1L).otherwise(0L)).as("n_balanced"),
        sum(when(col("line_units").isNull, 1L).otherwise(0L)).as("n_lineless"),
        (max("diff").cast("double") / 1000000.0).as("max_drift"),
        (sum("diff").cast("double") / 1000000.0).as("total_drift"))
      .orderBy("o_orderstatus")
  }

  private val ConfAlphaPct = 10L // α = 0.10 → 90% intervals

  /** Split-conformal prediction intervals for purchase value by event
    * type — the distribution-free uncertainty wrapper modern ML eval
    * demands: fit (per-type mean) on the TRAIN hash-split, take the
    * ⌈(n+1)(1−α)⌉-th smallest |residual| on the CALIBRATION split as
    * the interval half-width q̂ (finite-sample guaranteed ≥ 1−α
    * coverage), then measure realized coverage on the TEST split.
    * Splits are the engine-neutral modmul hash (the [[TextQueries
    * .trainSplit]] technique, third multiplier), the fit is exact
    * cents, q̂ is an integer-cents rank pick inside type-partitioned
    * windows, and coverage counting is pure integers — the entire
    * conformal procedure replays in SQL. */
  def conformalInterval(spark: SparkSession, dir: String): DataFrame =
    conformalIntervalOf(Tables(spark, dir, "events"))

  private[graft] def conformalIntervalOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = events.filter(col("event_type") === "purchase" ||
        col("event_type") === "view" || col("event_type") === "click")
      .select(col("event_type"), col("event_id"), Det.cents(col("value")).as("c"))
      .withColumn("h", pmod(col("event_id") * 2246822519L, lit(4294967296L)))
      .withColumn("split",
        when(col("h") < 4294967296L / 2, "train")
          .when(col("h") < 4294967296L * 3 / 4, "cal")
          .otherwise("test"))
    val fit = p.filter(col("split") === "train")
      .groupBy("event_type").agg(
        (sum("c") / count(lit(1))).cast("long").as("mu_cents"))
    val wRank = Window.partitionBy("event_type").orderBy("res", "event_id")
    val wN = Window.partitionBy("event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val qhat = p.filter(col("split") === "cal")
      .join(broadcast(fit), Seq("event_type"))
      .withColumn("res", abs(col("c") - col("mu_cents")))
      .withColumn("r", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wN))
      .filter(col("r") ===
        least(expr(s"CAST(ceil((n + 1) * (100 - $ConfAlphaPct) / 100.0) AS BIGINT)"), col("n")))
      .select(col("event_type"), col("res").as("qhat_cents"), col("n").as("n_cal"))
    p.filter(col("split") === "test")
      .join(broadcast(fit), Seq("event_type"))
      .join(broadcast(qhat), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        max("mu_cents").as("mu_cents"), max("qhat_cents").as("qhat_cents"),
        max("n_cal").as("n_cal"), count(lit(1)).as("n_test"),
        sum(when(abs(col("c") - col("mu_cents")) <= col("qhat_cents"), 1L)
          .otherwise(0L)).as("n_covered"))
      .select(col("event_type"),
        (col("mu_cents").cast("double") / 100.0).as("mu"),
        (col("qhat_cents").cast("double") / 100.0).as("qhat"),
        col("n_cal"), col("n_test"),
        Det.rnd(col("n_covered").cast("double") / col("n_test"), 6)
          .as("coverage"))
      .orderBy("event_type")
  }

  val conformalIntervalSql: String =
    s"""WITH p AS (
       |  SELECT event_type, event_id, ${Det.centsSql("value")} AS c,
       |         (event_id * 2246822519) % 4294967296 AS h
       |  FROM events WHERE event_type IN ('purchase', 'view', 'click')),
       |sp AS (
       |  SELECT event_type, event_id, c,
       |         CASE WHEN h < ${4294967296L / 2} THEN 'train'
       |              WHEN h < ${4294967296L * 3 / 4} THEN 'cal'
       |              ELSE 'test' END AS split
       |  FROM p),
       |fit AS (
       |  SELECT event_type, CAST(sum(c) // count(*) AS BIGINT) AS mu_cents
       |  FROM sp WHERE split = 'train' GROUP BY 1),
       |cal AS (
       |  SELECT event_type, abs(c - mu_cents) AS res, event_id
       |  FROM sp JOIN fit USING (event_type) WHERE split = 'cal'),
       |qh AS (
       |  SELECT event_type, res AS qhat_cents, n AS n_cal FROM (
       |    SELECT event_type, res,
       |           row_number() OVER (PARTITION BY event_type ORDER BY res, event_id) AS r,
       |           count(*) OVER (PARTITION BY event_type) AS n
       |    FROM cal)
       |  WHERE r = least(CAST(ceil((n + 1) * (100 - $ConfAlphaPct) / 100.0) AS BIGINT), n))
       |SELECT event_type,
       |       CAST(mu_cents AS DOUBLE) / 100.0 AS mu,
       |       CAST(qhat_cents AS DOUBLE) / 100.0 AS qhat,
       |       CAST(n_cal AS BIGINT) AS n_cal, count(*) AS n_test,
       |       ${Det.rndSql("CAST(sum(CASE WHEN abs(c - mu_cents) <= qhat_cents THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS coverage
       |FROM sp JOIN fit USING (event_type) JOIN qh USING (event_type)
       |WHERE split = 'test'
       |GROUP BY event_type, mu_cents, qhat_cents, n_cal
       |ORDER BY event_type""".stripMargin

  /** One-way ANOVA F across the five event types' purchase values —
    * does type explain value variance? The k-group generalization of
    * [[abTest]]'s two-sample t: SSB/SSW from exact integer power sums
    * (grand and per-group Σc, Σc²), F as one fixed double expression.
    * All moments ride one hash aggregation over a 5-row group table. */
  def anovaF(spark: SparkSession, dir: String): DataFrame =
    anovaFOf(Tables(spark, dir, "events"))

  private[graft] def anovaFOf(events: DataFrame): DataFrame = {
    val g = events.select(col("event_type"), Det.cents(col("value")).as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("ni"), sum("c").as("si"),
        sum(col("c") * col("c")).as("qi"))
    g.agg(
      count(lit(1)).as("k"), sum("ni").as("n"),
      sum("si").as("s"), sum("qi").as("q"),
      sum(col("si").cast("double") * col("si") / col("ni")).as("gm"))
      .select(col("k"), col("n"),
        // degenerate-variance guards: zero SSW → F defined as 0 when
        // SSB is also 0 (all values identical); zero total variance →
        // η² 0. ANSI Spark would otherwise throw where DuckDB infs.
        Det.rnd(expr(
          "CASE WHEN q - gm = 0.0 THEN 0.0 ELSE " +
            "((gm - CAST(s AS DOUBLE) * s / n) / (k - 1)) / " +
            "((q - gm) / (n - k)) END"), 4).as("f_stat"),
        Det.rnd(expr(
          "CASE WHEN q - CAST(s AS DOUBLE) * s / n = 0.0 THEN 0.0 ELSE " +
            "(gm - CAST(s AS DOUBLE) * s / n) / (q - CAST(s AS DOUBLE) * s / n) END"), 6)
          .as("eta_sq"))
  }

  val anovaFSql: String =
    s"""WITH g AS (
       |  SELECT event_type, count(*) AS ni,
       |         CAST(sum(${Det.centsSql("value")}) AS BIGINT) AS si,
       |         CAST(sum(${Det.centsSql("value")} * ${Det.centsSql("value")}) AS BIGINT) AS qi
       |  FROM events GROUP BY 1),
       |a AS (
       |  SELECT count(*) AS k, CAST(sum(ni) AS BIGINT) AS n,
       |         CAST(sum(si) AS BIGINT) AS s, CAST(sum(qi) AS BIGINT) AS q,
       |         sum(CAST(si AS DOUBLE) * si / ni) AS gm
       |  FROM g)
       |SELECT k, n,
       |       ${Det.rndSql("CASE WHEN q - gm = 0.0 THEN 0.0 ELSE ((gm - CAST(s AS DOUBLE) * s / n) / (k - 1)) / ((q - gm) / (n - k)) END", 4)} AS f_stat,
       |       ${Det.rndSql("CASE WHEN q - CAST(s AS DOUBLE) * s / n = 0.0 THEN 0.0 ELSE (gm - CAST(s AS DOUBLE) * s / n) / (q - CAST(s AS DOUBLE) * s / n) END", 6)} AS eta_sq
       |FROM a""".stripMargin

  /** CUPED variance reduction (Deng et al., WSDM'13) for the user-
    * level purchase metric: Y = post-midpoint purchase cents, the
    * pre-midpoint cents X as the control covariate, pooled
    * θ = cov(X,Y)/var(X). The entire adjustment reduces to CLOSED
    * FORMS over exact integer power sums — group-mean adjustment
    * needs only group Σx/Σy, and var(Y_adj) = var(Y) − cov²/var(X) —
    * so no per-row float column ever materializes and both engines
    * evaluate the same fixed expressions. Assignment is the
    * [[abTest]] user_id parity. The experimentation row every modern
    * A/B platform computes before the t-test. */
  def cuped(spark: SparkSession, dir: String): DataFrame =
    cupedOf(Tables(spark, dir, "events"))

  private[graft] def cupedOf(events: DataFrame): DataFrame = {
    val mid = events.agg(
      expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").as("mid"))
    val per = events.filter(col("event_type") === "purchase")
      .crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(
        max(col("user_id") % 2).as("g"),
        sum(when(unix_micros(col("ts")) < col("mid"), Det.cents(col("value")))
          .otherwise(0L)).as("x"),
        sum(when(unix_micros(col("ts")) >= col("mid"), Det.cents(col("value")))
          .otherwise(0L)).as("y"))
    per.agg(
      count(lit(1)).as("n"),
      sum(when(col("g") === 0, 1L).otherwise(0L)).as("na"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(when(col("g") === 0, col("x")).otherwise(0L)).as("sxa"),
      sum(when(col("g") === 0, col("y")).otherwise(0L)).as("sya"))
      .withColumn("varx", expr("(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n"))
      .withColumn("vary", expr("(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n"))
      .withColumn("covxy", expr("(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / n"))
      .withColumn("theta", expr("CASE WHEN varx = 0.0 THEN 0.0 ELSE covxy / varx END"))
      .select(
        col("n").as("n_users"), col("na").as("n_a"),
        Det.rnd(col("theta"), 6).as("theta"),
        Det.rnd(expr(
          "(CAST(sya AS DOUBLE) / na - CAST(sy - sya AS DOUBLE) / (n - na)) / 100.0"), 4)
          .as("diff_raw"),
        Det.rnd(expr(
          "((CAST(sya AS DOUBLE) / na - CAST(sy - sya AS DOUBLE) / (n - na)) - " +
            "theta * (CAST(sxa AS DOUBLE) / na - CAST(sx - sxa AS DOUBLE) / (n - na))) / 100.0"), 4)
          .as("diff_cuped"),
        Det.rnd(expr(
          "CASE WHEN vary = 0.0 THEN 0.0 ELSE " +
            "(CASE WHEN varx = 0.0 THEN 0.0 ELSE covxy * covxy / varx END) / vary END"), 6)
          .as("var_reduction"))
  }

  val cupedSql: String =
    s"""WITH mid AS (
       |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events),
       |per AS (
       |  SELECT user_id, max(user_id % 2) AS g,
       |         CAST(sum(CASE WHEN epoch_us(ts) < mid THEN ${Det.centsSql("value")}
       |                       ELSE 0 END) AS BIGINT) AS x,
       |         CAST(sum(CASE WHEN epoch_us(ts) >= mid THEN ${Det.centsSql("value")}
       |                       ELSE 0 END) AS BIGINT) AS y
       |  FROM events CROSS JOIN mid WHERE event_type = 'purchase'
       |  GROUP BY user_id),
       |m AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
       |         CAST(sum(x * y) AS BIGINT) AS sxy,
       |         CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT) AS sxa,
       |         CAST(sum(CASE WHEN g = 0 THEN y ELSE 0 END) AS BIGINT) AS sya
       |  FROM per),
       |d AS (
       |  SELECT n, na, sx, sy, sxa, sya,
       |         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n AS varx,
       |         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n AS vary,
       |         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / n AS covxy
       |  FROM m),
       |t AS (SELECT d.*, CASE WHEN varx = 0.0 THEN 0.0 ELSE covxy / varx END AS theta FROM d)
       |SELECT n AS n_users, na AS n_a,
       |       ${Det.rndSql("theta", 6)} AS theta,
       |       ${Det.rndSql("(CAST(sya AS DOUBLE) / na - CAST(sy - sya AS DOUBLE) / (n - na)) / 100.0", 4)} AS diff_raw,
       |       ${Det.rndSql("((CAST(sya AS DOUBLE) / na - CAST(sy - sya AS DOUBLE) / (n - na)) - theta * (CAST(sxa AS DOUBLE) / na - CAST(sx - sxa AS DOUBLE) / (n - na))) / 100.0", 4)} AS diff_cuped,
       |       ${Det.rndSql("CASE WHEN vary = 0.0 THEN 0.0 ELSE (CASE WHEN varx = 0.0 THEN 0.0 ELSE covxy * covxy / varx END) / vary END", 6)} AS var_reduction
       |FROM t""".stripMargin

  /** Delta-method ratio-metric test: revenue-per-event compared A vs B
    * (user_id parity), with the ratio's variance from the delta
    * method — Var(R) ≈ (var(num) − 2R·cov + R²·var(den)) / (n·den̄²) —
    * because a ratio of totals is NOT a mean of ratios and the naive
    * t-test is wrong for it. Per-user numerators/denominators are
    * exact integers; each group's R, variance and the final z are
    * fixed double expressions. */
  def ratioDelta(spark: SparkSession, dir: String): DataFrame =
    ratioDeltaOf(Tables(spark, dir, "events"))

  private[graft] def ratioDeltaOf(events: DataFrame): DataFrame = {
    val per = events.groupBy("user_id")
      .agg(max(col("user_id") % 2).as("g"),
        sum(when(col("event_type") === "purchase", Det.cents(col("value")))
          .otherwise(0L)).as("num"),
        count(lit(1)).as("den"))
    def side(g: Int, p: String) = Seq(
      sum(when(col("g") === g, 1L).otherwise(0L)).as(s"n_$p"),
      sum(when(col("g") === g, col("num")).otherwise(0L)).as(s"sn_$p"),
      sum(when(col("g") === g, col("den")).otherwise(0L)).as(s"sd_$p"),
      sum(when(col("g") === g, col("num") * col("num")).otherwise(0L)).as(s"snn_$p"),
      sum(when(col("g") === g, col("den") * col("den")).otherwise(0L)).as(s"sdd_$p"),
      sum(when(col("g") === g, col("num") * col("den")).otherwise(0L)).as(s"snd_$p"))
    val cols = side(0, "a") ++ side(1, "b")
    def ratio(p: String) = s"(CAST(sn_$p AS DOUBLE) / sd_$p)"
    def rvar(p: String) =
      s"((CAST(snn_$p AS DOUBLE) - CAST(sn_$p AS DOUBLE) * sn_$p / n_$p) / n_$p" +
        s" - 2.0 * ${ratio(p)} * ((CAST(snd_$p AS DOUBLE) - CAST(sn_$p AS DOUBLE) * sd_$p / n_$p) / n_$p)" +
        s" + ${ratio(p)} * ${ratio(p)} * ((CAST(sdd_$p AS DOUBLE) - CAST(sd_$p AS DOUBLE) * sd_$p / n_$p) / n_$p))" +
        s" / (n_$p * (CAST(sd_$p AS DOUBLE) / n_$p) * (CAST(sd_$p AS DOUBLE) / n_$p))"
    per.agg(cols.head, cols.tail: _*)
      .select(
        col("n_a"), col("n_b"),
        Det.rnd(expr(s"${ratio("a")} / 100.0"), 6).as("ratio_a"),
        Det.rnd(expr(s"${ratio("b")} / 100.0"), 6).as("ratio_b"),
        Det.rnd(expr(
          s"(${ratio("a")} - ${ratio("b")}) / sqrt(${rvar("a")} + ${rvar("b")})"), 4)
          .as("z"))
  }

  val ratioDeltaSql: String = {
    def ratio(p: String) = s"(CAST(sn_$p AS DOUBLE) / sd_$p)"
    def rvar(p: String) =
      s"((CAST(snn_$p AS DOUBLE) - CAST(sn_$p AS DOUBLE) * sn_$p / n_$p) / n_$p" +
        s" - 2.0 * ${ratio(p)} * ((CAST(snd_$p AS DOUBLE) - CAST(sn_$p AS DOUBLE) * sd_$p / n_$p) / n_$p)" +
        s" + ${ratio(p)} * ${ratio(p)} * ((CAST(sdd_$p AS DOUBLE) - CAST(sd_$p AS DOUBLE) * sd_$p / n_$p) / n_$p))" +
        s" / (n_$p * (CAST(sd_$p AS DOUBLE) / n_$p) * (CAST(sd_$p AS DOUBLE) / n_$p))"
    s"""WITH per AS (
       |  SELECT user_id, max(user_id % 2) AS g,
       |         CAST(sum(CASE WHEN event_type = 'purchase'
       |                       THEN ${Det.centsSql("value")} ELSE 0 END) AS BIGINT) AS num,
       |         count(*) AS den
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT
       |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN g = 0 THEN num ELSE 0 END) AS BIGINT) AS sn_a,
       |    CAST(sum(CASE WHEN g = 0 THEN den ELSE 0 END) AS BIGINT) AS sd_a,
       |    CAST(sum(CASE WHEN g = 0 THEN num * num ELSE 0 END) AS BIGINT) AS snn_a,
       |    CAST(sum(CASE WHEN g = 0 THEN den * den ELSE 0 END) AS BIGINT) AS sdd_a,
       |    CAST(sum(CASE WHEN g = 0 THEN num * den ELSE 0 END) AS BIGINT) AS snd_a,
       |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN g = 1 THEN num ELSE 0 END) AS BIGINT) AS sn_b,
       |    CAST(sum(CASE WHEN g = 1 THEN den ELSE 0 END) AS BIGINT) AS sd_b,
       |    CAST(sum(CASE WHEN g = 1 THEN num * num ELSE 0 END) AS BIGINT) AS snn_b,
       |    CAST(sum(CASE WHEN g = 1 THEN den * den ELSE 0 END) AS BIGINT) AS sdd_b,
       |    CAST(sum(CASE WHEN g = 1 THEN num * den ELSE 0 END) AS BIGINT) AS snd_b
       |  FROM per)
       |SELECT n_a, n_b,
       |       ${Det.rndSql(s"${ratio("a")} / 100.0", 6)} AS ratio_a,
       |       ${Det.rndSql(s"${ratio("b")} / 100.0", 6)} AS ratio_b,
       |       ${Det.rndSql(s"(${ratio("a")} - ${ratio("b")}) / sqrt(${rvar("a")} + ${rvar("b")})", 4)} AS z
       |FROM m""".stripMargin
  }

  /** Sample-ratio-mismatch guardrail: the χ² of the realized A/B
    * assignment counts against the designed 50/50 — the first thing
    * an experimentation platform checks, because a skewed split
    * invalidates every downstream metric. Exact integers; χ² and z
    * are fixed expressions. */
  def srmCheck(spark: SparkSession, dir: String): DataFrame =
    srmCheckOf(Tables(spark, dir, "events"))

  private[graft] def srmCheckOf(events: DataFrame): DataFrame =
    events.select(col("user_id")).distinct()
      .agg(
        sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        Det.rnd(expr(
          "CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b) / (n_a + n_b)"), 6)
          .as("chi2"),
        Det.rnd(expr("(n_a - n_b) / sqrt(CAST(n_a + n_b AS DOUBLE))"), 4).as("z"),
        (abs(col("n_a") - col("n_b")).cast("double") * 2.0 /
          (col("n_a") + col("n_b")) > 0.1).as("srm_flag"))

  val srmCheckSql: String =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |c AS (
       |  SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM u)
       |SELECT n_a, n_b,
       |       ${Det.rndSql("CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b) / (n_a + n_b)", 6)} AS chi2,
       |       ${Det.rndSql("(n_a - n_b) / sqrt(CAST(n_a + n_b AS DOUBLE))", 4)} AS z,
       |       CAST(abs(n_a - n_b) AS DOUBLE) * 2.0 / (n_a + n_b) > 0.1 AS srm_flag
       |FROM c""".stripMargin

  /** Classical seasonal index: each calendar month's order revenue as
    * a ratio to its YEAR's monthly average — the ratio-to-yearly-mean
    * seasonal profile a demand planner multiplies into a forecast
    * ([[seasonality]] reads weekday shape from events; this reads the
    * month-of-year shape from order money). Exact cents; the yearly
    * mean divides month count, not days; output is the (year × month)
    * triangle plus the cross-year mean index per month. */
  def seasonalIndex(spark: SparkSession, dir: String): DataFrame =
    seasonalIndexOf(Tables(spark, dir, "orders"))

  private[graft] def seasonalIndexOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wYear = Window.partitionBy("yr")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wMonth = Window.partitionBy("mo")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("cents"))
      .withColumn("yr_total", sum("cents").over(wYear))
      .withColumn("yr_months", count(lit(1)).over(wYear))
      .withColumn("idx", expr(
        "CAST(cents AS DOUBLE) * yr_months / yr_total"))
      .withColumn("mean_idx_for_month",
        avg("idx").over(wMonth))
      .select(col("yr").cast("long").as("yr"), col("mo").cast("long").as("mo"),
        (col("cents").cast("double") / 100.0).as("revenue"),
        Det.rnd(col("idx"), 4).as("seasonal_idx"),
        Det.rnd(col("mean_idx_for_month"), 4).as("month_mean_idx"))
      .orderBy("yr", "mo")
  }

  val seasonalIndexSql: String =
    s"""WITH m AS (
       |  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1, 2),
       |w AS (
       |  SELECT yr, mo, cents,
       |         CAST(cents AS DOUBLE) * count(*) OVER (PARTITION BY yr)
       |           / sum(cents) OVER (PARTITION BY yr) AS idx
       |  FROM m)
       |SELECT CAST(yr AS BIGINT) AS yr, CAST(mo AS BIGINT) AS mo,
       |       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       |       ${Det.rndSql("idx", 4)} AS seasonal_idx,
       |       ${Det.rndSql("avg(idx) OVER (PARTITION BY mo)", 4)} AS month_mean_idx
       |FROM w ORDER BY yr, mo""".stripMargin

  /** Assignment-hash uniformity audit — the Kolmogorov–Smirnov D of
    * the experiment hash h(user)/2³² against U(0,1): [[srmCheck]]
    * catches a skewed SPLIT; this catches a skewed HASH (a lumpy
    * assignment function biases every stratified readout even when
    * the 50/50 totals look fine). D = max(|i/n − u₍ᵢ₎|,
    * |u₍ᵢ₎ − (i−1)/n|) over the sorted hash values — exact ranks over
    * the user-bounded relation, one fenced division per row, the
    * √n·D statistic against the 1.358 (α=.05) constant pinned. */
  def hashUniformity(spark: SparkSession, dir: String): DataFrame =
    hashUniformityOf(Tables(spark, dir, "events"))

  private[graft] def hashUniformityOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = events.select(col("user_id")).distinct()
      .withColumn("h", pmod(col("user_id") * 2654435761L, lit(4294967296L)))
      // r16 (unpartitioned-Window audit): the KS ranks were one GLOBAL
      // row_number over all distinct users — a single-partition sort at
      // corpus scale. Exact distributed ranking instead: bucket by the
      // hash's high bits (a PREFIX, so (b, h, user_id) order ≡ the old
      // (h, user_id) order), rank inside each bucket, and add the
      // running offset of earlier buckets — a ≤4096-row value-bounded
      // window. Ranks are bit-identical by order compatibility.
      .withColumn("b", expr("h div 1048576").cast("int")) // 4096 high-bit buckets
    val offs = u.groupBy("b").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum("c").over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum("c").over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select("b", "off", "n")
    val wRank = Window.partitionBy("b").orderBy("h", "user_id")
    u.join(broadcast(offs), "b")
      .withColumn("r", row_number().over(wRank).cast("long") + col("off"))
      .withColumn("uv", col("h").cast("double") / 4294967296.0)
      .withColumn("dplus", col("r").cast("double") / col("n") - col("uv"))
      .withColumn("dminus", col("uv") - (col("r") - 1).cast("double") / col("n"))
      .agg(max("n").as("n_users"),
        max(greatest(col("dplus"), col("dminus"))).as("d"))
      .select(col("n_users"),
        Det.rnd(col("d"), 6).as("ks_d"),
        Det.rnd(col("d") * sqrt(col("n_users").cast("double")), 4).as("ks_stat"),
        (col("d") * sqrt(col("n_users").cast("double")) > 1.358).as("reject_uniform"))
  }

  val hashUniformitySql: String =
    s"""WITH u AS (
       |  SELECT user_id, (user_id * 2654435761) % 4294967296 AS h
       |  FROM (SELECT DISTINCT user_id FROM events)),
       |r AS (
       |  SELECT h, row_number() OVER (ORDER BY h, user_id) AS r,
       |         count(*) OVER () AS n
       |  FROM u),
       |d AS (
       |  SELECT n,
       |         greatest(CAST(r AS DOUBLE) / n - h / 4294967296.0,
       |                  h / 4294967296.0 - CAST(r - 1 AS DOUBLE) / n) AS dv
       |  FROM r)
       |SELECT CAST(max(n) AS BIGINT) AS n_users,
       |       ${Det.rndSql("max(dv)", 6)} AS ks_d,
       |       ${Det.rndSql("max(dv) * sqrt(CAST(max(n) AS DOUBLE))", 4)} AS ks_stat,
       |       max(dv) * sqrt(CAST(max(n) AS DOUBLE)) > 1.358 AS reject_uniform
       |FROM d""".stripMargin

  /** Declarative data-quality rule engine — the "data contract" check
    * run per table before anything downstream trusts it: each rule is
    * (name, table, predicate), evaluated as ONE conditional-count
    * pass per table (all of a table's rules ride a single scan — a
    * rule engine that scans per rule is a 100 TB anti-pattern).
    * Domain rules complement [[refIntegrity]]'s FK edges; the
    * violated-row counts and pass/fail verdicts are exact. */
  def dqRules(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val ord = Tables(spark, dir, "orders")
    val cust = Tables(spark, dir, "customer")
    def audit(df: DataFrame, table: String, rules: Seq[(String, org.apache.spark.sql.Column)]) = {
      val aggs = rules.map { case (n, bad) =>
        sum(when(bad, 1L).otherwise(0L)).as(n)
      }
      val row = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
      rules.map { case (n, _) =>
        row.select(lit(table).as("tbl"), lit(n).as("rule"),
          col("n_rows"), col(n).as("n_violations"),
          (col(n) === 0L).as("pass"))
      }.reduce(_ unionAll _)
    }
    audit(li, "lineitem", Seq(
      ("nonneg_price", col("l_extendedprice") < 0),
      ("qty_range_1_50", col("l_quantity") < 1 || col("l_quantity") > 50),
      ("disc_le_10pct", col("l_discount") > 0.10001),
      ("flag_domain", !col("l_returnflag").isin("A", "N", "R"))))
      .unionAll(audit(ord, "orders", Seq(
        ("nonneg_total", col("o_totalprice") < 0),
        ("date_in_range", col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
          col("o_orderdate") >= lit("2002-01-01").cast("timestamp")),
        ("status_domain", !col("o_orderstatus").isin("F", "O", "P")))))
      .unionAll(audit(cust, "customer", Seq(
        ("name_prefix", !col("c_name").startsWith("Customer#")),
        ("segment_nonempty", length(col("c_mktsegment")) === 0))))
      .orderBy("tbl", "rule")
  }

  val dqRulesSql: String = {
    def row(tbl: String, rule: String, from: String, bad: String) =
      s"""SELECT '$tbl' AS tbl, '$rule' AS rule, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $bad THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
         |  sum(CASE WHEN $bad THEN 1 ELSE 0 END) = 0 AS pass
         |FROM $from""".stripMargin
    Seq(
      row("lineitem", "nonneg_price", "lineitem", "l_extendedprice < 0"),
      row("lineitem", "qty_range_1_50", "lineitem", "l_quantity < 1 OR l_quantity > 50"),
      row("lineitem", "disc_le_10pct", "lineitem", "l_discount > 0.10001"),
      row("lineitem", "flag_domain", "lineitem", "l_returnflag NOT IN ('A', 'N', 'R')"),
      row("orders", "nonneg_total", "orders", "o_totalprice < 0"),
      row("orders", "date_in_range", "orders",
        "o_orderdate < TIMESTAMP '1992-01-01' OR o_orderdate >= TIMESTAMP '2002-01-01'"),
      row("orders", "status_domain", "orders", "o_orderstatus NOT IN ('F', 'O', 'P')"),
      row("customer", "name_prefix", "customer", "c_name NOT LIKE 'Customer#%'"),
      row("customer", "segment_nonempty", "customer", "length(c_mktsegment) = 0"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl, rule")
  }

  /** Session-grained conversion: the share of 30-min-gap sessions
    * that contain a purchase, per user-decile of session count — the
    * session-level funnel read ([[eventFunnel]] is event-ordered,
    * [[retention]] is calendar-cohort; this is the "how many visits
    * convert" number). Sessions from the [[sessionize]] gap rule;
    * deciles from the session-count histogram (equi-depth rank
    * technique, no global sort); exact integer counts. */
  def sessionConversion(spark: SparkSession, dir: String): DataFrame =
    sessionConversionOf(Tables(spark, dir, "events"))

  private[graft] def sessionConversionOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val sess = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("gap", col("tus") - lag("tus", 1).over(byUser))
      .withColumn("new_s",
        when(col("gap").isNull || col("gap") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("sid", sum("new_s").over(byUser))
      .groupBy("user_id", "sid")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
    val perUser = sess.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("converted").as("n_converted"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum("n_sessions").as("n_sessions"),
      sum("n_converted").as("n_converted"),
      sum(when(col("n_converted") > 0, 1L).otherwise(0L)).as("n_users_converted"))
      .select(col("n_users"), col("n_sessions"), col("n_converted"),
        col("n_users_converted"),
        Det.rnd(col("n_converted").cast("double") / col("n_sessions"), 6)
          .as("session_cvr"),
        Det.rnd(col("n_users_converted").cast("double") / col("n_users"), 6)
          .as("user_cvr"))
  }

  val sessionConversionSql: String =
    s"""WITH g AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
       |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
       |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $SessionGapUs
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
       |sids AS (
       |  SELECT user_id, event_type,
       |         sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
       |           ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM g),
       |sess AS (
       |  SELECT user_id, sid,
       |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
       |  FROM sids GROUP BY user_id, sid),
       |pu AS (
       |  SELECT user_id, count(*) AS n_sessions,
       |         CAST(sum(converted) AS BIGINT) AS n_converted
       |  FROM sess GROUP BY user_id)
       |SELECT count(*) AS n_users,
       |       CAST(sum(n_sessions) AS BIGINT) AS n_sessions,
       |       CAST(sum(n_converted) AS BIGINT) AS n_converted,
       |       CAST(sum(CASE WHEN n_converted > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_converted,
       |       ${Det.rndSql("CAST(sum(n_converted) AS DOUBLE) / sum(n_sessions)", 6)} AS session_cvr,
       |       ${Det.rndSql("CAST(sum(CASE WHEN n_converted > 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS user_cvr
       |FROM pu""".stripMargin

  private val HillK = 100 // tail order statistics used by the estimator

  /** Hill tail-index estimator over order totals — the heavy-tail
    * diagnostic for money distributions (α̂ ≤ 2 means infinite
    * variance and every mean-based report is fragile):
    * α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top [[HillK]] order
    * statistics. The top-(k+1) cut is a TakeOrdered ([[HillK]]+1
    * rows — never a global sort); logs run over exact integer cents
    * ratios and the estimator is one fenced expression. Pairs with
    * [[TextQueries.zipfFit]] (term frequencies) on the money axis. */
  def hillTail(spark: SparkSession, dir: String): DataFrame =
    hillTailOf(Tables(spark, dir, "orders"))

  private[graft] def hillTailOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = orders.select(Det.cents(col("o_totalprice")).as("c"))
      .orderBy(desc("c")).limit(HillK + 1)
    val w = Window.orderBy(desc("c"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    top
      .withColumn("xk1", min("c").over(w))
      .filter(col("c") > col("xk1"))
      .agg(count(lit(1)).as("k"),
        sum(log(col("c").cast("double") / col("xk1"))).as("lsum"),
        max("xk1").as("xk1c"))
      .select(col("k"),
        (col("xk1c").cast("double") / 100.0).as("threshold"),
        Det.rnd(col("k").cast("double") / col("lsum"), 4).as("alpha_hat"),
        Det.rnd(lit(1.0) + col("k").cast("double") / col("lsum"), 4)
          .as("pareto_shape"))
  }

  val hillTailSql: String =
    s"""WITH top AS (
       |  SELECT ${Det.centsSql("o_totalprice")} AS c
       |  FROM orders ORDER BY c DESC LIMIT ${HillK + 1}),
       |m AS (SELECT c, min(c) OVER () AS xk1 FROM top)
       |SELECT count(*) AS k,
       |       CAST(max(xk1) AS DOUBLE) / 100.0 AS threshold,
       |       ${Det.rndSql("CAST(count(*) AS DOUBLE) / sum(ln(CAST(c AS DOUBLE) / xk1))", 4)} AS alpha_hat,
       |       ${Det.rndSql("1.0 + CAST(count(*) AS DOUBLE) / sum(ln(CAST(c AS DOUBLE) / xk1))", 4)} AS pareto_shape
       |FROM m WHERE c > xk1""".stripMargin

  /** Shewhart SPC control chart over the daily purchase totals: the
    * mean ± 3σ control limits (σ from the day histogram's exact
    * integer power sums) and every day's position — in-control, above
    * UCL, or below LCL — plus the out-of-control census. The
    * monitoring tier BEFORE CUSUM: Shewhart catches big single-day
    * excursions instantly, CUSUM accumulates small sustained shifts
    * ([[cusumChangepoint]]); a monitoring stack runs both off the
    * SAME mergeable daily state. Calendar-bounded relation, fixed
    * double expressions, 2dp-fenced limits. */
  def spcChart(spark: SparkSession, dir: String): DataFrame =
    spcChartOf(Tables(spark, dir, "events"))

  private[graft] def spcChartOf(events: DataFrame): DataFrame =
    spcFinish(cusumDailyFrom(events))

  /** The vocabulary-sized SPC finish over the mergeable daily
    * histogram — shared with the streaming twin
    * ([[graft.streaming.StreamJobs.spcStream]]), which feeds it the
    * SAME state relation the CUSUM/trailing/EWMA monitors read. */
  private[graft] def spcFinish(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum("x").over(wAll))
      .withColumn("q", sum(col("x") * col("x")).over(wAll))
      .withColumn("mu", expr("CAST(s AS DOUBLE) / n"))
      .withColumn("sd", expr(
        "sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))"))
      .select(col("day"),
        (col("x").cast("double") / 100.0).as("total"),
        Det.rnd((col("mu") - col("sd") * 3.0) / 100.0, 2).as("lcl"),
        Det.rnd((col("mu") + col("sd") * 3.0) / 100.0, 2).as("ucl"),
        when(col("x") > col("mu") + col("sd") * 3.0, lit("above"))
          .when(col("x") < col("mu") - col("sd") * 3.0, lit("below"))
          .otherwise(lit("in")).as("signal"))
      .orderBy("day")
  }

  val spcChartSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(sum(${Det.centsSql("value")}) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |m AS (
       |  SELECT day, x,
       |         CAST(sum(x) OVER () AS DOUBLE) / count(*) OVER () AS mu,
       |         sqrt((CAST(sum(x * x) OVER () AS DOUBLE)
       |               - CAST(sum(x) OVER () AS DOUBLE) * sum(x) OVER () / count(*) OVER ())
       |              / (count(*) OVER () - 1)) AS sd
       |  FROM daily)
       |SELECT day, CAST(x AS DOUBLE) / 100.0 AS total,
       |       ${Det.rndSql("(mu - 3.0 * sd) / 100.0", 2)} AS lcl,
       |       ${Det.rndSql("(mu + 3.0 * sd) / 100.0", 2)} AS ucl,
       |       CASE WHEN x > mu + 3.0 * sd THEN 'above'
       |            WHEN x < mu - 3.0 * sd THEN 'below'
       |            ELSE 'in' END AS signal
       |FROM m ORDER BY day""".stripMargin

  private val QuotaPerDay = 10L

  /** Rate-limit / quota-admission simulation: admit at most
    * [[QuotaPerDay]] events per (user, day) in arrival order, count
    * the rejected overflow — the capacity-policy dry-run an API team
    * queries before turning a limiter on (who gets throttled, how
    * much traffic drops). Admission rank is a (user, day)-partitioned
    * row_number over (tus, event_id) — bounded windows, exact
    * integers; emits the per-user-day overflow census aggregated per
    * day. */
  def quotaAdmission(spark: SparkSession, dir: String): DataFrame =
    quotaAdmissionOf(Tables(spark, dir, "events"))

  private[graft] def quotaAdmissionOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "day").orderBy("tus", "event_id")
    events
      .select(col("user_id"), col("event_id"),
        to_date(col("ts")).as("day"), unix_micros(col("ts")).as("tus"))
      .withColumn("rk", row_number().over(w))
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("rk") > QuotaPerDay, 1L).otherwise(0L)).as("n_rejected"),
        countDistinct(when(col("rk") > QuotaPerDay, col("user_id")))
          .as("n_throttled_users"))
      .select(col("day"), col("n_events"), col("n_rejected"),
        col("n_throttled_users"),
        Det.rnd(col("n_rejected").cast("double") / col("n_events"), 6)
          .as("drop_rate"))
      .orderBy("day")
  }

  val quotaAdmissionSql: String =
    s"""WITH r AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day,
       |         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
       |           ORDER BY epoch_us(ts), event_id) AS rk
       |  FROM events)
       |SELECT day, count(*) AS n_events,
       |       CAST(sum(CASE WHEN rk > $QuotaPerDay THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
       |       count(DISTINCT CASE WHEN rk > $QuotaPerDay THEN user_id END) AS n_throttled_users,
       |       ${Det.rndSql(s"CAST(sum(CASE WHEN rk > $QuotaPerDay THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS drop_rate
       |FROM r GROUP BY day ORDER BY day""".stripMargin

  /** Distribution-free median confidence interval for order totals —
    * the order-statistic CI (no bootstrap, no normality): the 95%
    * bounds are the values at ranks ⌊(n − z√n)/2⌋ and ⌈1 + (n + z√n)/2⌉
    * (z = 1.959964 pinned). All three rank picks run off the
    * distinct-value cents histogram with prefix counts (the
    * [[giniConcentration]] technique — no global row sort; a tie run
    * holding a target rank yields that value exactly). */
  def medianCi(spark: SparkSession, dir: String): DataFrame =
    medianCiOf(Tables(spark, dir, "orders"))

  private[graft] def medianCiOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = orders.select(Det.cents(col("o_totalprice")).as("c"))
      .groupBy("c").agg(count(lit(1)).as("m"))
    val byVal = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = hist
      .withColumn("db", coalesce(sum("m").over(byVal), lit(0L)))
      .withColumn("n", sum("m").over(wAll))
      .withColumn("lo_r", expr("CAST(floor((n - 1.959964 * sqrt(n)) / 2.0) AS BIGINT)"))
      .withColumn("md_r", expr("(n + 1) div 2"))
      .withColumn("hi_r", expr("CAST(ceil(1.0 + (n + 1.959964 * sqrt(n)) / 2.0) AS BIGINT)"))
    def pick(r: String, name: String) =
      max(when(col("db") < col(r) && col(r) <= col("db") + col("m"), col("c")))
        .as(name)
    ranked.agg(max("n").as("n_orders"),
        pick("lo_r", "lo_c"), pick("md_r", "md_c"), pick("hi_r", "hi_c"))
      .select(col("n_orders"),
        (col("md_c").cast("double") / 100.0).as("median"),
        (col("lo_c").cast("double") / 100.0).as("ci_lo"),
        (col("hi_c").cast("double") / 100.0).as("ci_hi"))
  }

  val medianCiSql: String =
    s"""WITH hist AS (
       |  SELECT ${Det.centsSql("o_totalprice")} AS c, count(*) AS m
       |  FROM orders GROUP BY 1),
       |r AS (
       |  SELECT c, m,
       |         coalesce(sum(m) OVER (ORDER BY c
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS db,
       |         sum(m) OVER () AS n
       |  FROM hist),
       |k AS (
       |  SELECT c, m, db, n,
       |         CAST(floor((n - 1.959964 * sqrt(n)) / 2.0) AS BIGINT) AS lo_r,
       |         (n + 1) // 2 AS md_r,
       |         CAST(ceil(1.0 + (n + 1.959964 * sqrt(n)) / 2.0) AS BIGINT) AS hi_r
       |  FROM r)
       |SELECT CAST(max(n) AS BIGINT) AS n_orders,
       |       CAST(max(CASE WHEN db < md_r AND md_r <= db + m THEN c END) AS DOUBLE) / 100.0 AS median,
       |       CAST(max(CASE WHEN db < lo_r AND lo_r <= db + m THEN c END) AS DOUBLE) / 100.0 AS ci_lo,
       |       CAST(max(CASE WHEN db < hi_r AND hi_r <= db + m THEN c END) AS DOUBLE) / 100.0 AS ci_hi
       |FROM k""".stripMargin

  /** Minimum-detectable-effect planning for the user-level purchase
    * metric: given the realized per-user variance and group sizes,
    * the effect size a two-sample z-test resolves at α=0.05 /
    * 80% power — MDE = (z_{α/2}+z_β)·σ·√(1/n_a+1/n_b) with the
    * standard constants 1.959964 and 0.841621 pinned as literals (no
    * engine-specific inverse-normal). The "how long must this test
    * run" input every experiment review asks for; variance from exact
    * integer power sums, result as fixed double expressions. */
  def mdePower(spark: SparkSession, dir: String): DataFrame =
    mdePowerOf(Tables(spark, dir, "events"))

  private[graft] def mdePowerOf(events: DataFrame): DataFrame = {
    val per = events.groupBy("user_id")
      .agg(max(col("user_id") % 2).as("g"),
        sum(when(col("event_type") === "purchase", Det.cents(col("value")))
          .otherwise(0L)).as("c"))
    per.agg(
      count(lit(1)).as("n"),
      sum(when(col("g") === 0, 1L).otherwise(0L)).as("na"),
      sum("c").as("s"), sum(col("c") * col("c")).as("q"))
      .select(col("na").as("n_a"), (col("n") - col("na")).as("n_b"),
        Det.rnd(expr(
          "sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) / 100.0"), 4)
          .as("sigma"),
        Det.rnd(expr(
          "(1.959964 + 0.841621) * sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))" +
            " * sqrt(1.0 / na + 1.0 / (n - na)) / 100.0"), 4).as("mde_abs"),
        Det.rnd(expr(
          "(1.959964 + 0.841621) * sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))" +
            " * sqrt(1.0 / na + 1.0 / (n - na)) / (CAST(s AS DOUBLE) / n)"), 6)
          .as("mde_rel"))
  }

  val mdePowerSql: String =
    s"""WITH per AS (
       |  SELECT user_id, max(user_id % 2) AS g,
       |         CAST(sum(CASE WHEN event_type = 'purchase'
       |                       THEN ${Det.centsSql("value")} ELSE 0 END) AS BIGINT) AS c
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |         CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
       |  FROM per)
       |SELECT na AS n_a, CAST(n - na AS BIGINT) AS n_b,
       |       ${Det.rndSql("sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) / 100.0", 4)} AS sigma,
       |       ${Det.rndSql("(1.959964 + 0.841621) * sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) * sqrt(1.0 / na + 1.0 / (n - na)) / 100.0", 4)} AS mde_abs,
       |       ${Det.rndSql("(1.959964 + 0.841621) * sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) * sqrt(1.0 / na + 1.0 / (n - na)) / (CAST(s AS DOUBLE) / n)", 6)} AS mde_rel
       |FROM m""".stripMargin

  /** Mann–Kendall trend test on the daily purchase totals — the
    * distribution-free significance companion to [[theilSen]]'s slope
    * (same pairwise structure, same calendar-bounded day histogram):
    * S = Σ_{i<j} sign(x_j − x_i) over time-ordered days, tie-corrected
    * variance 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), and the
    * continuity-corrected z — S and the variance numerator are exact
    * BIGINTs, z is one fixed double expression. Pair fan-out is
    * calendar², never data². */
  def mannKendall(spark: SparkSession, dir: String): DataFrame =
    mannKendallOf(Tables(spark, dir, "events"))

  private[graft] def mannKendallOf(events: DataFrame): DataFrame = {
    val daily = cusumDailyFrom(events)
      .select(col("day"), col("x"))
    val a = daily.select(col("day").as("d1"), col("x").as("x1"))
    val b = daily.select(col("day").as("d2"), col("x").as("x2"))
    val pairs = a.join(b, col("d1") < col("d2"))
      .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s_stat"))
    val ties = daily.groupBy("x").agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_corr"))
    val n = daily.agg(count(lit(1)).as("n"))
    pairs.crossJoin(broadcast(ties)).crossJoin(broadcast(n))
      .withColumn("var18",
        col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tie_corr"))
      .select(col("n").as("n_days"), col("s_stat"), col("var18"),
        Det.rnd(expr(
          "CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0) " +
            "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0) " +
            "ELSE 0.0 END"), 4).as("z"),
        Det.rnd(col("s_stat").cast("double") /
          (col("n").cast("double") * (col("n") - 1) / 2.0), 6).as("tau"))
  }

  val mannKendallSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(sum(${Det.centsSql("value")}) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |p AS (
       |  SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
       |  FROM daily a JOIN daily b ON a.day < b.day),
       |ties AS (
       |  SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_corr
       |  FROM (SELECT count(*) AS t FROM daily GROUP BY x)),
       |nn AS (SELECT count(*) AS n FROM daily)
       |SELECT n AS n_days, s_stat,
       |       CAST(n * (n - 1) * (2 * n + 5) - tie_corr AS BIGINT) AS var18,
       |       ${Det.rndSql("CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt((n * (n - 1) * (2 * n + 5) - tie_corr) / 18.0) WHEN s_stat < 0 THEN (s_stat + 1) / sqrt((n * (n - 1) * (2 * n + 5) - tie_corr) / 18.0) ELSE 0.0 END", 4)} AS z,
       |       ${Det.rndSql("CAST(s_stat AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1) / 2.0)", 6)} AS tau
       |FROM p CROSS JOIN ties CROSS JOIN nn""".stripMargin

  private val StudyWindowUs = 86400L * 1000000L // ±24 h

  /** Event study — per-error pre/post purchase impact: for every
    * `error` event, the same user's purchase cents in the 24 h BEFORE
    * vs the 24 h AFTER, aggregated to the mean before/after and their
    * delta — the simplest defensible "did the incident move revenue"
    * read (each error is its own control). Errors with no nearby
    * purchases stay in the denominator (a left join — dropping them
    * biases the delta toward active users). The pair relation is a
    * same-user equi-join filtered to the ±window, so fan-out is
    * per-user activity², user-bounded — never a cross join. */
  def eventStudy(spark: SparkSession, dir: String): DataFrame =
    eventStudyOf(Tables(spark, dir, "events"))

  private[graft] def eventStudyOf(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("tus"), Det.cents(col("value")).as("cents"))
    val err = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("tus"))
    val pur = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tus").as("ptus"), col("cents"))
    val near = err.join(pur, Seq("user_id"), "left")
      .withColumn("pre", when(col("ptus") >= col("tus") - StudyWindowUs &&
        col("ptus") < col("tus"), col("cents")).otherwise(0L))
      .withColumn("post", when(col("ptus") > col("tus") &&
        col("ptus") <= col("tus") + StudyWindowUs, col("cents")).otherwise(0L))
      .groupBy("user_id", "event_id")
      .agg(sum("pre").as("pre"), sum("post").as("post"))
    near.agg(
      count(lit(1)).as("n_errors"),
      sum(when(col("pre") > 0 || col("post") > 0, 1L).otherwise(0L))
        .as("n_with_activity"),
      sum(coalesce(col("pre"), lit(0L))).as("sp"),
      sum(coalesce(col("post"), lit(0L))).as("so"))
      .select(col("n_errors"), col("n_with_activity"),
        Det.rnd(col("sp").cast("double") / (col("n_errors") * 100.0), 4)
          .as("mean_pre"),
        Det.rnd(col("so").cast("double") / (col("n_errors") * 100.0), 4)
          .as("mean_post"),
        Det.rnd((col("so") - col("sp")).cast("double") /
          (col("n_errors") * 100.0), 4).as("mean_delta"))
  }

  val eventStudySql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
       |         ${Det.centsSql("value")} AS cents
       |  FROM events),
       |err AS (SELECT user_id, event_id, tus FROM e WHERE event_type = 'error'),
       |pur AS (SELECT user_id, tus AS ptus, cents FROM e WHERE event_type = 'purchase'),
       |per AS (
       |  SELECT err.user_id, err.event_id,
       |         CAST(sum(CASE WHEN ptus >= err.tus - $StudyWindowUs AND ptus < err.tus
       |                       THEN cents ELSE 0 END) AS BIGINT) AS pre,
       |         CAST(sum(CASE WHEN ptus > err.tus AND ptus <= err.tus + $StudyWindowUs
       |                       THEN cents ELSE 0 END) AS BIGINT) AS post
       |  FROM err LEFT JOIN pur ON pur.user_id = err.user_id
       |  GROUP BY 1, 2)
       |SELECT count(*) AS n_errors,
       |       CAST(sum(CASE WHEN pre > 0 OR post > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_activity,
       |       ${Det.rndSql("CAST(sum(coalesce(pre, 0)) AS DOUBLE) / (count(*) * 100.0)", 4)} AS mean_pre,
       |       ${Det.rndSql("CAST(sum(coalesce(post, 0)) AS DOUBLE) / (count(*) * 100.0)", 4)} AS mean_post,
       |       ${Det.rndSql("CAST(sum(coalesce(post, 0)) - sum(coalesce(pre, 0)) AS DOUBLE) / (count(*) * 100.0)", 4)} AS mean_delta
       |FROM per""".stripMargin

  /** TPC-H Q10 shape — returned-item revenue ranking: the top-20
    * customers by revenue lost to returns (l_returnflag = 'R'),
    * through the lineitem⋈orders⋈customer⋈nation chain with the
    * return filter pushed into the fact scan. Exact integer
    * ten-thousandths for extprice·(1−disc); broadcast dims; the
    * ranking is a TakeOrdered top-k, never a global sort. */
  def returnedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables(spark, dir, "lineitem")
    val orders = Tables(spark, dir, "orders")
    val customer = Tables(spark, dir, "customer")
    val nation = Tables(spark, dir, "nation")
    lineitem.filter(col("l_returnflag") === "R")
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))")).as("units"),
        count(lit(1)).as("n_items"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("n_items"),
        (expr("(units + 50) div 100").cast("double") / 100.0).as("revenue"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  val returnedRevenueSql: String =
    """SELECT c_custkey, c_name, n_name, count(*) AS n_items,
      |       CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) // 100 AS DOUBLE)
      |         / 100.0 AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  val reconciliationSql: String =
    s"""WITH lines AS (
       |  SELECT l_orderkey AS okey,
       |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
       |               * (100 - CAST(round(l_discount * 100) AS BIGINT))
       |               * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS BIGINT) AS line_units
       |  FROM lineitem GROUP BY 1),
       |j AS (
       |  SELECT o_orderstatus, line_units,
       |         abs(coalesce(line_units, 0) - ${Det.centsSql("o_totalprice")} * 10000) AS diff
       |  FROM orders LEFT JOIN lines ON o_orderkey = okey)
       |SELECT o_orderstatus, count(*) AS n_orders,
       |       CAST(sum(CASE WHEN diff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_balanced,
       |       CAST(sum(CASE WHEN line_units IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lineless,
       |       CAST(max(diff) AS DOUBLE) / 1000000.0 AS max_drift,
       |       CAST(sum(diff) AS DOUBLE) / 1000000.0 AS total_drift
       |FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin


  /** Per-nation OLS revenue trend: regress monthly order revenue on
    * the month index (closed-form least squares) — slope,
    * intercept, and R² per nation, the "is this market growing"
    * readout.
    *
    * Scale shape: the fact chain aggregates to a (nation × month)
    * relation FIRST (one shuffled groupBy over the
    * orders⨝customer⨝nation join, nation broadcast), then the five
    * regression sums (n, Σx, Σy, Σxy, Σx², Σy²) reduce that tiny
    * relation — the closed form never sees row-grain data. All sums
    * are exact integers (x = month index, y = revenue cents) carried
    * in decimal(38,0) because Σy² at 100 TB exceeds long range; the
    * three ratios go double only at the end, rounded 6dp. The month
    * origin is the data's own min month — computed as a 1-row
    * broadcast, not a driver collect. */
  def olsTrend(spark: SparkSession, dir: String): DataFrame =
    olsTrendOf(Tables(spark, dir, "orders"), Tables(spark, dir, "customer"),
      Tables(spark, dir, "nation"))

  private[graft] def olsTrendOf(
      orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val origin = orders.agg(
      min(year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .as("m0"))
    val monthly = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .crossJoin(broadcast(origin))
      .groupBy(col("n_name"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1
          - col("m0")).cast("long").as("x"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("y"))
    val d = "decimal(38,0)"
    monthly.groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y").cast(d)).as("sy"),
        sum((col("x") * col("y")).cast(d)).as("sxy"),
        sum((col("x") * col("x")).cast(d)).as("sxx"),
        sum((col("y").cast(d) * col("y").cast(d))).as("syy"))
      .select(col("n_name"), col("n"),
        Det.rnd((col("n").cast(d) * col("sxy") - col("sx").cast(d) * col("sy"))
          .cast("double")
          / (col("n").cast(d) * col("sxx") - col("sx").cast(d) * col("sx"))
            .cast("double") / 100.0, 6).as("slope"),
        Det.rnd(((col("sy").cast("double")
          - ((col("n").cast(d) * col("sxy") - col("sx").cast(d) * col("sy"))
            .cast("double")
            / (col("n").cast(d) * col("sxx") - col("sx").cast(d) * col("sx"))
              .cast("double")) * col("sx").cast("double"))
          / col("n") / 100.0), 6).as("intercept"),
        Det.rnd(
          ((col("n").cast(d) * col("sxy") - col("sx").cast(d) * col("sy"))
            .cast("double")
            * (col("n").cast(d) * col("sxy") - col("sx").cast(d) * col("sy"))
              .cast("double"))
          / ((col("n").cast(d) * col("sxx") - col("sx").cast(d) * col("sx"))
              .cast("double")
            * (col("n").cast(d) * col("syy") - col("sy") * col("sy"))
              .cast("double")), 6).as("r2"))
      .orderBy("n_name")
  }

  val olsTrendSql: String =
    s"""WITH o0 AS (SELECT min(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS m0
       |            FROM orders),
       |m AS (SELECT n_name,
       |             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 - m0 AS BIGINT) AS x,
       |             CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS y
       |      FROM orders JOIN customer ON o_custkey = c_custkey
       |      JOIN nation ON c_nationkey = n_nationkey
       |      CROSS JOIN o0
       |      GROUP BY 1, 2),
       |s AS (SELECT n_name, count(*) AS n,
       |             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |             sum(CAST(x AS HUGEINT) * y) AS sxy,
       |             sum(CAST(x AS HUGEINT) * x) AS sxx,
       |             sum(CAST(y AS HUGEINT) * y) AS syy
       |      FROM m GROUP BY 1)
       |SELECT n_name, n,
       |       ${Det.rndSql(
              "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0",
              6)} AS slope,
       |       ${Det.rndSql(
              "(CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)" +
                " / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) / n / 100.0",
              6)} AS intercept,
       |       ${Det.rndSql(
              "CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)" +
                " / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))",
              6)} AS r2
       |FROM s ORDER BY n_name""".stripMargin


  /** CDC SNAPSHOT DIFF: compare two point-in-time "active customer"
    * snapshots (each customer's latest order priority within a
    * two-year activity window ending at the snapshot date) and emit
    * added / removed / changed rows — the change-data-capture diff an
    * incremental warehouse load computes between consecutive loads
    * ([[snapshotDiff]] diffs COUNT churn per user in one pass over one
    * table; this diffs ATTRIBUTE states with old/new values, the
    * keyed-merge shape).
    *
    * Scale shape: each snapshot is one per-customer window top-1
    * (row_number over (custkey, date DESC, orderkey DESC)) over a
    * date-pruned scan — the predicate reaches parquet row-group
    * min/max stats, so each snapshot reads only its two-year slice.
    * The diff is a single full-outer join on custkey (both sides
    * already hash-partitioned on it by their windows — AQE reuses the
    * exchange). `unchanged` rows are dropped before the join output
    * is materialized. Ties are pinned by orderkey, so "latest" is
    * engine-independent. */
  def cdcDiff(spark: SparkSession, dir: String): DataFrame =
    cdcDiffOf(Tables(spark, dir, "orders"))

  private[graft] def cdcDiffOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def snap(from: String, to: String) = {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_orderdate"), desc("o_orderkey"))
      orders
        .filter(col("o_orderdate") > lit(from).cast("timestamp") &&
          col("o_orderdate") <= lit(to).cast("timestamp"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey").as("custkey"),
          col("o_orderpriority").as("priority"),
          col("o_orderdate").as("as_of"))
    }
    val s1 = snap("1996-01-01", "1998-01-01")
    val s2 = snap("1998-01-01", "2000-01-01")
    s1.as("a").join(s2.as("b"), Seq("custkey"), "full_outer")
      .select(col("custkey"),
        when(col("a.priority").isNull, "added")
          .when(col("b.priority").isNull, "removed")
          .when(col("a.priority") =!= col("b.priority"), "changed")
          .otherwise("unchanged").as("change_type"),
        col("a.priority").as("old_priority"),
        col("b.priority").as("new_priority"))
      .filter(col("change_type") =!= "unchanged")
      .orderBy("change_type", "custkey")
  }

  val cdcDiffSql: String =
    """WITH s1 AS (
      |  SELECT o_custkey AS custkey, o_orderpriority AS priority
      |  FROM (SELECT *, row_number() OVER
      |          (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |        FROM orders
      |        WHERE o_orderdate > TIMESTAMP '1996-01-01'
      |          AND o_orderdate <= TIMESTAMP '1998-01-01')
      |  WHERE rn = 1),
      |s2 AS (
      |  SELECT o_custkey AS custkey, o_orderpriority AS priority
      |  FROM (SELECT *, row_number() OVER
      |          (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |        FROM orders
      |        WHERE o_orderdate > TIMESTAMP '1998-01-01'
      |          AND o_orderdate <= TIMESTAMP '2000-01-01')
      |  WHERE rn = 1),
      |d AS (
      |  SELECT coalesce(s1.custkey, s2.custkey) AS custkey,
      |         CASE WHEN s1.priority IS NULL THEN 'added'
      |              WHEN s2.priority IS NULL THEN 'removed'
      |              WHEN s1.priority <> s2.priority THEN 'changed'
      |              ELSE 'unchanged' END AS change_type,
      |         s1.priority AS old_priority, s2.priority AS new_priority
      |  FROM s1 FULL OUTER JOIN s2 ON s1.custkey = s2.custkey)
      |SELECT * FROM d WHERE change_type <> 'unchanged'
      |ORDER BY change_type, custkey""".stripMargin

  /** L-DIVERSITY audit — the sensitive-attribute companion of
    * [[kAnonymity]]: the same quasi-identifier classes (nation ×
    * segment × balance band), but instead of class SIZE it measures
    * how many DISTINCT sensitive values (the customer's order
    * priorities) each class contains. A class can be k-anonymous yet
    * 1-diverse — every member shares the same sensitive value, so the
    * "anonymized" release still discloses it; this is the audit that
    * catches exactly that.
    *
    * Scale shape: one join of orders onto the customer
    * quasi-identifier projection (shuffles on custkey — the key both
    * relations already cluster by), one distinct-collapse to (class,
    * sensitive), then histogram space: rows = distinct l values, a
    * handful. Pure integer counts; one fenced share. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame =
    lDiversityOf(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"))

  private[graft] def lDiversityOf(
      customer: DataFrame, orders: DataFrame): DataFrame = {
    val classes = customer.select(col("c_custkey"),
      col("c_nationkey"), col("c_mktsegment"),
      (Det.cents(col("c_acctbal")).cast("double") / 50000.0)
        .cast("long").as("bal_band"))
    val lPerClass = classes
      .join(orders.select(col("o_custkey"), col("o_orderpriority")),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_band"),
        col("o_orderpriority")).distinct()
      .groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("l"))
    lPerClass.agg(
        count(lit(1)).as("n_classes"),
        min("l").as("min_l"),
        sum(when(col("l") < 2, 1L).otherwise(0L)).as("classes_lt_2"),
        sum(when(col("l") < 3, 1L).otherwise(0L)).as("classes_lt_3"))
      .select(col("n_classes"), col("min_l"), col("classes_lt_2"),
        col("classes_lt_3"),
        Det.rnd(col("classes_lt_3").cast("double") / col("n_classes"), 6)
          .as("share_lt_3"))
  }

  val lDiversitySql: String =
    s"""WITH cls AS (
       |  SELECT c_custkey, c_nationkey, c_mktsegment,
       |         ${Det.centsSql("c_acctbal")} // 50000 AS bal_band
       |  FROM customer),
       |lv AS (
       |  SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS l
       |  FROM (SELECT DISTINCT c_nationkey, c_mktsegment, bal_band, o_orderpriority
       |        FROM cls JOIN orders ON o_custkey = c_custkey)
       |  GROUP BY 1, 2, 3)
       |SELECT count(*) AS n_classes,
       |       CAST(min(l) AS BIGINT) AS min_l,
       |       CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT) AS classes_lt_2,
       |       CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS classes_lt_3,
       |       ${Det.rndSql(
            "CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)}
       |         AS share_lt_3
       |FROM lv""".stripMargin

  /** TIME-WEIGHTED AVERAGE (TWAP) of the event value per event type —
    * each value weighted by how long it was "current" (micros until
    * the type's next event), the state-duration mean a metrics/IoT
    * pipeline reports instead of the event-count mean when arrival
    * rates vary ([[timeDecay]] weights by recency half-life; this
    * weights by holding DURATION — different measure, different
    * failure mode caught).
    *
    * Scale shape: one lead() window per event type (partitioned on
    * the shuffle key), then exact integer reduction — value cents ×
    * duration micros products ride decimal(38,0) (cents·micros
    * overflows long at ~10⁶ rows — the 100 TB case, so the wide type
    * is load-bearing, not defensive). The last event per type has no
    * successor and carries zero weight in BOTH engines (no NULL
    * algebra: the lead is coalesced to itself). */
  def twap(spark: SparkSession, dir: String): DataFrame =
    twapOf(Tables(spark, dir, "events"))

  private[graft] def twapOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("tus", "event_id")
    val d = "decimal(38,0)"
    events
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tus"), Det.cents(col("value")).as("c"))
      .withColumn("dur", coalesce(lead("tus", 1).over(w), col("tus")) - col("tus"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("dur")).as("held_us"),
        sum((col("c").cast(d) * col("dur").cast(d))).as("wsum"),
        sum("c").as("csum"))
      .select(col("event_type"), col("n_events"),
        col("held_us"),
        Det.rnd(col("wsum").cast("double")
          / (col("held_us").cast("double") * 100.0), 6).as("twap"),
        Det.rnd(col("csum").cast("double") / (col("n_events") * 100.0), 6)
          .as("plain_mean"))
      .orderBy("event_type")
  }

  val twapSql: String =
    s"""WITH e AS (
       |  SELECT event_type, event_id, epoch_us(ts) AS tus,
       |         ${Det.centsSql("value")} AS c
       |  FROM events),
       |d AS (
       |  SELECT event_type, c,
       |         coalesce(lead(tus) OVER (PARTITION BY event_type
       |                                  ORDER BY tus, event_id), tus) - tus AS dur
       |  FROM e),
       |a AS (
       |  SELECT event_type, count(*) AS n_events,
       |         CAST(sum(dur) AS BIGINT) AS held_us,
       |         sum(CAST(c AS HUGEINT) * dur) AS wsum,
       |         CAST(sum(c) AS BIGINT) AS csum
       |  FROM d GROUP BY 1)
       |SELECT event_type, n_events, held_us,
       |       ${Det.rndSql("CAST(wsum AS DOUBLE) / (CAST(held_us AS DOUBLE) * 100.0)", 6)}
       |         AS twap,
       |       ${Det.rndSql("CAST(csum AS DOUBLE) / (n_events * 100.0)", 6)} AS plain_mean
       |FROM a ORDER BY event_type""".stripMargin

  private val SprtP0 = 0.18
  private val SprtP1 = 0.22
  // ln(p₁/p₀) and ln(q₁/q₀) pinned as round-trip-exact double literals:
  // inline `ln(0.22 / 0.18)` parses 0.22 as DECIMAL in BOTH engines and
  // their decimal division rounds differently (observed 2e-6 skew)
  private val SprtLn1 = "0.20067069546215124"
  private val SprtLn0 = "-0.05001042057466142"
  // Wald boundaries at α = β = 0.05: ln((1−β)/α) = ln 19
  private val SprtBound = "2.9444389791664403"

  /** WALD SPRT — the sequential probability ratio test a live
    * experiment monitor runs INSTEAD of a fixed-horizon test: after
    * each day, the cumulative log-likelihood ratio of "purchase share
    * is [[SprtP1]]" vs "[[SprtP0]]" either crosses ±ln 19 (decide,
    * stop spending traffic) or continues. Emits the whole daily walk
    * so the crossing day — the test's entire point — is visible,
    * not just the end state. The fixed-horizon members of this family
    * ([[abTest]]-style z tests, [[mdePower]]) answer "significant at
    * n?"; SPRT answers "how early could we have stopped".
    *
    * Scale shape: one scan into a day histogram (date-range-bounded),
    * prefix sums over that histogram — the established
    * single-partition calendar-finish family. LLR = K·ln(p₁/p₀) +
    * (N−K)·ln(q₁/q₀) over exact integer K, N with two engine-computed
    * ln constants of identical double literals; the boundary constant
    * is pinned as a round-trip-exact literal. */
  def sprt(spark: SparkSession, dir: String): DataFrame =
    sprtOf(Tables(spark, dir, "events"))

  private[graft] def sprtOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(expr("unix_timestamp(ts) div 86400").as("d"),
        (col("event_type") === "purchase").cast("long").as("k"))
      .groupBy("d").agg(count(lit(1)).as("n"), sum("k").as("k"))
    val d0 = daily.agg(min("d").as("d0"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    daily.crossJoin(broadcast(d0))
      .select((col("d") - col("d0")).as("day"), col("n"), col("k"))
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_k", sum("k").over(w))
      .withColumn("llr", expr(
        s"cum_k * $SprtLn1 + (cum_n - cum_k) * $SprtLn0"))
      .select(col("day"), col("cum_n"), col("cum_k"),
        Det.rnd(col("llr"), 6).as("llr"),
        when(col("llr") >= expr(SprtBound), "accept_h1")
          .when(col("llr") <= expr(s"-$SprtBound"), "accept_h0")
          .otherwise("continue").as("decision"))
      .orderBy("day")
  }

  val sprtSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(ts) // 86400000000 AS d, count(*) AS n,
       |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM events GROUP BY 1),
       |d0 AS (SELECT min(d) AS d0 FROM daily),
       |c AS (
       |  SELECT d - d0 AS day, n, k,
       |         sum(n) OVER w AS cum_n, sum(k) OVER w AS cum_k
       |  FROM daily CROSS JOIN d0
       |  WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |l AS (
       |  SELECT day, CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_k AS BIGINT) AS cum_k,
       |         cum_k * $SprtLn1 + (cum_n - cum_k) * $SprtLn0 AS llr
       |  FROM c)
       |SELECT day, cum_n, cum_k, ${Det.rndSql("llr", 6)} AS llr,
       |       CASE WHEN llr >= $SprtBound THEN 'accept_h1'
       |            WHEN llr <= -$SprtBound THEN 'accept_h0'
       |            ELSE 'continue' END AS decision
       |FROM l ORDER BY day""".stripMargin

  /** FOREIGN-KEY DISCOVERY by inclusion-dependency profiling: for a
    * candidate list of (child, parent) column pairs, the fraction of
    * distinct child values contained in the parent's key set —
    * containment 1.0 flags an FK candidate, the schema-inference
    * step a catalog crawler runs on undocumented data
    * ([[refIntegrity]] AUDITS declared FKs row-by-row; this
    * DISCOVERS them, including rejecting non-keys: the reversed pair
    * and a deliberately absurd pair ship as controls).
    *
    * Scale shape: per pair, one distinct-collapse of the child column
    * (the only corpus-sized shuffle) and one LEFT SEMI join against
    * the parent's distinct keys — first match short-circuits, output
    * is 1 row per pair. Pairs run as independent branches of one
    * union — at 1000 executors they schedule concurrently. Pure
    * integer counts; one fenced ratio. */
  def fkDiscovery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
    val p = Tables(spark, dir, "part")
    val su = Tables(spark, dir, "supplier")
    val c = Tables(spark, dir, "customer")
    fkDiscoveryOf(Seq(
      ("lineitem.l_orderkey", li.select(col("l_orderkey").as("v")),
        "orders.o_orderkey", o.select(col("o_orderkey").as("v"))),
      ("lineitem.l_partkey", li.select(col("l_partkey").as("v")),
        "part.p_partkey", p.select(col("p_partkey").as("v"))),
      ("lineitem.l_suppkey", li.select(col("l_suppkey").as("v")),
        "supplier.s_suppkey", su.select(col("s_suppkey").as("v"))),
      ("orders.o_custkey", o.select(col("o_custkey").as("v")),
        "customer.c_custkey", c.select(col("c_custkey").as("v"))),
      // control: reversed direction is NOT an inclusion dependency
      ("orders.o_orderkey", o.select(col("o_orderkey").as("v")),
        "lineitem.l_orderkey", li.select(col("l_orderkey").as("v"))),
      // control: plausible-typed nonsense pair
      ("part.p_size", p.select(col("p_size").cast("long").as("v")),
        "supplier.s_suppkey", su.select(col("s_suppkey").as("v")))))
  }

  private[graft] def fkDiscoveryOf(
      pairs: Seq[(String, DataFrame, String, DataFrame)]): DataFrame =
    pairs.map { case (childName, child, parentName, parent) =>
      // one pass: left-join the child's distinct values against the
      // parent's key set and count matches conditionally — the child
      // relation is distinct-collapsed exactly once
      child.distinct()
        .join(parent.distinct().withColumn("hit", lit(1L)), Seq("v"), "left")
        .agg(count(lit(1)).as("n_child_distinct"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contained"))
        .select(lit(childName).as("child"), lit(parentName).as("parent"),
          col("n_child_distinct"), col("n_contained"),
          Det.rnd(col("n_contained").cast("double") / col("n_child_distinct"), 6)
            .as("containment"),
          (col("n_contained") === col("n_child_distinct")).as("fk_candidate"))
    }.reduce(_.union(_)).orderBy("child", "parent")

  val fkDiscoverySql: String = {
    def pair(childName: String, childCol: String, childTab: String,
             parentName: String, parentCol: String, parentTab: String): String =
      s"""SELECT '$childName' AS child, '$parentName' AS parent,
         |       (SELECT count(DISTINCT $childCol) FROM $childTab) AS n_child_distinct,
         |       (SELECT count(*) FROM
         |          (SELECT DISTINCT $childCol AS v FROM $childTab) cc
         |        WHERE v IN (SELECT $parentCol FROM $parentTab)) AS n_contained""".stripMargin
    val rows = Seq(
      pair("lineitem.l_orderkey", "l_orderkey", "lineitem",
        "orders.o_orderkey", "o_orderkey", "orders"),
      pair("lineitem.l_partkey", "l_partkey", "lineitem",
        "part.p_partkey", "p_partkey", "part"),
      pair("lineitem.l_suppkey", "l_suppkey", "lineitem",
        "supplier.s_suppkey", "s_suppkey", "supplier"),
      pair("orders.o_custkey", "o_custkey", "orders",
        "customer.c_custkey", "c_custkey", "customer"),
      pair("orders.o_orderkey", "o_orderkey", "orders",
        "lineitem.l_orderkey", "l_orderkey", "lineitem"),
      pair("part.p_size", "CAST(p_size AS BIGINT)", "part",
        "supplier.s_suppkey", "s_suppkey", "supplier")
    ).mkString("\nUNION ALL\n")
    s"""SELECT child, parent, n_child_distinct, n_contained,
       |       ${Det.rndSql("CAST(n_contained AS DOUBLE) / n_child_distinct", 6)}
       |         AS containment,
       |       n_contained = n_child_distinct AS fk_candidate
       |FROM ($rows)
       |ORDER BY child, parent""".stripMargin
  }

  private val IpfIters = 3
  private val IpfScale = 1000000L // weights in micro-units

  /** ITERATIVE PROPORTIONAL FITTING (raking) of the (lang × source)
    * contingency table to UNIFORM lang and source margins — the
    * survey-reweighting step a corpus owner runs to compute mixture
    * weights that equalize both axes at once ([[TextQueries]]'
    * mixture weights rebalance ONE axis; raking alternately scales
    * rows and columns until both margins hold).
    *
    * Scale shape: the corpus collapses to the contingency table in
    * one shuffle; [[IpfIters]] unrolled row/column half-steps run in
    * cell space (|langs|·|sources| rows). The iteration is EXACT
    * INTEGER arithmetic — weights in micro-units, each half-step
    * w' = w·T div S with truncating division (the [[pageRank]]
    * integer-ring pattern) — so both engines replay bit-identical
    * weights with no float-summation ambiguity anywhere. Output adds
    * the post-fit margin-gap audit in ppm. */
  def ipfRaking(spark: SparkSession, dir: String): DataFrame =
    ipfRakingOf(Tables(spark, dir, "documents"))

  private[graft] def ipfRakingOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .localCheckpoint() // contingency-table-sized; the whole fit lives here
    // loop literals (the pageRank precedent: scalars to the driver, rows
    // never): margin counts and the grand total
    val nl = cells.select("lang").distinct().count()
    val ns = cells.select("source").distinct().count()
    val tot = cells.agg(sum("n")).head.getLong(0)
    val tLang = tot * IpfScale / nl // truncating, same in the oracle
    val tSrc = tot * IpfScale / ns
    val wl = Window.partitionBy("lang")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ws = Window.partitionBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // integral `div` on decimal operands truncates toward zero in BOTH
    // engines (floor(decimal/decimal) would HALF_UP-round the scale-6
    // Spark quotient first and disagree near integer boundaries)
    val d = "decimal(38,0)"
    var w = cells.withColumn("w", lit(IpfScale))
    for (_ <- 1 to IpfIters) {
      w = w
        .withColumn("S", sum(col("n").cast(d) * col("w")).over(wl))
        .withColumn("w", expr(
          s"CAST(w AS DECIMAL(38,0)) * CAST($tLang AS DECIMAL(38,0)) div S"))
        .withColumn("S", sum(col("n").cast(d) * col("w")).over(ws))
        .withColumn("w", expr(
          s"CAST(w AS DECIMAL(38,0)) * CAST($tSrc AS DECIMAL(38,0)) div S"))
        .drop("S")
        .localCheckpoint() // keep the unroll linear, cell-bounded
    }
    w.withColumn("lang_sum", sum(col("n").cast(d) * col("w")).over(wl))
      .withColumn("src_sum", sum(col("n").cast(d) * col("w")).over(ws))
      .select(col("lang"), col("source"), col("n"), col("w"),
        expr(s"(lang_sum - $tLang) * 1000000 div CAST($tLang AS DECIMAL(38,0))")
          .as("lang_gap_ppm"),
        expr(s"(src_sum - $tSrc) * 1000000 div CAST($tSrc AS DECIMAL(38,0))")
          .as("src_gap_ppm"))
      .orderBy("lang", "source")
  }

  val ipfRakingSql: String = {
    val steps = (1 to IpfIters).map { k =>
      val prev = if (k == 1) "w0" else s"w${k - 1}b"
      s"""w${k}a AS (
         |  SELECT lang, source, n,
         |         (w * t_lang) // sum(CAST(n AS HUGEINT) * w) OVER (PARTITION BY lang) AS w
         |  FROM $prev CROSS JOIN t),
         |w${k}b AS (
         |  SELECT lang, source, n,
         |         (w * t_src) // sum(CAST(n AS HUGEINT) * w) OVER (PARTITION BY source) AS w
         |  FROM w${k}a CROSS JOIN t)""".stripMargin
    }.mkString(",\n")
    s"""WITH cells AS (SELECT lang, source, count(*) AS n
       |               FROM documents GROUP BY 1, 2),
       |t AS (SELECT (sum(n) * $IpfScale) // count(DISTINCT lang) AS t_lang,
       |             (sum(n) * $IpfScale) // count(DISTINCT source) AS t_src
       |      FROM cells),
       |w0 AS (SELECT lang, source, n, CAST($IpfScale AS HUGEINT) AS w FROM cells),
       |$steps
       |SELECT lang, source, n, CAST(w AS BIGINT) AS w,
       |       CAST((sum(CAST(n AS HUGEINT) * w) OVER (PARTITION BY lang) - t_lang)
       |            * 1000000 // t_lang AS BIGINT) AS lang_gap_ppm,
       |       CAST((sum(CAST(n AS HUGEINT) * w) OVER (PARTITION BY source) - t_src)
       |            * 1000000 // t_src AS BIGINT) AS src_gap_ppm
       |FROM w${IpfIters}b CROSS JOIN t
       |ORDER BY lang, source""".stripMargin
  }

  /** SPEARMAN RANK CORRELATION between order quantity and discount —
    * the robust (monotone-invariant) complement of the Pearson
    * surface ([[graft.queries.RecommenderQueries]]' user similarity):
    * ranks replace values, so outliers and nonlinear-but-monotone
    * relationships don't distort the coefficient.
    *
    * Scale shape: NO global sort and NO corpus-sized window — both
    * variables have BOUNDED value domains (integral quantities,
    * 2-dp discounts), so average tie-ranks come from the value
    * HISTOGRAM: one partial-aggregated groupBy per variable
    * (domain-cardinality output), a running sum over that tiny
    * relation, and two broadcast hash joins mapping every row to its
    * doubled average rank 2·r̄(v) = 2·cum_below(v) + cnt(v) + 1 (an
    * exact integer — Spearman is scale-invariant, so the ×2 clears
    * the half-rank fraction). The moment sums (Σx, Σx², Σxy…)
    * aggregate exact integers in decimal(38,0) — bit-identical under
    * any partitioning — and the closed-form ρ evaluates once on
    * identical doubles, fenced at 6 dp. */
  def spearman(spark: SparkSession, dir: String): DataFrame =
    spearmanOf(Tables(spark, dir, "lineitem"))

  private[graft] def spearmanOf(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    def rankMap(keyed: DataFrame): DataFrame = {
      // value-domain-sized relation: the window is bounded, not corpus
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
      keyed.groupBy("v").agg(count(lit(1)).as("cnt"))
        .withColumn("r2", lit(2) * (sum("cnt").over(w) - col("cnt"))
          + col("cnt") + lit(1))
        .select("v", "r2")
    }
    val qv = lineitem.select(col("l_quantity").cast("long").as("v"))
    val dv = lineitem.select(Det.units(col("l_discount"), 2).as("v"))
    val qr = rankMap(qv).withColumnRenamed("v", "qv").withColumnRenamed("r2", "xq")
    val dr = rankMap(dv).withColumnRenamed("v", "dv").withColumnRenamed("r2", "xd")
    lineitem
      .select(col("l_quantity").cast("long").as("qk"),
        Det.units(col("l_discount"), 2).as("dk"))
      .join(broadcast(qr), col("qk") === col("qv"))
      .join(broadcast(dr), col("dk") === col("dv"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("xq").cast(d38)).as("sx"),
        sum(col("xd").cast(d38)).as("sy"),
        sum(col("xq").cast(d38) * col("xq").cast(d38)).as("sxx"),
        sum(col("xd").cast(d38) * col("xd").cast(d38)).as("syy"),
        sum(col("xq").cast(d38) * col("xd").cast(d38)).as("sxy"))
      .select(col("n"),
        Det.rnd(
          (col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / (sqrt(col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              * sqrt(col("n").cast("double") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("rho_spearman"))
  }

  val spearmanSql: String = {
    def rankCte(src: String): String =
      s"""SELECT v, 2 * (sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
         |                              AND CURRENT ROW) - cnt) + cnt + 1 AS r2
         |FROM (SELECT $src AS v, count(*) AS cnt FROM lineitem GROUP BY 1)""".stripMargin
    s"""WITH qr AS (${rankCte("CAST(round(l_quantity) AS BIGINT)")}),
       |dr AS (${rankCte("CAST(round(l_discount * 100) AS BIGINT)")}),
       |m AS (SELECT count(*) AS n,
       |             CAST(sum(CAST(xq AS HUGEINT)) AS DOUBLE) AS sx,
       |             CAST(sum(CAST(xd AS HUGEINT)) AS DOUBLE) AS sy,
       |             CAST(sum(CAST(xq AS HUGEINT) * xq) AS DOUBLE) AS sxx,
       |             CAST(sum(CAST(xd AS HUGEINT) * xd) AS DOUBLE) AS syy,
       |             CAST(sum(CAST(xq AS HUGEINT) * xd) AS DOUBLE) AS sxy
       |      FROM (SELECT qr.r2 AS xq, dr.r2 AS xd
       |            FROM lineitem
       |            JOIN qr ON CAST(round(l_quantity) AS BIGINT) = qr.v
       |            JOIN dr ON CAST(round(l_discount * 100) AS BIGINT) = dr.v))
       |SELECT n, ${Det.rndSql(
            "(CAST(n AS DOUBLE) * sxy - sx * sy)" +
              " / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)" +
              "    * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))", 6)}
       |         AS rho_spearman
       |FROM m""".stripMargin
  }

  /** KRUSKAL-WALLIS H TEST: does order quantity differ across return
    * flags? — the k-group rank-based ANOVA (the nonparametric twin of
    * [[anovaF]], robust to non-normal value distributions), with the
    * standard tie correction.
    *
    * Scale shape: the [[spearman]] histogram-rank trick — integral
    * quantities have a BOUNDED domain, so average ranks come from the
    * value histogram (one partial-aggregated groupBy, one bounded
    * window, one broadcast join), never a corpus-wide sort. Per-group
    * doubled-rank sums aggregate exact integers in decimal(38,0);
    * the H statistic combines the k-cardinality group relation with
    * the [[anovaF]] plain-double-sum-with-fence precedent. Tie term
    * Σ(t³−t) rides the same bounded histogram. */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame =
    kruskalWallisOf(Tables(spark, dir, "lineitem"))

  private[graft] def kruskalWallisOf(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val base = lineitem.select(col("l_returnflag").as("flag"),
      col("l_quantity").cast("long").as("v"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    // bounded: one row per distinct quantity value
    val hist = base.groupBy("v").agg(count(lit(1)).as("cnt"))
      .withColumn("r2", lit(2) * (sum("cnt").over(w) - col("cnt"))
        + col("cnt") + lit(1))
    val ties = hist.agg(
      sum(col("cnt").cast(d38) * col("cnt") * col("cnt") - col("cnt")).as("tie"))
    val groups = base
      .join(broadcast(hist.select(col("v").as("hv"), col("r2"))),
        col("v") === col("hv"))
      .groupBy("flag")
      .agg(count(lit(1)).as("ni"), sum(col("r2").cast(d38)).as("s2i"))
    groups
      .agg(count(lit(1)).as("k"), sum("ni").as("n"),
        // Σ R_g²/n_g with R_g = s2_g/2 — the anovaF double-sum precedent
        sum(col("s2i").cast("double") * col("s2i").cast("double")
          / (col("ni") * 4.0)).as("sumterm"))
      .crossJoin(broadcast(ties))
      .select(col("k"), col("n"),
        Det.rnd(expr(
          "12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sumterm - 3.0 * (n + 1)"), 6)
          .as("h_stat"),
        // tie-corrected H; all-identical values (correction 0) → 0
        Det.rnd(expr(
          "CASE WHEN CAST(tie AS DOUBLE) >= CAST(n AS DOUBLE) * n * n - n THEN 0.0 ELSE " +
            "(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sumterm - 3.0 * (n + 1)) " +
            "/ (1.0 - CAST(tie AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)) END"), 6)
          .as("h_tie_corrected"))
  }

  val kruskalWallisSql: String =
    s"""WITH hist AS (
       |  SELECT v, cnt,
       |         2 * (sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
       |                             AND CURRENT ROW) - cnt) + cnt + 1 AS r2
       |  FROM (SELECT CAST(round(l_quantity) AS BIGINT) AS v, count(*) AS cnt
       |        FROM lineitem GROUP BY 1)),
       |tie AS (SELECT sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie FROM hist),
       |g AS (
       |  SELECT l_returnflag AS flag, count(*) AS ni,
       |         sum(CAST(r2 AS HUGEINT)) AS s2i
       |  FROM lineitem JOIN hist ON CAST(round(l_quantity) AS BIGINT) = hist.v
       |  GROUP BY 1),
       |a AS (
       |  SELECT count(*) AS k, CAST(sum(ni) AS BIGINT) AS n,
       |         sum(CAST(s2i AS DOUBLE) * CAST(s2i AS DOUBLE) / (CAST(ni AS DOUBLE) * 4.0)) AS sumterm
       |  FROM g)
       |SELECT k, n,
       |       ${Det.rndSql(
            "12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sumterm - 3.0 * (n + 1)", 6)}
       |         AS h_stat,
       |       ${Det.rndSql(
            "CASE WHEN CAST(tie AS DOUBLE) >= CAST(n AS DOUBLE) * n * n - n THEN 0.0 ELSE " +
              "(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sumterm - 3.0 * (n + 1)) " +
              "/ (1.0 - CAST(tie AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)) END", 6)}
       |         AS h_tie_corrected
       |FROM a CROSS JOIN tie""".stripMargin

  private val BhAlpha = "0.05"

  /** Two-sided normal CDF tail 2·(1−Φ(|z|)) = erfc(|z|/√2) via the
    * Abramowitz-Stegun 7.1.26 rational approximation (|err| < 1.5e-7)
    * — spelled as ONE SQL expression text shared verbatim by the
    * Spark plan and the DuckDB oracle, so both engines evaluate the
    * identical formula on identical doubles. */
  private def erfcTailSql(z: String): String = {
    val x = s"(abs($z) / sqrt(2.0))"
    val t = s"(1.0 / (1.0 + 0.3275911 * $x))"
    s"($t * (0.254829592 + $t * (-0.284496736 + $t * (1.421413741 + " +
      s"$t * (-1.453152027 + $t * 1.061405429)))) * exp(-($x * $x)))"
  }

  /** BENJAMINI-HOCHBERG FALSE-DISCOVERY-RATE CONTROL over the daily
    * mean-value z-tests: each calendar day tests whether its mean
    * event value drifted from the corpus mean; BH at α=0.05 picks
    * which of the ~30 simultaneous tests to reject — the multiple-
    * comparisons discipline every monitoring surface ([[spcChart]],
    * [[cusumChangepoint]]) needs once it alarms on many windows at
    * once.
    *
    * Scale shape: the corpus collapses to per-day exact-cents moments
    * in one partial-aggregated pass; the z/p computation and the BH
    * step-up (rank by p, compare to i·α/m, reject up to the largest
    * passing rank) run entirely in the day-cardinality relation —
    * bounded windows, no second corpus scan. Variance comes from
    * exact integer moments (Σc, Σc² in cents), never a float-order-
    * dependent stddev; the only transcendental is the shared
    * [[erfcTailSql]] text both engines evaluate identically. */
  def fdrBh(spark: SparkSession, dir: String): DataFrame =
    fdrBhOf(Tables(spark, dir, "events"))

  private[graft] def fdrBhOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(to_date(col("ts")).as("day"), Det.cents(col("value")).as("c"))
      .groupBy("day")
      .agg(count(lit(1)).as("nd"), sum("c").as("sd"))
    val glob = events.select(Det.cents(col("value")).as("c"))
      .agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(col("c") * col("c")).as("q"))
    val wRank = Window.orderBy("p", "day")
    val wAll = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily.crossJoin(broadcast(glob))
      .withColumn("z", expr(
        "(CAST(sd AS DOUBLE) / nd - CAST(s AS DOUBLE) / n) / " +
          "sqrt(((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) / nd)"))
      .withColumn("p", expr(erfcTailSql("z")))
      .withColumn("i", row_number().over(wRank))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("cutoff", max(when(
        col("p") <= col("i") * lit(BhAlpha).cast("double") / col("m"), col("i"))
        .otherwise(0)).over(wAll))
      .select(col("day"), col("nd").as("n_events"),
        Det.rnd(col("z"), 6).as("z"),
        Det.rnd(col("p"), 8).as("p"),
        col("i").as("bh_rank"),
        (col("i") <= col("cutoff")).as("rejected"))
      .orderBy("day")
  }

  val fdrBhSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, count(*) AS nd,
       |         CAST(sum(${Det.centsSql("value")}) AS BIGINT) AS sd
       |  FROM events GROUP BY 1),
       |gstats AS (
       |  SELECT count(*) AS n, CAST(sum(${Det.centsSql("value")}) AS BIGINT) AS s,
       |         CAST(sum(${Det.centsSql("value")} * ${Det.centsSql("value")}) AS BIGINT) AS q
       |  FROM events),
       |zp AS (
       |  SELECT day, nd,
       |         (CAST(sd AS DOUBLE) / nd - CAST(s AS DOUBLE) / n) /
       |           sqrt(((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) / nd) AS z
       |  FROM daily CROSS JOIN gstats),
       |pp AS (SELECT day, nd, z, ${erfcTailSql("z")} AS p FROM zp),
       |r AS (
       |  SELECT day, nd, z, p,
       |         CAST(row_number() OVER (ORDER BY p, day) AS INTEGER) AS i,
       |         count(*) OVER () AS m
       |  FROM pp),
       |c AS (SELECT r.*, max(CASE WHEN p <= i * CAST($BhAlpha AS DOUBLE) / m THEN i ELSE 0 END)
       |               OVER () AS cutoff
       |      FROM r)
       |SELECT day, nd AS n_events, ${Det.rndSql("z", 6)} AS z,
       |       ${Det.rndSql("p", 8)} AS p, i AS bh_rank, i <= cutoff AS rejected
       |FROM c
       |ORDER BY day""".stripMargin

  private val HitsIters = 2
  private val HitsScale = 1000000000000L // 1e12 L1-normalized score units

  /** HITS HUBS & AUTHORITIES (Kleinberg 1999) over the bipartite
    * customer→part purchase graph: authority(part) = Σ hub(buyers),
    * hub(customer) = Σ authority(bought parts), L1-renormalized each
    * half-step — the second graph-centrality family next to
    * [[graft.queries.SimilarityQueries]]' PageRank (which propagates
    * along one node set; HITS alternates between two).
    *
    * Scale shape: the distinct edge relation is materialized ONCE to
    * session-keyed scratch parquet (the knn-edges precedent), so the
    * [[HitsIters]] iterations re-read a flat columnar relation; each
    * half-step is one join on the propagation key + one partial-
    * aggregated groupBy — the BSP shape that holds on 1000 executors.
    * Normalization sums are 1-row broadcast crosses, never driver
    * round-trips. Determinism: the [[graft.queries.SimilarityQueries]]
    * PageRank integer ring — scores in exact 10¹² units, each
    * renormalize is `raw·SCALE div Σraw` in decimal(38,0), truncating
    * identically in both engines. */
  def hits(spark: SparkSession, dir: String): DataFrame =
    hitsOnEdges(Tables.pinKeyed(spark, "purchedges", dir) {
      Tables(spark, dir, "lineitem")
        .join(Tables(spark, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
    })

  private[graft] def hitsOnEdges(edges: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    // round state pinned per half-iteration (the r15 spectral-radius
    // lesson): unpinned, each normalization scalar + next-step join
    // re-derived its predecessor, multiplying the edge⋈score joins
    // ~2^(2·iters)× into the final top-k actions; pinned, the loop is
    // exactly TWO edge passes per iteration and the aRaw/hRaw relation
    // feeds its own normalizer from a node-sized columnar read
    val pcA = new graft.Tables.PinChain("hits-a")
    val pcH = new graft.Tables.PinChain("hits-h")
    var h = edges.select("c").distinct().withColumn("h", lit(HitsScale))
    var a: DataFrame = null
    for (_ <- 1 to HitsIters) {
      val aRaw = edges.join(h, "c").groupBy("p")
        .agg(sum(col("h").cast(d38)).as("ar"))
        .transform(pcA.next) // |parts|-sized, read by sA and a
      val sA = aRaw.agg(sum(col("ar")).as("sa"))
      a = aRaw.crossJoin(broadcast(sA))
        .select(col("p"),
          expr(s"CAST(ar AS DECIMAL(38,0)) * $HitsScale div sa").as("a"))
      val hRaw = edges.join(a, "p").groupBy("c")
        .agg(sum(col("a").cast(d38)).as("hr"))
        .transform(pcH.next) // |custs|-sized, read by sH and h
      val sH = hRaw.agg(sum(col("hr")).as("sh"))
      h = hRaw.crossJoin(broadcast(sH))
        .select(col("c"),
          expr(s"CAST(hr AS DECIMAL(38,0)) * $HitsScale div sh").as("h"))
    }
    val auth = a.orderBy(desc("a"), asc("p")).limit(10)
      .select(lit("authority").as("kind"), col("p").as("key"),
        col("a").as("score"),
        Det.rnd(col("a").cast("double") / HitsScale, 9).as("score_norm"))
    val hubs = h.orderBy(desc("h"), asc("c")).limit(10)
      .select(lit("hub").as("kind"), col("c").as("key"),
        col("h").as("score"),
        Det.rnd(col("h").cast("double") / HitsScale, 9).as("score_norm"))
    auth.unionAll(hubs).orderBy(col("kind"), desc("score"), col("key"))
  }

  val hitsSql: String = {
    val steps = (1 to HitsIters).map { k =>
      val prevH = if (k == 1) "h0" else s"h${k - 1}"
      s"""a${k}r AS (SELECT p, sum(hh) AS ar FROM edges e
         |           JOIN $prevH ON e.c = $prevH.c GROUP BY p),
         |a$k AS (SELECT p, (CAST(ar AS HUGEINT) * $HitsScale)
         |                  // (SELECT sum(ar) FROM a${k}r) AS a
         |        FROM a${k}r),
         |h${k}r AS (SELECT c, sum(a) AS hr FROM edges e
         |           JOIN a$k ON e.p = a$k.p GROUP BY c),
         |h$k AS (SELECT c, (CAST(hr AS HUGEINT) * $HitsScale)
         |                  // (SELECT sum(hr) FROM h${k}r) AS hh
         |        FROM h${k}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |h0 AS (SELECT c, CAST($HitsScale AS HUGEINT) AS hh
       |       FROM (SELECT DISTINCT c FROM edges)),
       |$steps
       |SELECT kind, key, score, score_norm FROM (
       |  SELECT 'authority' AS kind, p AS key, CAST(a AS BIGINT) AS score,
       |         ${Det.rndSql(s"CAST(a AS DOUBLE) / $HitsScale", 9)} AS score_norm
       |  FROM a$HitsIters ORDER BY a DESC, p LIMIT 10)
       |UNION ALL
       |SELECT kind, key, score, score_norm FROM (
       |  SELECT 'hub' AS kind, c AS key, CAST(hh AS BIGINT) AS score,
       |         ${Det.rndSql(s"CAST(hh AS DOUBLE) / $HitsScale", 9)} AS score_norm
       |  FROM h$HitsIters ORDER BY hh DESC, c LIMIT 10)
       |ORDER BY kind, score DESC, key""".stripMargin
  }

  /** STL-LITE DECOMPOSITION of the daily event-value series into
    * trend + weekly seasonal + residual: trend is the centered 7-row
    * moving average over the day histogram, the seasonal component is
    * the per-weekday mean of the detrended series, and the residual
    * is what's left — the classical additive decomposition
    * (Cleveland's STL without the loess refinements), feeding the
    * same monitoring family as [[seasonalIndex]] (multiplicative,
    * monthly) from the daily side.
    *
    * Scale shape: the corpus collapses to the day histogram in one
    * partial-aggregated pass; every window after that is bounded by
    * day cardinality. Determinism: the detrended series is kept in
    * exact integer 7ths-of-a-cent units (7·x − Σ₇x — no float until
    * the final fenced divisions), so the per-weekday means divide
    * exact integer sums; weekday numbering is pinned to Monday=0 via
    * Spark `weekday` = DuckDB `isodow − 1`. Edge days without a full
    * 7-row frame get NULL trend/residual in both engines (their
    * weekday's seasonal mean is still reported). */
  def stlDecompose(spark: SparkSession, dir: String): DataFrame =
    stlDecomposeOf(Tables(spark, dir, "events"))

  private[graft] def stlDecomposeOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w7 = Window.orderBy("day").rowsBetween(-3, 3)
    val wDow = Window.partitionBy("dow").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events
      .select(to_date(col("ts")).as("day"), Det.cents(col("value")).as("c"))
      .groupBy("day").agg(sum("c").as("x"))
      .withColumn("dow", expr("CAST(weekday(day) AS BIGINT)"))
      .withColumn("s7", when(count(lit(1)).over(w7) === 7,
        sum("x").over(w7)))
      // exact integer 7ths of a cent; NULL propagates off full frames
      .withColumn("det7", lit(7) * col("x") - col("s7"))
      .withColumn("seas7", sum("det7").over(wDow).cast("double")
        / count("det7").over(wDow))
      .select(col("day"), col("dow"),
        (col("x").cast("double") / 100.0).as("total"),
        Det.rnd(col("s7").cast("double") / 700.0, 4).as("trend"),
        Det.rnd(col("seas7") / 700.0, 4).as("seasonal"),
        Det.rnd(col("det7").cast("double") / 700.0 - col("seas7") / 700.0, 4)
          .as("residual"))
      .orderBy("day")
  }

  val stlDecomposeSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |         CAST(sum(${Det.centsSql("value")}) AS BIGINT) AS x
       |  FROM events GROUP BY 1),
       |f AS (
       |  SELECT day, CAST(isodow(day) - 1 AS BIGINT) AS dow, x,
       |         CASE WHEN count(*) OVER w7 = 7
       |              THEN CAST(sum(x) OVER w7 AS BIGINT) END AS s7
       |  FROM daily
       |  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |d AS (SELECT f.*, 7 * x - s7 AS det7 FROM f),
       |s AS (
       |  SELECT d.*,
       |         CAST(sum(det7) OVER (PARTITION BY dow) AS DOUBLE)
       |           / count(det7) OVER (PARTITION BY dow) AS seas7
       |  FROM d)
       |SELECT day, dow, CAST(x AS DOUBLE) / 100.0 AS total,
       |       ${Det.rndSql("CAST(s7 AS DOUBLE) / 700.0", 4)} AS trend,
       |       ${Det.rndSql("seas7 / 700.0", 4)} AS seasonal,
       |       ${Det.rndSql("CAST(det7 AS DOUBLE) / 700.0 - seas7 / 700.0", 4)} AS residual
       |FROM s
       |ORDER BY day""".stripMargin

  /** FORMAT-PRESERVING PSEUDONYMIZATION of user ids via a 2-round
    * 32-bit FEISTEL NETWORK: the privacy middle ground between
    * redaction ([[graft.queries.TextQueries]]' PII redact destroys
    * the value) and k-anonymity ([[kAnonymity]] generalizes it) —
    * here every id maps to a DIFFERENT id in the same 32-bit domain,
    * provably bijectively (a Feistel permutation is invertible by
    * construction, whatever the round function), so joins and
    * distinct-counts on the pseudonymized corpus still work.
    *
    * Scale shape: a codegen'd scalar projection per row plus one
    * distinct-count audit pass — no joins, no windows. All integer
    * arithmetic (16-bit halves, multiplicative round function, XOR),
    * identical in both engines; the bijectivity audit
    * (n_pseudo = n_users) rides the output as constant columns from
    * a 1-row broadcast cross. */
  def feistelPseudonymize(spark: SparkSession, dir: String): DataFrame =
    feistelPseudonymizeOf(Tables(spark, dir, "events"))

  private[graft] def feistelPseudonymizeOf(events: DataFrame): DataFrame = {
    // two rounds: (L,R) → (R, L ⊕ F(R,c)) with F(r,c) = (r·34283+c) mod 2¹⁶
    val pseudo =
      "(SELECT_L2) * 65536 + (SELECT_R2)"
        .replace("(SELECT_L2)",
          "(u % 65536 ^ ((u div 65536) % 65536 * 34283 + 12345) % 65536)")
        .replace("(SELECT_R2)",
          "((u div 65536) % 65536 ^ " +
            "((u % 65536 ^ ((u div 65536) % 65536 * 34283 + 12345) % 65536)" +
            " * 34283 + 54321) % 65536)")
    val ids = events.select((col("user_id") % 4294967296L).as("u")).distinct()
      .withColumn("pseudo_id", expr(pseudo))
    val audit = ids.agg(count(lit(1)).as("n_users"),
      countDistinct("pseudo_id").as("n_pseudo"))
    ids.crossJoin(broadcast(audit))
      .select(col("u").as("user_id"), col("pseudo_id"),
        col("n_users"), col("n_pseudo"),
        (col("n_users") === col("n_pseudo")).as("bijective"))
      .orderBy("user_id")
      .limit(20)
  }

  val feistelPseudonymizeSql: String = {
    // the same expression text with DuckDB's xor()/integer-div spelling
    val l1 = "((u // 65536) % 65536)"          // L0
    val r0 = "(u % 65536)"
    val f1 = s"(($l1 * 34283 + 12345) % 65536)"
    val r1 = s"xor($r0, $f1)"                  // new R after round 1
    val f2 = s"(($r1 * 34283 + 54321) % 65536)"
    val r2 = s"xor($l1, $f2)"
    s"""WITH ids AS (
       |  SELECT DISTINCT user_id % 4294967296 AS u FROM events),
       |p AS (SELECT u, $r1 * 65536 + $r2 AS pseudo_id FROM ids),
       |a AS (SELECT count(*) AS n_users,
       |             count(DISTINCT pseudo_id) AS n_pseudo FROM p)
       |SELECT u AS user_id, pseudo_id, n_users, n_pseudo,
       |       n_users = n_pseudo AS bijective
       |FROM p CROSS JOIN a
       |ORDER BY user_id
       |LIMIT 20""".stripMargin
  }

  private val DpEpsilon = "0.5"

  /** DIFFERENTIAL-PRIVACY CALIBRATION AUDIT: the per-type event
    * counts released through a seeded Laplace mechanism (sensitivity
    * 1, ε = [[DpEpsilon]]) next to their true values — the noise-
    * calibration check a privacy engineer runs BEFORE shipping the
    * release pipeline (is the noise scale right? does the seeded
    * draw reproduce?). The "noise" is a DETERMINISTIC inverse-CDF
    * draw from a per-type Weyl offset, which is exactly how a
    * seeded-PRNG release replays in both engines.
    *
    * Scale shape: the corpus collapses to type-cardinality counts in
    * one pass; rank, draw and release all live in that tiny relation.
    * The only transcendental is one ln on identical doubles inside a
    * 4-dp fence. */
  def dpCounts(spark: SparkSession, dir: String): DataFrame =
    dpCountsOf(Tables(spark, dir, "events"))

  private[graft] def dpCountsOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = events.groupBy("event_type").agg(count(lit(1)).as("n"))
      .withColumn("i", row_number().over(Window.orderBy("event_type")))
    // u ∈ (0,1): golden-ratio Weyl point of the type's alphabetical rank
    val noisy = counts
      .withColumn("u", expr(
        "((i * 2654435761) % 4294967296 + 0.5) / 4294967296.0"))
      .withColumn("v", col("u") - 0.5)
      .withColumn("noise", expr(
        s"-(2.0 / $DpEpsilon) * sign(v) * ln(1.0 - 2.0 * abs(v)) / 2.0"))
    noisy.select(col("event_type"), col("n").as("true_count"),
      lit(DpEpsilon).cast("double").as("epsilon"),
      Det.rnd(col("noise"), 4).as("noise"),
      Det.rnd(col("n") + col("noise"), 4).as("released_count"))
      .orderBy("event_type")
  }

  val dpCountsSql: String =
    s"""WITH c AS (
       |  SELECT event_type, count(*) AS n,
       |         CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS i
       |  FROM events GROUP BY 1),
       |d AS (
       |  SELECT event_type, n,
       |         ((i * 2654435761) % 4294967296 + 0.5) / 4294967296.0 - 0.5 AS v
       |  FROM c),
       |z AS (
       |  SELECT event_type, n,
       |         -(2.0 / $DpEpsilon) * sign(v) * ln(1.0 - 2.0 * abs(v)) / 2.0 AS noise
       |  FROM d)
       |SELECT event_type, n AS true_count,
       |       CAST($DpEpsilon AS DOUBLE) AS epsilon,
       |       ${Det.rndSql("noise", 4)} AS noise,
       |       ${Det.rndSql("n + noise", 4)} AS released_count
       |FROM z
       |ORDER BY event_type""".stripMargin

  /** DIFFERENCE-IN-DIFFERENCES over the hash-split user halves and
    * the timeline midpoint: (treat_post − treat_pre) −
    * (ctrl_post − ctrl_pre) on per-event purchase value — the
    * two-group counterfactual contrast that [[eventStudy]] (one
    * group, own control) and [[cuped]] (variance reduction) both
    * lack: parallel-trends differencing removes any shared shock from
    * the estimate.
    *
    * Scale shape: ONE conditional-aggregation pass builds all four
    * (group × period) cells' exact-cents moments (map-side partials);
    * the timeline midpoint is a 1-row broadcast of integer-micros
    * min/max — no driver round-trip, no second scan. Estimate and
    * its pooled-variance z evaluate once on doubles derived from
    * exact integers, fenced. */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame =
    diffInDiffOf(Tables(spark, dir, "events"))

  private[graft] def diffInDiffOf(events: DataFrame): DataFrame = {
    val span = events.agg(min(unix_micros(col("ts"))).as("t0"),
      max(unix_micros(col("ts"))).as("t1"))
    def cell(g: Int, p: Int, e: String) = {
      val cond = (col("user_id") % 2 === g) && (col("post") === p)
      e match {
        case "n" => sum(when(cond, 1L).otherwise(0L))
        case "s" => sum(when(cond, col("c")).otherwise(0L))
        case "q" => sum(when(cond, col("c") * col("c")).otherwise(0L))
      }
    }
    val agg = events.crossJoin(broadcast(span))
      .select(col("user_id"), Det.cents(col("value")).as("c"),
        when(unix_micros(col("ts")) * 2 >= col("t0") + col("t1"), 1)
          .otherwise(0).as("post"))
      .agg(
        cell(1, 0, "n").as("n_t0"), cell(1, 0, "s").as("s_t0"), cell(1, 0, "q").as("q_t0"),
        cell(1, 1, "n").as("n_t1"), cell(1, 1, "s").as("s_t1"), cell(1, 1, "q").as("q_t1"),
        cell(0, 0, "n").as("n_c0"), cell(0, 0, "s").as("s_c0"), cell(0, 0, "q").as("q_c0"),
        cell(0, 1, "n").as("n_c1"), cell(0, 1, "s").as("s_c1"), cell(0, 1, "q").as("q_c1"))
    def m(sfx: String) = s"(CAST(s_$sfx AS DOUBLE) / n_$sfx)"
    def v(sfx: String) = // sample variance of the cell / its n
      s"(((CAST(q_$sfx AS DOUBLE) - CAST(s_$sfx AS DOUBLE) * s_$sfx / n_$sfx)" +
        s" / (n_$sfx - 1)) / n_$sfx)"
    val didE = s"((${m("t1")} - ${m("t0")}) - (${m("c1")} - ${m("c0")}))"
    val seE = s"sqrt(${v("t1")} + ${v("t0")} + ${v("c1")} + ${v("c0")})"
    agg.select(
      (col("n_t0") + col("n_t1")).as("n_treat"),
      (col("n_c0") + col("n_c1")).as("n_ctrl"),
      Det.rnd(expr(s"${m("t1")} - ${m("t0")}") / 100.0, 4).as("treat_delta"),
      Det.rnd(expr(s"${m("c1")} - ${m("c0")}") / 100.0, 4).as("ctrl_delta"),
      Det.rnd(expr(didE) / 100.0, 4).as("did"),
      Det.rnd(expr(s"$didE / $seE"), 6).as("z"))
  }

  val diffInDiffSql: String = {
    def cell(g: Int, p: Int, e: String, name: String) = e match {
      case "n" => s"CAST(sum(CASE WHEN g = $g AND post = $p THEN 1 ELSE 0 END) AS BIGINT) AS $name"
      case "s" => s"CAST(sum(CASE WHEN g = $g AND post = $p THEN c ELSE 0 END) AS BIGINT) AS $name"
      case "q" => s"CAST(sum(CASE WHEN g = $g AND post = $p THEN c * c ELSE 0 END) AS BIGINT) AS $name"
    }
    val cells = Seq(
      cell(1, 0, "n", "n_t0"), cell(1, 0, "s", "s_t0"), cell(1, 0, "q", "q_t0"),
      cell(1, 1, "n", "n_t1"), cell(1, 1, "s", "s_t1"), cell(1, 1, "q", "q_t1"),
      cell(0, 0, "n", "n_c0"), cell(0, 0, "s", "s_c0"), cell(0, 0, "q", "q_c0"),
      cell(0, 1, "n", "n_c1"), cell(0, 1, "s", "s_c1"), cell(0, 1, "q", "q_c1"))
      .mkString(",\n       |         ")
    def m(sfx: String) = s"(CAST(s_$sfx AS DOUBLE) / n_$sfx)"
    def v(sfx: String) =
      s"(((CAST(q_$sfx AS DOUBLE) - CAST(s_$sfx AS DOUBLE) * s_$sfx / n_$sfx)" +
        s" / (n_$sfx - 1)) / n_$sfx)"
    val didE = s"((${m("t1")} - ${m("t0")}) - (${m("c1")} - ${m("c0")}))"
    val seE = s"sqrt(${v("t1")} + ${v("t0")} + ${v("c1")} + ${v("c0")})"
    s"""WITH span AS (
       |  SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events),
       |r AS (
       |  SELECT user_id % 2 AS g, ${Det.centsSql("value")} AS c,
       |         CASE WHEN epoch_us(ts) * 2 >= t0 + t1 THEN 1 ELSE 0 END AS post
       |  FROM events CROSS JOIN span),
       |a AS (
       |  SELECT $cells
       |  FROM r)
       |SELECT n_t0 + n_t1 AS n_treat, n_c0 + n_c1 AS n_ctrl,
       |       ${Det.rndSql(s"(${m("t1")} - ${m("t0")}) / 100.0", 4)} AS treat_delta,
       |       ${Det.rndSql(s"(${m("c1")} - ${m("c0")}) / 100.0", 4)} AS ctrl_delta,
       |       ${Det.rndSql(s"$didE / 100.0", 4)} AS did,
       |       ${Det.rndSql(s"$didE / $seE", 6)} AS z
       |FROM a""".stripMargin
  }

  /** SIMPSON'S-PARADOX AUDIT of the urgency → lateness association:
    * does the pooled "urgent orders ship later/earlier" direction
    * hold inside every order-year stratum, or does aggregation
    * reverse it? — the stratification sanity check every pooled
    * metric ([[abTest]], [[ratioDelta]]) should pass before anyone
    * acts on it.
    *
    * Scale shape: one pass collapses the joined fact stream to
    * (year × urgency) integer cells; the pooled row is the cells'
    * own rollup. Rate comparisons NEVER divide: a/b vs c/d compares
    * as a·d vs c·b in exact integers, so the reversal flag cannot
    * sit on a float boundary. Rates are emitted fenced for reading,
    * but no decision consumes them. */
  def simpsonCheck(spark: SparkSession, dir: String): DataFrame =
    simpsonCheckOf(Tables(spark, dir, "orders"), Tables(spark, dir, "lineitem"))

  private[graft] def simpsonCheckOf(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val late = lineitem.select(col("l_orderkey"),
      col("l_shipdate").as("sd"))
    val base = orders
      .join(late, col("o_orderkey") === col("l_orderkey"))
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
          .otherwise(0).as("urgent"),
        when(col("sd") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
          .otherwise(0L).as("late"))
    val cells = base.groupBy("yr")
      .agg(sum(when(col("urgent") === 1, 1L).otherwise(0L)).as("n_u"),
        sum(when(col("urgent") === 1, col("late")).otherwise(0L)).as("l_u"),
        sum(when(col("urgent") === 0, 1L).otherwise(0L)).as("n_o"),
        sum(when(col("urgent") === 0, col("late")).otherwise(0L)).as("l_o"))
    val pooled = cells.agg(
      sum("n_u").as("n_u"), sum("l_u").as("l_u"),
      sum("n_o").as("n_o"), sum("l_o").as("l_o"))
      .withColumn("yr", lit(-1L))
    val all = cells.unionByName(pooled)
      // exact cross-multiplication in decimal (counts² outgrow BIGINT at
      // corpus scale): sign of l_u/n_u − l_o/n_o
      .withColumn("diff_sign", expr(
        "CASE WHEN CAST(l_u AS DECIMAL(38,0)) * n_o > CAST(l_o AS DECIMAL(38,0)) * n_u THEN 1 " +
          "WHEN CAST(l_u AS DECIMAL(38,0)) * n_o < CAST(l_o AS DECIMAL(38,0)) * n_u THEN -1 ELSE 0 END"))
    val pooledSign = all.filter(col("yr") === -1L)
      .select(col("diff_sign").as("ps"))
    all.crossJoin(broadcast(pooledSign))
      .select(col("yr"), col("n_u"), col("l_u"), col("n_o"), col("l_o"),
        Det.rnd(col("l_u").cast("double") / col("n_u"), 6).as("rate_urgent"),
        Det.rnd(col("l_o").cast("double") / col("n_o"), 6).as("rate_other"),
        col("diff_sign"),
        (col("yr") =!= -1L && col("diff_sign") =!= col("ps") &&
          col("diff_sign") =!= 0).as("reversed"))
      .orderBy("yr")
  }

  val simpsonCheckSql: String =
    s"""WITH base AS (
       |  SELECT year(o_orderdate) AS yr,
       |         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS urgent,
       |         CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END AS late
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |cells AS (
       |  SELECT yr,
       |         CAST(sum(CASE WHEN urgent = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_u,
       |         CAST(sum(CASE WHEN urgent = 1 THEN late ELSE 0 END) AS BIGINT) AS l_u,
       |         CAST(sum(CASE WHEN urgent = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       |         CAST(sum(CASE WHEN urgent = 0 THEN late ELSE 0 END) AS BIGINT) AS l_o
       |  FROM base GROUP BY 1),
       |allrows AS (
       |  SELECT * FROM cells
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT), CAST(sum(n_u) AS BIGINT), CAST(sum(l_u) AS BIGINT),
       |         CAST(sum(n_o) AS BIGINT), CAST(sum(l_o) AS BIGINT) FROM cells),
       |signed AS (
       |  SELECT a.*, CASE WHEN CAST(l_u AS HUGEINT) * n_o > CAST(l_o AS HUGEINT) * n_u THEN 1
       |                   WHEN CAST(l_u AS HUGEINT) * n_o < CAST(l_o AS HUGEINT) * n_u THEN -1 ELSE 0 END AS diff_sign
       |  FROM allrows a),
       |ps AS (SELECT diff_sign AS ps FROM signed WHERE yr = -1)
       |SELECT yr, n_u, l_u, n_o, l_o,
       |       ${Det.rndSql("CAST(l_u AS DOUBLE) / n_u", 6)} AS rate_urgent,
       |       ${Det.rndSql("CAST(l_o AS DOUBLE) / n_o", 6)} AS rate_other,
       |       diff_sign,
       |       yr <> -1 AND diff_sign <> ps AND diff_sign <> 0 AS reversed
       |FROM signed CROSS JOIN ps
       |ORDER BY yr""".stripMargin

  /** PARTIAL CORRELATION of quantity and line revenue CONTROLLING
    * for discount: r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²))
    * — the confound-removal step between [[graft.queries
    * .RecommenderQueries]]' raw Pearson surface and a causal claim:
    * if discount drives both, the partialled coefficient collapses.
    *
    * Scale shape: ONE aggregation pass collects all nine moment sums
    * (Σx, Σx², Σxy … as exact integers in decimal(38,0) — quantity,
    * cents, discount-% are all integral); the three Pearsons and the
    * partialling formula evaluate once on identical doubles, fenced.
    * Degenerate guard: zero variance in any variable → NULL (both
    * engines' 0/0), surfaced rather than masked. */
  def partialCorr(spark: SparkSession, dir: String): DataFrame =
    partialCorrOf(Tables(spark, dir, "lineitem"))

  private[graft] def partialCorrOf(lineitem: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = lineitem.select(
      col("l_quantity").cast("long").as("x"),
      Det.cents(col("l_extendedprice")).as("y"),
      Det.units(col("l_discount"), 2).as("z"))
    def s2(a: String, b: String) = sum(col(a).cast(d38) * col(b).cast(d38))
    val m = base.agg(count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
      sum(col("z").cast(d38)).as("sz"),
      s2("x", "x").as("sxx"), s2("y", "y").as("syy"), s2("z", "z").as("szz"),
      s2("x", "y").as("sxy"), s2("x", "z").as("sxz"), s2("y", "z").as("syz"))
    def r(ab: String, a: String, b: String) =
      s"((CAST(n AS DOUBLE) * CAST(s$ab AS DOUBLE) - CAST(s$a AS DOUBLE) * CAST(s$b AS DOUBLE)) / " +
        s"(sqrt(CAST(n AS DOUBLE) * CAST(s$a$a AS DOUBLE) - CAST(s$a AS DOUBLE) * CAST(s$a AS DOUBLE)) * " +
        s"sqrt(CAST(n AS DOUBLE) * CAST(s$b$b AS DOUBLE) - CAST(s$b AS DOUBLE) * CAST(s$b AS DOUBLE))))"
    val rxy = r("xy", "x", "y"); val rxz = r("xz", "x", "z"); val ryz = r("yz", "y", "z")
    m.select(col("n"),
      Det.rnd(expr(rxy), 6).as("r_xy"),
      Det.rnd(expr(rxz), 6).as("r_xz"),
      Det.rnd(expr(ryz), 6).as("r_yz"),
      Det.rnd(expr(
        s"($rxy - $rxz * $ryz) / sqrt((1.0 - $rxz * $rxz) * (1.0 - $ryz * $ryz))"), 6)
        .as("r_xy_given_z"))
  }

  val partialCorrSql: String = {
    def r(ab: String, a: String, b: String) =
      s"((CAST(n AS DOUBLE) * CAST(s$ab AS DOUBLE) - CAST(s$a AS DOUBLE) * CAST(s$b AS DOUBLE)) / " +
        s"(sqrt(CAST(n AS DOUBLE) * CAST(s$a$a AS DOUBLE) - CAST(s$a AS DOUBLE) * CAST(s$a AS DOUBLE)) * " +
        s"sqrt(CAST(n AS DOUBLE) * CAST(s$b$b AS DOUBLE) - CAST(s$b AS DOUBLE) * CAST(s$b AS DOUBLE))))"
    val rxy = r("xy", "x", "y"); val rxz = r("xz", "x", "z"); val ryz = r("yz", "y", "z")
    s"""WITH base AS (
       |  SELECT CAST(round(l_quantity) AS BIGINT) AS x,
       |         ${Det.centsSql("l_extendedprice")} AS y,
       |         ${Det.unitsSql("l_discount", 2)} AS z
       |  FROM lineitem),
       |m AS (
       |  SELECT count(*) AS n,
       |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |         sum(CAST(z AS HUGEINT)) AS sz,
       |         sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(y AS HUGEINT) * y) AS syy,
       |         sum(CAST(z AS HUGEINT) * z) AS szz,
       |         sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(x AS HUGEINT) * z) AS sxz,
       |         sum(CAST(y AS HUGEINT) * z) AS syz
       |  FROM base)
       |SELECT n, ${Det.rndSql(rxy, 6)} AS r_xy,
       |       ${Det.rndSql(rxz, 6)} AS r_xz,
       |       ${Det.rndSql(ryz, 6)} AS r_yz,
       |       ${Det.rndSql(
          s"($rxy - $rxz * $ryz) / sqrt((1.0 - $rxz * $rxz) * (1.0 - $ryz * $ryz))", 6)}
       |         AS r_xy_given_z
       |FROM m""".stripMargin
  }

  private val TostMarginPct = 5L   // equivalence margin: ±5% of the pooled mean
  private val TostZCrit = "1.6449" // one-sided 5% critical value, pinned literal

  /** TOST EQUIVALENCE TEST (two one-sided tests, Schuirmann 1987) on
    * the hash-split halves' mean event value: the NON-INFERIORITY
    * discipline [[abTest]] cannot express — failing to reject "they
    * differ" is NOT evidence of sameness; TOST rejects both
    * "diff ≤ −δ" and "diff ≥ +δ" to positively CONCLUDE equivalence
    * within the margin. The margin is ±[[TostMarginPct]]% of the
    * pooled mean; the launch-safety check for a refactor that should
    * change nothing.
    *
    * Scale shape: one conditional-aggregation pass builds both
    * groups' exact-cents moments; estimate, SE, both z's and the
    * verdict evaluate once on doubles from exact integers, with the
    * critical value pinned as a shared literal (no engine quantile
    * function). */
  def tostEquivalence(spark: SparkSession, dir: String): DataFrame =
    tostEquivalenceOf(Tables(spark, dir, "events"))

  private[graft] def tostEquivalenceOf(events: DataFrame): DataFrame = {
    val agg = events
      .select((col("user_id") % 2).as("g"), Det.cents(col("value")).as("c"))
      .agg(
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 1, col("c")).otherwise(0L)).as("sa"),
        sum(when(col("g") === 1, col("c") * col("c")).otherwise(0L)).as("qa"),
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("nb"),
        sum(when(col("g") === 0, col("c")).otherwise(0L)).as("sb"),
        sum(when(col("g") === 0, col("c") * col("c")).otherwise(0L)).as("qb"))
    val ma = "(CAST(sa AS DOUBLE) / na)"; val mb = "(CAST(sb AS DOUBLE) / nb)"
    val va = "(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na) / (na - 1)) / na)"
    val vb = "(((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb) / (nb - 1)) / nb)"
    val diff = s"($ma - $mb)"
    val se = s"sqrt($va + $vb)"
    val delta = s"($TostMarginPct / 100.0 * (CAST(sa AS DOUBLE) + sb) / (na + nb))"
    agg.select(col("na"), col("nb"),
      Det.rnd(expr(ma) / 100.0, 4).as("mean_a"),
      Det.rnd(expr(mb) / 100.0, 4).as("mean_b"),
      Det.rnd(expr(diff) / 100.0, 4).as("diff"),
      Det.rnd(expr(delta) / 100.0, 4).as("delta"),
      Det.rnd(expr(s"($diff + $delta) / $se"), 6).as("z_lower"),
      Det.rnd(expr(s"($delta - $diff) / $se"), 6).as("z_upper"),
      expr(s"($diff + $delta) / $se > $TostZCrit AND ($delta - $diff) / $se > $TostZCrit")
        .as("equivalent"))
  }

  val tostEquivalenceSql: String = {
    val ma = "(CAST(sa AS DOUBLE) / na)"; val mb = "(CAST(sb AS DOUBLE) / nb)"
    val va = "(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na) / (na - 1)) / na)"
    val vb = "(((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb) / (nb - 1)) / nb)"
    val diff = s"($ma - $mb)"
    val se = s"sqrt($va + $vb)"
    val delta = s"($TostMarginPct / 100.0 * (CAST(sa AS DOUBLE) + sb) / (na + nb))"
    s"""WITH r AS (
       |  SELECT user_id % 2 AS g, ${Det.centsSql("value")} AS c FROM events),
       |a AS (
       |  SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |         CAST(sum(CASE WHEN g = 1 THEN c ELSE 0 END) AS BIGINT) AS sa,
       |         CAST(sum(CASE WHEN g = 1 THEN c * c ELSE 0 END) AS BIGINT) AS qa,
       |         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |         CAST(sum(CASE WHEN g = 0 THEN c ELSE 0 END) AS BIGINT) AS sb,
       |         CAST(sum(CASE WHEN g = 0 THEN c * c ELSE 0 END) AS BIGINT) AS qb
       |  FROM r)
       |SELECT na, nb,
       |       ${Det.rndSql(s"$ma / 100.0", 4)} AS mean_a,
       |       ${Det.rndSql(s"$mb / 100.0", 4)} AS mean_b,
       |       ${Det.rndSql(s"$diff / 100.0", 4)} AS diff,
       |       ${Det.rndSql(s"$delta / 100.0", 4)} AS delta,
       |       ${Det.rndSql(s"($diff + $delta) / $se", 6)} AS z_lower,
       |       ${Det.rndSql(s"($delta - $diff) / $se", 6)} AS z_upper,
       |       ($diff + $delta) / $se > $TostZCrit AND ($delta - $diff) / $se > $TostZCrit
       |         AS equivalent
       |FROM a""".stripMargin
  }

  /** PROPENSITY-SCORE MATCHED ATT: the effect of a bad first
    * impression (first event = error) on a user's purchase total,
    * estimated by matching every exposed user to the UNEXPOSED user
    * with the nearest propensity score — the
    * observational-causal step beyond [[diffInDiff]] (which needs a
    * pre-period) and the naive exposed-vs-not difference (which
    * inherits all the activity confounding): users who see errors
    * are simply more active, and activity drives purchases.
    *
    * Unpartitioned-Window note (r16 audit): the as-of carry below is a
    * DELIBERATE one-sort global window over the USER-cardinality
    * relation (≪ events; the per-user rollup precedes it) — the 100 TB
    * form range-partitions the score axis and carries boundary values
    * in a second bounded pass, which this corpus never needs.
    *
    * Scale shape: one pass builds the per-user (features, exposure,
    * outcome) relation; the propensity is a FIXED-LITERAL logistic
    * (fenced at 6 dp before any comparison); 1-D nearest matching is
    * the [[asofNearest]] carry trick over the score-ordered relation
    * (backward last + forward first control, closer one wins, exact
    * integer-cents outcome differences) — one user-cardinality sort,
    * never a pair join. ATT sums exact integers. */
  def propensityAtt(spark: SparkSession, dir: String): DataFrame =
    propensityAttOf(Tables(spark, dir, "events"))

  private[graft] def propensityAttOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // exposure = the user's FIRST event is an error (splits any corpus;
    // "ever saw an error" saturates to 100% once activity is high enough)
    val wFirst = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val firstEv = events
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1)
      .select(col("user_id"),
        when(col("event_type") === "error", 1).otherwise(0).as("treated"))
    val users = events.groupBy("user_id").agg(
      count(lit(1)).as("n_ev"),
      countDistinct(to_date(col("ts"))).as("n_days"),
      sum(when(col("event_type") === "purchase", Det.cents(col("value")))
        .otherwise(0L)).as("outcome_c"))
      .join(firstEv, "user_id")
      .withColumn("score", Det.rnd(expr(
        "1.0 / (1.0 + exp(-(-1.0 + 0.8 * ln(1.0 + n_ev) - 0.5 * ln(1.0 + n_days))))"), 6))
    val w = Window.orderBy("score", "user_id")
    val back = w.rowsBetween(Window.unboundedPreceding, -1)
    val fwd = w.rowsBetween(1, Window.unboundedFollowing)
    val ctrlOut = when(col("treated") === 0, col("outcome_c"))
    val ctrlScore = when(col("treated") === 0, col("score"))
    val matched = users
      .withColumn("b_out", last(ctrlOut, ignoreNulls = true).over(back))
      .withColumn("b_sc", last(ctrlScore, ignoreNulls = true).over(back))
      .withColumn("f_out", first(ctrlOut, ignoreNulls = true).over(fwd))
      .withColumn("f_sc", first(ctrlScore, ignoreNulls = true).over(fwd))
      .filter(col("treated") === 1)
      .withColumn("m_out", expr(
        "CASE WHEN b_sc IS NOT NULL AND (f_sc IS NULL OR score - b_sc <= f_sc - score)" +
          " THEN b_out ELSE f_out END"))
      .filter(col("m_out").isNotNull)
    val att = matched.agg(count(lit(1)).as("n_matched"),
      sum(col("outcome_c") - col("m_out")).as("d"))
    val naive = users.agg(
      sum(when(col("treated") === 1, 1L).otherwise(0L)).as("n_treated"),
      sum(when(col("treated") === 1, col("outcome_c")).otherwise(0L)).as("s_t"),
      sum(when(col("treated") === 0, 1L).otherwise(0L)).as("n_control"),
      sum(when(col("treated") === 0, col("outcome_c")).otherwise(0L)).as("s_c"))
    naive.crossJoin(broadcast(att))
      .select(col("n_treated"), col("n_control"), col("n_matched"),
        Det.rnd(expr(
          "CASE WHEN n_treated = 0 OR n_control = 0 THEN NULL ELSE " +
            "CAST(s_t AS DOUBLE) / n_treated - CAST(s_c AS DOUBLE) / n_control END") / 100.0, 4)
          .as("naive_diff"),
        Det.rnd(expr(
          "CASE WHEN n_matched = 0 THEN NULL ELSE CAST(d AS DOUBLE) / n_matched END")
          / 100.0, 4).as("att"))
  }

  val propensityAttSql: String =
    s"""WITH fe AS (
       |  SELECT user_id,
       |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS treated
       |  FROM (SELECT user_id, event_type,
       |               row_number() OVER (PARTITION BY user_id
       |                                  ORDER BY epoch_us(ts), event_id) AS rn
       |        FROM events)
       |  WHERE rn = 1),
       |u AS (
       |  SELECT g.user_id, g.n_ev, g.n_days, fe.treated, g.outcome_c
       |  FROM (SELECT user_id, count(*) AS n_ev,
       |               count(DISTINCT CAST(ts AS DATE)) AS n_days,
       |               CAST(sum(CASE WHEN event_type = 'purchase'
       |                             THEN ${Det.centsSql("value")} ELSE 0 END) AS BIGINT) AS outcome_c
       |        FROM events GROUP BY 1) g
       |  JOIN fe ON fe.user_id = g.user_id),
       |s AS (
       |  SELECT u.*, ${Det.rndSql(
          "1.0 / (1.0 + exp(-(-1.0 + 0.8 * ln(1.0 + n_ev) - 0.5 * ln(1.0 + n_days))))", 6)}
       |           AS score
       |  FROM u),
       |m AS (
       |  SELECT *,
       |         last_value(CASE WHEN treated = 0 THEN outcome_c END IGNORE NULLS)
       |           OVER (ORDER BY score, user_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b_out,
       |         last_value(CASE WHEN treated = 0 THEN score END IGNORE NULLS)
       |           OVER (ORDER BY score, user_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b_sc,
       |         first_value(CASE WHEN treated = 0 THEN outcome_c END IGNORE NULLS)
       |           OVER (ORDER BY score, user_id
       |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS f_out,
       |         first_value(CASE WHEN treated = 0 THEN score END IGNORE NULLS)
       |           OVER (ORDER BY score, user_id
       |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS f_sc
       |  FROM s),
       |t AS (
       |  SELECT outcome_c,
       |         CASE WHEN b_sc IS NOT NULL AND (f_sc IS NULL OR score - b_sc <= f_sc - score)
       |              THEN b_out ELSE f_out END AS m_out
       |  FROM m WHERE treated = 1),
       |att AS (
       |  SELECT count(*) AS n_matched,
       |         CAST(sum(outcome_c - m_out) AS BIGINT) AS d
       |  FROM t WHERE m_out IS NOT NULL),
       |naive AS (
       |  SELECT CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treated,
       |         CAST(sum(CASE WHEN treated = 1 THEN outcome_c ELSE 0 END) AS BIGINT) AS s_t,
       |         CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
       |         CAST(sum(CASE WHEN treated = 0 THEN outcome_c ELSE 0 END) AS BIGINT) AS s_c
       |  FROM s)
       |SELECT n_treated, n_control, n_matched,
       |       ${Det.rndSql(
          "(CASE WHEN n_treated = 0 OR n_control = 0 THEN NULL ELSE " +
            "CAST(s_t AS DOUBLE) / n_treated - CAST(s_c AS DOUBLE) / n_control END) / 100.0", 4)}
       |         AS naive_diff,
       |       ${Det.rndSql(
          "(CASE WHEN n_matched = 0 THEN NULL ELSE CAST(d AS DOUBLE) / n_matched END) / 100.0", 4)}
       |         AS att
       |FROM naive CROSS JOIN att""".stripMargin

  private val SloBudgetPm = 220L // error budget: 22% of events (per-mille)

  /** SLO ERROR-BUDGET BURN RATE (the Google-SRE multi-window alert):
    * per clock hour, the error share as a multiple of the budget, at
    * two window lengths (1 h and 6 h) — paging only when BOTH burn
    * fast and have burned for a while, which kills the single-window
    * alert's flappiness. The monitoring sibling of [[spcChart]]
    * (value excursions) for RATE-of-bad-events excursions.
    *
    * Scale shape: the corpus collapses to the hour histogram in one
    * partial-aggregated pass; the 6-h window and both burn ratios
    * live in hour space. The PAGE decision is exact integer
    * cross-multiplication (err·10⁶ vs threshold·budget·total — no
    * float boundary); the emitted burn ratios are fenced doubles for
    * reading only. */
  def sloBurn(spark: SparkSession, dir: String): DataFrame =
    sloBurnOf(Tables(spark, dir, "events"))

  private[graft] def sloBurnOf(events: DataFrame): DataFrame =
    sloFinish(sloHourlyFrom(events))

  /** The mergeable hourly (n, n_err) histogram — the streaming-safe
    * state shared with [[graft.streaming.StreamJobs.sloStream]],
    * exactly as the daily histogram feeds the CUSUM/SPC/EWMA family. */
  private[graft] def sloHourlyFrom(events: DataFrame): DataFrame =
    events
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_start"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))

  /** The hour-space burn/page finish over the mergeable state. */
  private[graft] def sloFinish(hourlyState: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w6 = Window.orderBy("hour_start").rowsBetween(-5, 0)
    val hourly = hourlyState
      .withColumn("n6", sum("n").over(w6))
      .withColumn("e6", sum("n_err").over(w6))
    hourly.select(col("hour_start"), col("n"), col("n_err"),
      Det.rnd(col("n_err").cast("double") / col("n"), 6).as("err_rate"),
      Det.rnd(col("n_err").cast("double") * 1000.0 / (col("n") * SloBudgetPm), 4)
        .as("burn_1h"),
      Det.rnd(col("e6").cast("double") * 1000.0 / (col("n6") * SloBudgetPm), 4)
        .as("burn_6h"),
      // page ⟺ burn_1h ≥ 1.2 AND burn_6h ≥ 1.1, as exact integers:
      // err·1000·10 ≥ 12·budget·n  and  e6·1000·10 ≥ 11·budget·n6
      expr(s"n_err * 10000 >= 12 * $SloBudgetPm * n" +
        s" AND e6 * 10000 >= 11 * $SloBudgetPm * n6").as("page"))
      .orderBy("hour_start")
  }

  val sloBurnSql: String =
    s"""WITH h AS (
       |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
       |         count(*) AS n,
       |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
       |  FROM events GROUP BY 1),
       |w AS (
       |  SELECT h.*,
       |         sum(n) OVER (ORDER BY hour_start ROWS BETWEEN 5 PRECEDING
       |                      AND CURRENT ROW) AS n6,
       |         sum(n_err) OVER (ORDER BY hour_start ROWS BETWEEN 5 PRECEDING
       |                          AND CURRENT ROW) AS e6
       |  FROM h)
       |SELECT hour_start, n, n_err,
       |       ${Det.rndSql("CAST(n_err AS DOUBLE) / n", 6)} AS err_rate,
       |       ${Det.rndSql(s"CAST(n_err AS DOUBLE) * 1000.0 / (n * $SloBudgetPm)", 4)} AS burn_1h,
       |       ${Det.rndSql(s"CAST(e6 AS DOUBLE) * 1000.0 / (n6 * $SloBudgetPm)", 4)} AS burn_6h,
       |       n_err * 10000 >= 12 * $SloBudgetPm * n
       |         AND e6 * 10000 >= 11 * $SloBudgetPm * n6 AS page
       |FROM w
       |ORDER BY hour_start""".stripMargin

  private val BotBurstWindowUs = 60000000L // rolling 60 s
  private val BotBurstMax = 20L            // events/min that flags
  private val BotMinGapUs = 1000000L       // sub-second repeat that flags

  /** RATE-BASED BOT/ABUSE DETECTION: per user, the peak events-per-
    * rolling-minute and the minimum inter-arrival gap — the two
    * signatures (sustained burst, sub-second repeats) an ingest
    * pipeline screens before letting traffic into analytics or
    * training corpora ([[skewDiagnose]] finds hot KEYS; this finds
    * hot ACTORS with rate semantics a plain count can't express).
    *
    * Scale shape: every window is user-partitioned (the rolling
    * minute is a RANGE frame on integer micros — gap-correct where a
    * ROWS frame is not), so the work distributes on the user key with
    * no global sort; flags are exact integer comparisons; output is
    * the top-20 burstiest users with their census. */
  def botDetect(spark: SparkSession, dir: String): DataFrame =
    botDetectOf(Tables(spark, dir, "events"))

  private[graft] def botDetectOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wU = Window.partitionBy("user_id").orderBy("tus")
    val wMin = wU.rangeBetween(-BotBurstWindowUs, 0)
    val e = events.select(col("user_id"), unix_micros(col("ts")).as("tus"))
      .withColumn("in_min", count(lit(1)).over(wMin))
      .withColumn("gap", col("tus") - lag("tus", 1).over(wU))
    e.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max("in_min").as("max_per_min"),
        min("gap").as("min_gap_us"))
      .select(col("user_id"), col("n_events"), col("max_per_min"),
        col("min_gap_us"),
        (col("max_per_min") >= BotBurstMax ||
          col("min_gap_us") < BotMinGapUs).as("is_bot"))
      // no min_gap in the tie-break: its NULLs (single-event users) sort
      // first in Spark but last in DuckDB; user_id alone is total
      .orderBy(desc("max_per_min"), asc("user_id"))
      .limit(20)
  }

  val botDetectSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS tus FROM events),
       |f AS (
       |  SELECT user_id, tus,
       |         count(*) OVER (PARTITION BY user_id ORDER BY tus
       |                        RANGE BETWEEN $BotBurstWindowUs PRECEDING
       |                        AND CURRENT ROW) AS in_min,
       |         tus - lag(tus, 1) OVER (PARTITION BY user_id ORDER BY tus) AS gap
       |  FROM e),
       |u AS (
       |  SELECT user_id, count(*) AS n_events,
       |         CAST(max(in_min) AS BIGINT) AS max_per_min,
       |         min(gap) AS min_gap_us
       |  FROM f GROUP BY 1)
       |SELECT user_id, n_events, max_per_min, min_gap_us,
       |       max_per_min >= $BotBurstMax OR min_gap_us < $BotMinGapUs AS is_bot
       |FROM u
       |ORDER BY max_per_min DESC, user_id
       |LIMIT 20""".stripMargin

  /** ALLEN INTERVAL-ALGEBRA CENSUS (Allen 1983) over per-user
    * activity spans: for every user and pair of event types, classify
    * how the two types' [first, last] activity intervals relate —
    * the 13 qualitative relations (before/meets/overlaps/starts/
    * during/finishes/equal + inverses) — and report the corpus
    * census. The temporal-REASONING summary the quantitative
    * interval operators ([[rangeJoin]] finds WHICH rows overlap,
    * [[sessionConcurrency]] counts HOW MANY) don't express: the
    * SHAPE of temporal containment between behaviors.
    *
    * Scale shape: one pass collapses the corpus to (user × type)
    * intervals; pair fan-out is C(|types|, 2) per user — bounded by
    * the type vocabulary, never by activity. Classification is a
    * pure integer-micros CASE ladder; the census is one aggregation
    * over the pair relation. */
  def allenRelations(spark: SparkSession, dir: String): DataFrame =
    allenRelationsOf(Tables(spark, dir, "events"))

  private[graft] def allenRelationsOf(events: DataFrame): DataFrame = {
    val spans = events.groupBy(col("user_id"), col("event_type"))
      .agg(min(unix_micros(col("ts"))).as("s"),
        max(unix_micros(col("ts"))).as("e"))
    val a = spans.select(col("user_id"), col("event_type").as("t1"),
      col("s").as("s1"), col("e").as("e1"))
    val b = spans.select(col("user_id"), col("event_type").as("t2"),
      col("s").as("s2"), col("e").as("e2"))
    val rel =
      "CASE WHEN s1 = s2 AND e1 = e2 THEN 'equal' " +
        "WHEN e1 < s2 THEN 'before' WHEN e2 < s1 THEN 'after' " +
        "WHEN e1 = s2 THEN 'meets' WHEN e2 = s1 THEN 'met_by' " +
        "WHEN s1 = s2 AND e1 < e2 THEN 'starts' " +
        "WHEN s1 = s2 THEN 'started_by' " +
        "WHEN e1 = e2 AND s1 > s2 THEN 'finishes' " +
        "WHEN e1 = e2 THEN 'finished_by' " +
        "WHEN s1 > s2 AND e1 < e2 THEN 'during' " +
        "WHEN s1 < s2 AND e1 > e2 THEN 'contains' " +
        "WHEN s1 < s2 THEN 'overlaps' ELSE 'overlapped_by' END"
    val pairs = a.join(b, "user_id").filter(col("t1") < col("t2"))
      .withColumn("relation", expr(rel))
    val total = pairs.agg(count(lit(1)).as("tot"))
    pairs.groupBy("relation").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("relation"), col("n"),
        Det.rnd(col("n").cast("double") / col("tot"), 6).as("share"))
      .orderBy("relation")
  }

  val allenRelationsSql: String = {
    val rel =
      "CASE WHEN s1 = s2 AND e1 = e2 THEN 'equal' " +
        "WHEN e1 < s2 THEN 'before' WHEN e2 < s1 THEN 'after' " +
        "WHEN e1 = s2 THEN 'meets' WHEN e2 = s1 THEN 'met_by' " +
        "WHEN s1 = s2 AND e1 < e2 THEN 'starts' " +
        "WHEN s1 = s2 THEN 'started_by' " +
        "WHEN e1 = e2 AND s1 > s2 THEN 'finishes' " +
        "WHEN e1 = e2 THEN 'finished_by' " +
        "WHEN s1 > s2 AND e1 < e2 THEN 'during' " +
        "WHEN s1 < s2 AND e1 > e2 THEN 'contains' " +
        "WHEN s1 < s2 THEN 'overlaps' ELSE 'overlapped_by' END"
    s"""WITH spans AS (
       |  SELECT user_id, event_type,
       |         min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
       |  FROM events GROUP BY 1, 2),
       |p AS (
       |  SELECT $rel AS relation
       |  FROM (SELECT a.user_id, a.event_type AS t1, a.s AS s1, a.e AS e1,
       |               b.event_type AS t2, b.s AS s2, b.e AS e2
       |        FROM spans a JOIN spans b
       |          ON a.user_id = b.user_id AND a.event_type < b.event_type)),
       |tot AS (SELECT count(*) AS tot FROM p)
       |SELECT relation, count(*) AS n,
       |       ${Det.rndSql("CAST(count(*) AS DOUBLE) / tot", 6)} AS share
       |FROM p CROSS JOIN tot
       |GROUP BY relation, tot
       |ORDER BY relation""".stripMargin
  }

  // Shapley over 4 channels: weight(|S|) = |S|!(3−|S|)!/4!, exact
  // rational literals shared by both engines
  private val ShapleyChannels = Seq("click", "error", "signup", "view")
  private val ShapleyW = "CASE bit_count(s) WHEN 0 THEN 0.25 WHEN 1 THEN " +
    "0.0833333333333333 WHEN 2 THEN 0.0833333333333333 ELSE 0.25 END"

  /** EXACT SHAPLEY-VALUE CHANNEL ATTRIBUTION (the game-theoretic
    * upgrade of [[attribution]]'s first/last-touch): each channel's
    * credit for conversion is its average marginal contribution over
    * ALL coalition orders — v(S) = empirical conversion rate of
    * users whose exposure set is exactly S, φᵢ = Σ_S w(|S|)·
    * (v(S∪i) − v(S)) with the factorial weights as pinned literals.
    * Position-free and symmetric by construction, which touch-based
    * rules provably are not.
    *
    * Scale shape: the corpus collapses to the 2⁴-row exposure-mask
    * value table in one pass (mask = bit-OR of exposure flags, conv
    * = any purchase); the Shapley sum is a 4×8 lattice walk in mask
    * space — broadcast joins over a 16-row relation. Missing
    * coalitions (no user with that exact set) contribute v = 0,
    * surfaced via the n_obs column. Rates are exact-integer ratios
    * fenced before the weighted sum of ≤ 8 terms. */
  def shapleyAttribution(spark: SparkSession, dir: String): DataFrame =
    shapleyAttributionOf(Tables(spark, dir, "events"))

  private[graft] def shapleyAttributionOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession; import s.implicits._
    val aggs = ShapleyChannels.zipWithIndex.map { case (c, i) =>
      max(when(col("event_type") === c, 1L << i).otherwise(0L)).as(s"b$i")
    } :+ max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv")
    val users = events.groupBy("user_id").agg(aggs.head, aggs.tail: _*)
      .withColumn("mask", col("b0") + col("b1") + col("b2") + col("b3"))
    val vtab = users.groupBy("mask")
      .agg(count(lit(1)).as("nm"), sum("conv").as("cm"))
      .select(col("mask"), col("nm"), col("cm"),
        Det.rnd(col("cm").cast("double") / col("nm"), 9).as("v"))
      .localCheckpoint() // ≤ 16 rows
    val channels = ShapleyChannels.zipWithIndex.toDF("channel", "i")
    // enumerate ALL 2⁴ coalitions (not just observed masks): a missing
    // BASE coalition must still contribute its v(S∪i) − 0 term
    val coalitions = channels
      .select(col("channel"), col("i"),
        explode(expr("sequence(0, 15)")).as("s0"))
      .select(col("channel"), col("i"), col("s0").cast("long").as("s"))
      .filter(expr("(s div shiftleft(CAST(1 AS BIGINT), i)) % 2 = 0"))
    val terms = coalitions
      .join(vtab.select(col("mask").as("s"), col("v").as("v0")), Seq("s"), "left")
      .join(vtab.select(
        col("mask").as("swith"), col("v").as("v1"), col("nm").as("n1")),
        expr("swith = s + shiftleft(CAST(1 AS BIGINT), i)"), "left")
      .withColumn("w", expr(ShapleyW))
      .withColumn("term",
        col("w") * (coalesce(col("v1"), lit(0.0)) - coalesce(col("v0"), lit(0.0))))
    terms.groupBy("channel")
      .agg(Det.rnd(sum("term"), 6).as("phi"),
        sum(coalesce(col("n1"), lit(0L))).as("n_obs"))
      .orderBy("channel")
  }

  val shapleyAttributionSql: String = {
    val bits = ShapleyChannels.zipWithIndex.map { case (c, i) =>
      s"max(CASE WHEN event_type = '$c' THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val chan = ShapleyChannels.zipWithIndex
      .map { case (c, i) => s"('$c', $i)" }.mkString(", ")
    s"""WITH u AS (
       |  SELECT user_id, $bits AS mask,
       |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY 1),
       |vt AS (
       |  SELECT mask, count(*) AS nm, CAST(sum(conv) AS BIGINT) AS cm,
       |         ${Det.rndSql("CAST(sum(conv) AS DOUBLE) / count(*)", 9)} AS v
       |  FROM u GROUP BY 1),
       |ch AS (SELECT * FROM (VALUES $chan) c(channel, i)),
       |co AS (
       |  SELECT channel, i, s
       |  FROM ch CROSS JOIN (SELECT unnest(range(16)) AS s)
       |  WHERE (s // (CAST(1 AS BIGINT) << i)) % 2 = 0),
       |t AS (
       |  SELECT co.channel,
       |         ($ShapleyW) * (coalesce(v1.v, 0.0) - coalesce(v0.v, 0.0)) AS term,
       |         coalesce(v1.nm, 0) AS n1
       |  FROM co
       |  LEFT JOIN vt v0 ON v0.mask = co.s
       |  LEFT JOIN vt v1 ON v1.mask = co.s + (CAST(1 AS BIGINT) << co.i))
       |SELECT channel, ${Det.rndSql("sum(term)", 6)} AS phi,
       |       CAST(sum(n1) AS BIGINT) AS n_obs
       |FROM t
       |GROUP BY channel
       |ORDER BY channel""".stripMargin
  }

  /** OTSU'S THRESHOLD (1979) on the event-value distribution: the
    * cut that MAXIMIZES between-class variance — the histogram-space
    * answer to "where do I split cheap from expensive events" that
    * needs no labels, no quantile target, and no iteration (every
    * candidate cut is evaluated in closed form from prefix moments).
    * The unsupervised complement of [[graft.queries.TextQueries]]'
    * threshold sweep (which needs a ground-truth label to sweep
    * against).
    *
    * Scale shape: the corpus collapses to the distinct-cents
    * histogram in one pass (value-bounded — the gini/equi-depth
    * technique); prefix count/sum windows run in histogram space;
    * σ²_between = N₀N₁(μ₀−μ₁)²/N² per candidate evaluates from exact
    * integer prefixes, fenced at 9 dp before the argmax (threshold
    * asc tie-break), so both engines pick the identical cut. */
  def otsuThreshold(spark: SparkSession, dir: String): DataFrame =
    otsuThresholdOf(Tables(spark, dir, "events"))

  private[graft] def otsuThresholdOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val hist = events.select(Det.cents(col("value")).as("c"))
      .groupBy("c").agg(count(lit(1)).as("cnt"))
      .withColumn("n0", sum("cnt").over(wCum))     // class 0: values ≤ c
      .withColumn("s0", sum(col("c") * col("cnt")).over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .withColumn("s", sum(col("c") * col("cnt")).over(wAll))
      .filter(col("n0") < col("n")) // a cut must leave both classes nonempty
    val sb = "(CAST(n0 AS DOUBLE) * (n - n0) * " +
      "((CAST(s0 AS DOUBLE) / n0) - (CAST(s - s0 AS DOUBLE) / (n - n0))) * " +
      "((CAST(s0 AS DOUBLE) / n0) - (CAST(s - s0 AS DOUBLE) / (n - n0))) / " +
      "(CAST(n AS DOUBLE) * n))"
    hist
      .withColumn("sbv", Det.rnd(expr(sb), 9))
      .orderBy(desc("sbv"), asc("c"))
      .limit(1)
      .select((col("c").cast("double") / 100.0).as("threshold"),
        col("n0"), (col("n") - col("n0")).as("n1"),
        Det.rnd(expr("CAST(s0 AS DOUBLE) / n0") / 100.0, 4).as("mean_low"),
        Det.rnd(expr("CAST(s - s0 AS DOUBLE) / (n - n0)") / 100.0, 4).as("mean_high"),
        col("sbv").as("between_var"))
  }

  val otsuThresholdSql: String = {
    val sb = "(CAST(n0 AS DOUBLE) * (n - n0) * " +
      "((CAST(s0 AS DOUBLE) / n0) - (CAST(s - s0 AS DOUBLE) / (n - n0))) * " +
      "((CAST(s0 AS DOUBLE) / n0) - (CAST(s - s0 AS DOUBLE) / (n - n0))) / " +
      "(CAST(n AS DOUBLE) * n))"
    s"""WITH h AS (
       |  SELECT c, count(*) AS cnt
       |  FROM (SELECT ${Det.centsSql("value")} AS c FROM events)
       |  GROUP BY 1),
       |p AS (
       |  SELECT c,
       |         CAST(sum(cnt) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
       |                             AND CURRENT ROW) AS BIGINT) AS n0,
       |         CAST(sum(c * cnt) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
       |                                 AND CURRENT ROW) AS BIGINT) AS s0,
       |         CAST(sum(cnt) OVER () AS BIGINT) AS n,
       |         CAST(sum(c * cnt) OVER () AS BIGINT) AS s
       |  FROM h),
       |f AS (SELECT p.*, ${Det.rndSql(sb, 9)} AS sbv FROM p WHERE n0 < n)
       |SELECT CAST(c AS DOUBLE) / 100.0 AS threshold, n0, n - n0 AS n1,
       |       ${Det.rndSql("(CAST(s0 AS DOUBLE) / n0) / 100.0", 4)} AS mean_low,
       |       ${Det.rndSql("(CAST(s - s0 AS DOUBLE) / (n - n0)) / 100.0", 4)} AS mean_high,
       |       sbv AS between_var
       |FROM f
       |ORDER BY sbv DESC, c
       |LIMIT 1""".stripMargin
  }

  /** 1-D WASSERSTEIN (earth-mover) DRIFT between the event-value
    * distributions of the two timeline halves: W₁ = ∫|F_A − F_B| —
    * the drift measure in DOLLARS (how far probability mass moved),
    * where [[psiDrift]] reports binned log-ratios and [[ksSplitDrift]]
    * the single worst CDF gap; W₁ is the one that's also a bound on
    * how much any Lipschitz metric (mean revenue, say) can have
    * moved.
    *
    * Scale shape: the corpus collapses to the distinct-cents
    * histogram with per-half conditional counts in one pass; the CDF
    * walk is a prefix window + lead over that value-bounded relation.
    * EXACT END TO END: the integrand |cumA·n_B − cumB·n_A|·gap sums
    * in decimal(38,0) over a common denominator, with ONE fenced
    * division at output — no per-step float CDF. */
  def wassersteinDrift(spark: SparkSession, dir: String): DataFrame =
    wassersteinDriftOf(Tables(spark, dir, "events"))

  private[graft] def wassersteinDriftOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val span = events.agg(min(unix_micros(col("ts"))).as("t0"),
      max(unix_micros(col("ts"))).as("t1"))
    val halves = events.crossJoin(broadcast(span))
      .select(Det.cents(col("value")).as("c"),
        when(unix_micros(col("ts")) * 2 >= col("t0") + col("t1"), 1)
          .otherwise(0).as("h"))
    val wCum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    val wLead = Window.orderBy("c")
    val d38 = "decimal(38,0)"
    val hist = halves.groupBy("c")
      .agg(sum(when(col("h") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("h") === 1, 1L).otherwise(0L)).as("cb"))
      .withColumn("cuma", sum("ca").over(wCum))
      .withColumn("cumb", sum("cb").over(wCum))
      .withColumn("gap", coalesce(lead("c", 1).over(wLead) - col("c"), lit(0L)))
    val tot = halves.agg(
      sum(when(col("h") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("h") === 1, 1L).otherwise(0L)).as("nb"))
    hist.crossJoin(broadcast(tot))
      .withColumn("term",
        abs(col("cuma").cast(d38) * col("nb") - col("cumb").cast(d38) * col("na"))
          * col("gap"))
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        sum(col("term").cast(d38)).as("s"))
      .select(col("n_a"), col("n_b"),
        Det.rnd(col("s").cast("double")
          / (col("n_a").cast("double") * col("n_b") * 100.0), 6).as("w1_dollars"))
  }

  val wassersteinDriftSql: String =
    s"""WITH span AS (
       |  SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events),
       |halves AS (
       |  SELECT ${Det.centsSql("value")} AS c,
       |         CASE WHEN epoch_us(ts) * 2 >= t0 + t1 THEN 1 ELSE 0 END AS h
       |  FROM events CROSS JOIN span),
       |tot AS (
       |  SELECT CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |         CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
       |  FROM halves),
       |hist AS (
       |  SELECT c,
       |         CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |         CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM halves GROUP BY 1),
       |cdf AS (
       |  SELECT c,
       |         CAST(sum(ca) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
       |                            AND CURRENT ROW) AS BIGINT) AS cuma,
       |         CAST(sum(cb) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
       |                            AND CURRENT ROW) AS BIGINT) AS cumb,
       |         coalesce(lead(c, 1) OVER (ORDER BY c) - c, 0) AS gap
       |  FROM hist)
       |SELECT na AS n_a, nb AS n_b,
       |       ${Det.rndSql(
          "CAST(sum(abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na) * gap) AS DOUBLE)" +
            " / (CAST(na AS DOUBLE) * nb * 100.0)", 6)} AS w1_dollars
       |FROM cdf CROSS JOIN tot
       |GROUP BY na, nb""".stripMargin

  /** PRICE/VOLUME/MIX DECOMPOSITION of the year-over-year revenue
    * change per order-priority segment (the FP&A variance bridge):
    * Δrev = price effect (Q_B·Δp) + volume effect ((ΔQ)·p_A), with
    * the volume effect further split into PURE volume (the segment
    * growing with the market) and MIX (the segment's share shifting)
    * — the decomposition identity Δrev = price + pure_volume + mix
    * holds EXACTLY by construction and is emitted as an audit column.
    *
    * Scale shape: one pass collapses the fact join to per-(segment ×
    * year) exact integer (quantity, revenue-unit) cells; the whole
    * bridge is arithmetic on the segment-cardinality relation with a
    * 1-row broadcast of the market totals. Unit prices are exact-
    * integer ratios; effects are fenced once at output. */
  def priceVolumeMix(spark: SparkSession, dir: String): DataFrame =
    priceVolumeMixOf(Tables(spark, dir, "orders"), Tables(spark, dir, "lineitem"))

  private[graft] def priceVolumeMixOf(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val units = expr(
      "CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))")
    val cells = lineitem
      .join(orders.select(col("o_orderkey"), col("o_orderpriority"),
        year(col("o_orderdate")).as("yr")), col("l_orderkey") === col("o_orderkey"))
      .filter(col("yr").isin(1996, 1997))
      .groupBy(col("o_orderpriority").as("segment"))
      .agg(
        sum(when(col("yr") === 1996, col("l_quantity").cast("long")).otherwise(0L)).as("qa"),
        sum(when(col("yr") === 1996, units).otherwise(0L).cast("decimal(38,0)")).as("ra"),
        sum(when(col("yr") === 1997, col("l_quantity").cast("long")).otherwise(0L)).as("qb"),
        sum(when(col("yr") === 1997, units).otherwise(0L).cast("decimal(38,0)")).as("rb"))
    val tot = cells.agg(sum("qa").as("ta"), sum("qb").as("tb"))
    // all in 1/10⁴-dollar units; pa/pb are exact-integer ratios
    val pa = "(CAST(ra AS DOUBLE) / qa)"; val pb = "(CAST(rb AS DOUBLE) / qb)"
    val priceEff = s"(qb * ($pb - $pa))"
    val volEff = s"((qb - qa) * $pa)"
    val pureVol = s"(qa * (CAST(tb AS DOUBLE) / ta - 1.0) * $pa)"
    cells.crossJoin(broadcast(tot))
      .select(col("segment"), col("qa"), col("qb"),
        Det.rnd(expr("CAST(ra AS DOUBLE)") / 10000.0, 2).as("rev_a"),
        Det.rnd(expr("CAST(rb AS DOUBLE)") / 10000.0, 2).as("rev_b"),
        Det.rnd(expr(priceEff) / 10000.0, 2).as("price_eff"),
        Det.rnd(expr(pureVol) / 10000.0, 2).as("pure_volume_eff"),
        Det.rnd(expr(s"$volEff - $pureVol") / 10000.0, 2).as("mix_eff"),
        // the bridge identity, auditable: Δrev − (price + volume) ≡ 0
        Det.rnd(expr(s"CAST(rb - ra AS DOUBLE) - ($priceEff + $volEff)") / 10000.0, 2)
          .as("residual"))
      .orderBy("segment")
  }

  val priceVolumeMixSql: String = {
    val pa = "(CAST(ra AS DOUBLE) / qa)"; val pb = "(CAST(rb AS DOUBLE) / qb)"
    val priceEff = s"(qb * ($pb - $pa))"
    val volEff = s"((qb - qa) * $pa)"
    val pureVol = s"(qa * (CAST(tb AS DOUBLE) / ta - 1.0) * $pa)"
    s"""WITH cells AS (
       |  SELECT o_orderpriority AS segment,
       |         CAST(sum(CASE WHEN yr = 1996 THEN q ELSE 0 END) AS BIGINT) AS qa,
       |         sum(CASE WHEN yr = 1996 THEN CAST(u AS HUGEINT) ELSE 0 END) AS ra,
       |         CAST(sum(CASE WHEN yr = 1997 THEN q ELSE 0 END) AS BIGINT) AS qb,
       |         sum(CASE WHEN yr = 1997 THEN CAST(u AS HUGEINT) ELSE 0 END) AS rb
       |  FROM (SELECT o_orderpriority, year(o_orderdate) AS yr,
       |               CAST(round(l_quantity) AS BIGINT) AS q,
       |               CAST(round(l_extendedprice * 100) AS BIGINT)
       |                 * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
       |        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |        WHERE year(o_orderdate) IN (1996, 1997))
       |  GROUP BY 1),
       |tot AS (SELECT CAST(sum(qa) AS BIGINT) AS ta,
       |               CAST(sum(qb) AS BIGINT) AS tb FROM cells)
       |SELECT segment, qa, qb,
       |       ${Det.rndSql("CAST(ra AS DOUBLE) / 10000.0", 2)} AS rev_a,
       |       ${Det.rndSql("CAST(rb AS DOUBLE) / 10000.0", 2)} AS rev_b,
       |       ${Det.rndSql(s"$priceEff / 10000.0", 2)} AS price_eff,
       |       ${Det.rndSql(s"$pureVol / 10000.0", 2)} AS pure_volume_eff,
       |       ${Det.rndSql(s"($volEff - $pureVol) / 10000.0", 2)} AS mix_eff,
       |       ${Det.rndSql(s"(CAST(rb - ra AS DOUBLE) - ($priceEff + $volEff)) / 10000.0", 2)}
       |         AS residual
       |FROM cells CROSS JOIN tot
       |ORDER BY segment""".stripMargin
  }

  private val RboP = 0.9
  private val RboDepth = 20
  private val RboPivot = "1998-01-01"

  /** RANK-BIASED OVERLAP (Webber, Moffat & Zobel 2010) between the
    * customer revenue rankings of the two order-date halves — the
    * top-weighted ranking-stability readout [[SimilarityQueries
    * .kendallRankings]]' Kendall-tau (uniform pair weighting) cannot
    * give: RBO discounts depth d by p^(d-1), so churn among the top
    * customers moves the score and churn at rank 19 barely does —
    * exactly the emphasis a "did our biggest accounts change?"
    * question needs. Output is the per-depth agreement PROFILE plus
    * the cumulative truncated RBO, so the depth where the halves
    * diverge is readable directly.
    *
    * Scale shape: each half's ranking is one exact-cents aggregate +
    * TakeOrdered([[RboDepth]]); everything after lives on two
    * 20-row relations (overlap join, depth explode, prefix sums).
    * Agreement counts are exact integers; p^(d-1) is a double power
    * of the same literals on both engines behind a 6-dp fence. */
  def rbo(spark: SparkSession, dir: String): DataFrame =
    rboOf(Tables(spark, dir, "orders"))

  private[graft] def rboOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def half(pred: org.apache.spark.sql.Column, name: String): DataFrame = orders
      .filter(pred)
      .groupBy("o_custkey").agg(sum(Det.cents(col("o_totalprice"))).as("rev"))
      .withColumn(name, row_number().over(Window.orderBy(desc("rev"), asc("o_custkey"))))
      .filter(col(name) <= RboDepth)
      .select(col("o_custkey").as("c"), col(name))
    val a = half(col("o_orderdate") < lit(RboPivot).cast("date"), "ra")
    val b = half(col("o_orderdate") >= lit(RboPivot).cast("date"), "rb")
    val m = a.join(b, "c").select(greatest(col("ra"), col("rb")).as("m"))
    val depths = orders.sparkSession.range(1, RboDepth + 1)
      .select(col("id").cast("int").as("d"))
    depths.join(m, col("m") <= col("d"), "left")
      .groupBy("d").agg(sum(when(col("m").isNotNull, 1L).otherwise(0L)).as("x_d"))
      .withColumn("agree", Det.rnd(col("x_d").cast("double") / col("d"), 6))
      .withColumn("w", pow(lit(RboP), col("d") - 1) * (1 - RboP)
        * col("x_d").cast("double") / col("d"))
      .withColumn("rbo_cum", Det.rnd(
        sum("w").over(Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, 0)), 6))
      .select(col("d"), col("x_d"), col("agree"), col("rbo_cum"))
      .orderBy("d")
  }

  val rboSql: String =
    s"""WITH ha AS (
       |  SELECT o_custkey AS c,
       |         row_number() OVER (ORDER BY CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) DESC,
       |                            o_custkey) AS ra
       |  FROM orders WHERE o_orderdate < DATE '$RboPivot' GROUP BY 1),
       |hb AS (
       |  SELECT o_custkey AS c,
       |         row_number() OVER (ORDER BY CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) DESC,
       |                            o_custkey) AS rb
       |  FROM orders WHERE o_orderdate >= DATE '$RboPivot' GROUP BY 1),
       |m AS (
       |  SELECT greatest(ra, rb) AS m
       |  FROM (SELECT * FROM ha WHERE ra <= $RboDepth) a
       |  JOIN (SELECT * FROM hb WHERE rb <= $RboDepth) b USING (c)),
       |prof AS (
       |  SELECT d, CAST(coalesce(sum(CASE WHEN m.m <= d THEN 1 ELSE 0 END), 0) AS BIGINT) AS x_d
       |  FROM (SELECT CAST(unnest(range(1, ${RboDepth + 1})) AS INTEGER) AS d)
       |  LEFT JOIN m ON m.m <= d
       |  GROUP BY 1)
       |SELECT d, x_d,
       |       ${Det.rndSql("CAST(x_d AS DOUBLE) / d", 6)} AS agree,
       |       ${Det.rndSql(
          s"sum(power($RboP, d - 1) * ${1 - RboP} * x_d / d) OVER (ORDER BY d)", 6)}
       |         AS rbo_cum
       |FROM prof
       |ORDER BY d""".stripMargin

  private val SegThresholds = Seq(("high", 100000000L), ("mid", 50000000L)) // cents: $1M / $500K per half

  /** CUSTOMER SEGMENT MIGRATION across the [[RboPivot]] date halves:
    * each customer lands in a fixed-threshold spend tier per half
    * (high / mid / low in exact cents; 'none' when absent from a
    * half), and the output is the from->to transition matrix with row
    * shares — the churn/upgrade ledger behind every "where did our
    * high-value customers go" review, and the customer-level
    * companion of [[markovTransitions]]' event-level chain.
    *
    * Scale shape: one exact-cents aggregate per (customer, half) —
    * a single shuffle on the customer key — then a full-outer join of
    * the two customer-bounded tier relations and a tier x tier (<= 16
    * row) matrix aggregate. Thresholds are fixed literals, so tiers
    * never depend on data-order quantiles. */
  def segmentMigration(spark: SparkSession, dir: String): DataFrame =
    segmentMigrationOf(Tables(spark, dir, "orders"))

  private[graft] def segmentMigrationOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tier = (c: org.apache.spark.sql.Column) =>
      when(c >= SegThresholds(0)._2, SegThresholds(0)._1)
        .when(c >= SegThresholds(1)._2, SegThresholds(1)._1)
        .otherwise("low")
    def half(pred: org.apache.spark.sql.Column, name: String): DataFrame = orders.filter(pred)
      .groupBy("o_custkey").agg(sum(Det.cents(col("o_totalprice"))).as("rev"))
      .select(col("o_custkey").as("c"), tier(col("rev")).as(name))
    val a = half(col("o_orderdate") < lit(RboPivot).cast("date"), "t_from")
    val b = half(col("o_orderdate") >= lit(RboPivot).cast("date"), "t_to")
    a.join(b, Seq("c"), "full_outer")
      .select(coalesce(col("t_from"), lit("none")).as("from_tier"),
        coalesce(col("t_to"), lit("none")).as("to_tier"))
      .groupBy("from_tier", "to_tier").agg(count(lit(1)).as("n_customers"))
      .withColumn("row_share", Det.rnd(col("n_customers").cast("double")
        / sum("n_customers").over(Window.partitionBy("from_tier")), 6))
      .orderBy("from_tier", "to_tier")
  }

  val segmentMigrationSql: String = {
    val tierSql = (rev: String) =>
      s"CASE WHEN $rev >= ${SegThresholds(0)._2} THEN '${SegThresholds(0)._1}' " +
        s"WHEN $rev >= ${SegThresholds(1)._2} THEN '${SegThresholds(1)._1}' " +
        "ELSE 'low' END"
    s"""WITH ha AS (
       |  SELECT o_custkey AS c, ${tierSql(
          s"CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT)")} AS t_from
       |  FROM orders WHERE o_orderdate < DATE '$RboPivot' GROUP BY 1),
       |hb AS (
       |  SELECT o_custkey AS c, ${tierSql(
          s"CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT)")} AS t_to
       |  FROM orders WHERE o_orderdate >= DATE '$RboPivot' GROUP BY 1),
       |j AS (
       |  SELECT coalesce(t_from, 'none') AS from_tier,
       |         coalesce(t_to, 'none') AS to_tier
       |  FROM ha FULL OUTER JOIN hb USING (c))
       |SELECT from_tier, to_tier, count(*) AS n_customers,
       |       ${Det.rndSql(
          "CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY from_tier)", 6)}
       |         AS row_share
       |FROM j
       |GROUP BY 1, 2
       |ORDER BY from_tier, to_tier""".stripMargin
  }

  /** ABC (PARETO) CLASSIFICATION of parts by lineitem revenue: rank
    * parts by exact-cents revenue, classify by cumulative share — A
    * carries the first 80% of revenue, B to 95%, C the tail — the
    * inventory-policy operator next to [[giniConcentration]] (one
    * inequality number) and `q_decile_lift` (fixed-width deciles):
    * ABC cuts at REVENUE share, so class sizes reveal concentration
    * directly. Class boundaries compare exact integer products
    * (cum*100 vs total*80), never float shares, so the classline
    * cannot sit in rounding noise.
    *
    * Scale shape: one shuffle aggregates revenue per part; the
    * cumulative window runs over the part-bounded relation (the
    * [[ExtensionQueries]] rank-window discipline), and the output is
    * 3 rows of class aggregates. */
  def abcAnalysis(spark: SparkSession, dir: String): DataFrame =
    abcAnalysisOf(Tables(spark, dir, "lineitem"))

  private[graft] def abcAnalysisOf(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the tpchQ3 exact-revenue idiom: cent-hundredths integer units
    // summed in decimal, half-up rounded to exact cents — the class
    // boundaries then compare exact longs
    val units = expr(
      "CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))")
    val rev = lineitem
      .groupBy("l_partkey")
      .agg(((sum(units.cast("decimal(38,0)")) + 50).cast("decimal(38,0)") / 100)
        .cast("long").as("rev"))
    val w = Window.orderBy(desc("rev"), asc("l_partkey"))
    val classed = rev
      .withColumn("cum", sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("total", sum("rev").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("abc_class",
        when(col("cum") * 100 <= col("total") * 80, "A")
          .when(col("cum") * 100 <= col("total") * 95, "B")
          .otherwise("C"))
    classed.groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"), sum("rev").as("rev_cents"),
        min("rev").as("min_cents"))
      .withColumn("revenue_share", Det.rnd(col("rev_cents").cast("double")
        / sum("rev_cents").over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)), 6))
      .select(col("abc_class"), col("n_parts"),
        (col("rev_cents").cast("double") / 100.0).as("revenue"),
        col("revenue_share"),
        (col("min_cents").cast("double") / 100.0).as("min_part_revenue"))
      .orderBy("abc_class")
  }

  val abcAnalysisSql: String =
    s"""WITH rev AS (
       |  SELECT l_partkey,
       |         CAST(CAST((sum(CAST(u AS HUGEINT)) + 50) // 100 AS BIGINT) AS BIGINT) AS rev
       |  FROM (SELECT l_partkey,
       |               CAST(round(l_extendedprice * 100) AS BIGINT)
       |                 * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
       |        FROM lineitem)
       |  GROUP BY 1),
       |classed AS (
       |  SELECT rev,
       |         CASE WHEN cum * 100 <= total * 80 THEN 'A'
       |              WHEN cum * 100 <= total * 95 THEN 'B'
       |              ELSE 'C' END AS abc_class
       |  FROM (SELECT l_partkey, rev,
       |               CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey) AS BIGINT) AS cum,
       |               CAST(sum(rev) OVER () AS BIGINT) AS total
       |        FROM rev))
       |SELECT abc_class, count(*) AS n_parts,
       |       CAST(CAST(sum(rev) AS BIGINT) AS DOUBLE) / 100.0 AS revenue,
       |       ${Det.rndSql("CAST(sum(rev) AS DOUBLE) / CAST(sum(sum(rev)) OVER () AS DOUBLE)", 6)}
       |         AS revenue_share,
       |       CAST(min(rev) AS DOUBLE) / 100.0 AS min_part_revenue
       |FROM classed
       |GROUP BY 1
       |ORDER BY abc_class""".stripMargin

  /** ENTROPY RATE of the user-event Markov chain — the
    * conditional-entropy-of-the-next-event estimator H = -SUM p(i,j)
    * ln p(j|i) over the empirical bigram distribution that
    * [[markovTransitions]] tabulates: one number (and its per-state
    * decomposition) for how PREDICTABLE user behavior is, bounded
    * above by ln(out-degree); the behavioral-entropy companion of
    * `q_char_entropy` (symbol level) and `q_mix_entropy` (corpus
    * composition level).
    *
    * Scale shape: identical to [[markovTransitions]] — one exchange
    * on user_id for the lag, one aggregate to the state x state (<=
    * event-type-squared) relation; every entropy term then lives on
    * bounded rows. ln on exact count ratios behind the 6-dp fence. */
  def entropyRate(spark: SparkSession, dir: String): DataFrame =
    entropyRateOf(Tables(spark, dir, "events"))

  private[graft] def entropyRateOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val counts = events
      .select(col("user_id"), col("event_type").as("dst"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      .withColumn("src", lag("dst", 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("row_total", sum("cnt").over(Window.partitionBy("src")))
      .withColumn("grand", sum("cnt").over(wAll))
      .groupBy(col("src").as("state"))
      .agg(max("row_total").as("n_from"), max("grand").as("grand"),
        count(lit(1)).as("out_degree"),
        sum(col("cnt").cast("double") * log(col("cnt").cast("double")
          / col("row_total"))).as("negH"))
      .select(col("state"), col("n_from"), col("out_degree").cast("long").as("out_degree"),
        Det.rnd(col("n_from").cast("double") / col("grand"), 6).as("p_state"),
        Det.rnd(-col("negH") / col("n_from"), 6).as("h_cond_nats"),
        Det.rnd(-col("negH") / col("grand"), 6).as("h_contribution"))
      .orderBy("state")
  }

  val entropyRateSql: String =
    s"""WITH bi AS (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY epoch_us(ts), event_id) AS src,
       |         event_type AS dst
       |  FROM events),
       |c AS (SELECT src, dst, count(*) AS cnt FROM bi
       |      WHERE src IS NOT NULL GROUP BY 1, 2),
       |g AS (SELECT CAST(sum(cnt) AS BIGINT) AS grand FROM c)
       |SELECT src AS state,
       |       CAST(sum(cnt) AS BIGINT) AS n_from,
       |       count(*) AS out_degree,
       |       ${Det.rndSql("CAST(sum(cnt) AS DOUBLE) / (SELECT grand FROM g)", 6)} AS p_state,
       |       ${Det.rndSql(
          "-sum(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))) / sum(cnt)", 6)}
       |         AS h_cond_nats,
       |       ${Det.rndSql(
          "-sum(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))) / (SELECT grand FROM g)", 6)}
       |         AS h_contribution
       |FROM (SELECT src, dst, cnt,
       |             CAST(sum(cnt) OVER (PARTITION BY src) AS BIGINT) AS tot
       |      FROM c)
       |GROUP BY src
       |ORDER BY state""".stripMargin

  /** NELSON-AALEN CUMULATIVE HAZARD of the conversion process —
    * H(t) = SUM over days <= t of d/n_risk, with variance SUM
    * d/n_risk^2 and the Fleming-Harrington survival exp(-H): the
    * hazard-scale companion of [[survivalKm]] (KM multiplies survival
    * factors; NA adds hazard increments, is defined even past KM's
    * S = 0 extinction day, and its increments read directly as
    * "conversion pressure per day"). Identical time-to-event framing
    * (first event -> first >= [[KmValueMin]] purchase; censor at
    * corpus end), so the two curves share the per-day risk table and
    * are directly comparable.
    *
    * Scale shape: one groupBy(user) pass to durations, a
    * day-cardinality risk table, windowed prefix sums in day order —
    * both engines add the same doubles in the same order (the
    * survivalKm log-sum precedent). */
  def nelsonAalen(spark: SparkSession, dir: String): DataFrame =
    nelsonAalenOf(Tables(spark, dir, "events"))

  private[graft] def nelsonAalenOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = events.groupBy("user_id").agg(
      min(unix_micros(col("ts"))).as("first_us"),
      min(when(col("event_type") === "purchase" && col("value") >= KmValueMin,
        unix_micros(col("ts")))).as("conv_us"))
    val corpusEnd = events.agg(max(unix_micros(col("ts"))).as("end_us"))
    val daily = users.crossJoin(broadcast(corpusEnd))
      .select(
        expr("(coalesce(conv_us, end_us) - first_us) div 86400000000").as("day"),
        col("conv_us").isNotNull.as("obs"))
      .groupBy("day").agg(
        sum(when(col("obs"), 1L).otherwise(0L)).as("d"),
        sum(when(col("obs"), 0L).otherwise(1L)).as("c"))
    val w = Window.orderBy("day")
    daily
      .withColumn("gone_before", coalesce(sum(col("d") + col("c"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum(col("d") + col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n_risk", col("total") - col("gone_before"))
      .withColumn("cum_hazard", Det.rnd(
        sum(col("d").cast("double") / col("n_risk"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), 4))
      .withColumn("hazard_var", Det.rnd(
        sum(col("d").cast("double") / (col("n_risk") * col("n_risk")))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), 6))
      .withColumn("surv_fh", Det.rnd(exp(-sum(col("d").cast("double") / col("n_risk"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))), 4))
      .select(col("day"), col("d"), col("c"), col("n_risk"),
        col("cum_hazard"), col("hazard_var"), col("surv_fh"))
      .orderBy("day")
  }

  val nelsonAalenSql: String =
    s"""WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
       |                  min(CASE WHEN event_type = 'purchase' AND value >= $KmValueMin
       |                           THEN epoch_us(ts) END) AS conv
       |           FROM events GROUP BY 1),
       |h AS (SELECT max(epoch_us(ts)) AS e FROM events),
       |dd AS (SELECT (coalesce(conv, e) - f) // 86400000000 AS day,
       |              CAST(sum(CASE WHEN conv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |              CAST(sum(CASE WHEN conv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c
       |       FROM u CROSS JOIN h GROUP BY 1),
       |wdw AS (SELECT day, d, c,
       |               sum(d + c) OVER ()
       |                 - coalesce(sum(d + c) OVER (ORDER BY day
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
       |        FROM dd)
       |SELECT day, d, c, CAST(n_risk AS BIGINT) AS n_risk,
       |       ${Det.rndSql(
          "sum(CAST(d AS DOUBLE) / n_risk) OVER (ORDER BY day " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 4)} AS cum_hazard,
       |       ${Det.rndSql(
          "sum(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk)) OVER (ORDER BY day " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 6)} AS hazard_var,
       |       ${Det.rndSql(
          "exp(-sum(CAST(d AS DOUBLE) / n_risk) OVER (ORDER BY day " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))", 4)} AS surv_fh
       |FROM wdw
       |ORDER BY day""".stripMargin

  /** HERFINDAHL-HIRSCHMAN CONCENTRATION of customer revenue within
    * each region — HHI = SUM over customers of (share x 10000)^2 /
    * 1e8, the antitrust-style market-concentration index next to
    * [[giniConcentration]] (Gini reads inequality of the
    * distribution; HHI reads how close a market is to monopoly and
    * moves sharply with the TOP shares). Top-1 share rides along.
    *
    * Scale shape: star join orders->customer->nation->region (dims
    * broadcast), one exact-cents aggregate per (region, customer),
    * then region-bounded share math. */
  def hhiConcentration(spark: SparkSession, dir: String): DataFrame =
    hhiConcentrationOf(Tables(spark, dir, "orders"), Tables(spark, dir, "customer"),
      Tables(spark, dir, "nation"), Tables(spark, dir, "region"))

  private[graft] def hhiConcentrationOf(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val percust = orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("o_custkey"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("cents"))
    val wr = Window.partitionBy("region")
    percust
      .withColumn("tot", sum("cents").over(wr))
      .withColumn("share", col("cents").cast("double") / col("tot"))
      .groupBy("region")
      .agg(count(lit(1)).as("n_customers"),
        (sum("cents").cast("double") / 100.0).as("revenue"),
        Det.rnd(sum(col("share") * col("share")) * 10000, 2).as("hhi"),
        Det.rnd(max("share"), 6).as("top_share"))
      .orderBy("region")
  }

  val hhiConcentrationSql: String =
    s"""WITH pc AS (
       |  SELECT r_name AS region, o_custkey,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS cents
       |  FROM orders
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN nation ON n_nationkey = c_nationkey
       |  JOIN region ON r_regionkey = n_regionkey
       |  GROUP BY 1, 2),
       |sh AS (
       |  SELECT region, cents,
       |         CAST(cents AS DOUBLE) / sum(cents) OVER (PARTITION BY region) AS share
       |  FROM pc)
       |SELECT region, count(*) AS n_customers,
       |       CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0 AS revenue,
       |       ${Det.rndSql("sum(share * share) * 10000", 2)} AS hhi,
       |       ${Det.rndSql("max(share)", 6)} AS top_share
       |FROM sh
       |GROUP BY 1
       |ORDER BY region""".stripMargin

  /** ENERGY DISTANCE (Szekely) between the two order-date halves'
    * order-value distributions — ED^2 = 2E|X-Y| - E|X-X'| - E|Y-Y'|,
    * the metric two-sample statistic that detects ANY distributional
    * change (location, scale, shape) where [[wassersteinDrift]] reads
    * transport cost and `q_ks_split_drift` reads max CDF gap. All
    * three expectations are EXACT: for 1-D data, SUM over pairs
    * |a-b| = SUM over the sorted sequence of rank-weighted prefix
    * differences — one sort-order window per population pairing, no
    * pair join, every term an integer product in decimal(38,0).
    *
    * Scale shape: the pairwise-sum trick is rank arithmetic — for
    * sorted v with 1-based rank r: SUM pairs |v_i - v_j| (i<j) =
    * SUM_r v_r * (2r - n - 1); the cross term E|X-Y| comes from the
    * same identity on the pooled sequence minus the within terms
    * (|pooled pairs| = |XX'| + |YY'| + |XY|). Windows run on the
    * value-bounded sorted relations. */
  def energyDistance(spark: SparkSession, dir: String): DataFrame =
    energyDistanceOf(Tables(spark, dir, "orders"))

  private[graft] def energyDistanceOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val vals = orders.select(Det.cents(col("o_totalprice")).as("v"),
      (col("o_orderdate") < lit("1998-01-01").cast("date")).as("isx"))
    // pairwise-|diff| sum of one population over its VALUE HISTOGRAM
    // (the wassersteinDrift discipline): contribution of value v_k =
    // v_k*c_k*P_k - c_k*S_k with prefix count P and prefix value-sum
    // S — windows run over the distinct-cents relation, never a
    // global row sort of the corpus
    def pairSum(df: DataFrame): DataFrame = {
      val w = Window.orderBy("v")
      df.groupBy("v").agg(count(lit(1)).as("c"))
        .withColumn("pc", coalesce(sum("c")
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("ps", coalesce(sum(col("c").cast(d38) * col("v"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0).cast(d38)))
        .agg(sum(col("v").cast(d38) * col("c") * col("pc")
          - col("c").cast(d38) * col("ps")).as("s"),
          sum("c").as("n"))
    }
    val sx = pairSum(vals.filter(col("isx")).select("v"))
      .select(col("s").as("sxx"), col("n").as("nx"))
    val sy = pairSum(vals.filter(!col("isx")).select("v"))
      .select(col("s").as("syy"), col("n").as("ny"))
    val sp = pairSum(vals.select("v")).select(col("s").as("spp"))
    sx.crossJoin(sy).crossJoin(sp)
      .withColumn("sxy", col("spp") - col("sxx") - col("syy"))
      .select(col("nx"), col("ny"),
        Det.rnd(col("sxy").cast("double") / (col("nx") * col("ny") * 100.0), 4)
          .as("e_xy"),
        Det.rnd(col("sxx").cast("double") * 2
          / (col("nx").cast("double") * col("nx") * 100.0), 4).as("e_xx"),
        Det.rnd(col("syy").cast("double") * 2
          / (col("ny").cast("double") * col("ny") * 100.0), 4).as("e_yy"),
        Det.rnd(
          col("sxy").cast("double") * 2 / (col("nx") * col("ny") * 100.0)
            - col("sxx").cast("double") * 2 / (col("nx").cast("double") * col("nx") * 100.0)
            - col("syy").cast("double") * 2 / (col("ny").cast("double") * col("ny") * 100.0),
          4).as("energy_dist_sq"))
  }

  val energyDistanceSql: String = {
    def pairCte(name: String, where: String) =
      s"""$name AS (
         |  SELECT sum(CAST(v AS HUGEINT) * c * pc - CAST(c AS HUGEINT) * ps) AS s,
         |         sum(c) AS n
         |  FROM (SELECT v, c,
         |               coalesce(sum(c) OVER (ORDER BY v
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pc,
         |               coalesce(sum(CAST(c AS HUGEINT) * v) OVER (ORDER BY v
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ps
         |        FROM (SELECT v, count(*) AS c FROM vals $where GROUP BY 1)))""".stripMargin
    s"""WITH vals AS (
       |  SELECT ${Det.centsSql("o_totalprice")} AS v,
       |         o_orderdate < DATE '1998-01-01' AS isx
       |  FROM orders),
       |${pairCte("sx", "WHERE isx")},
       |${pairCte("sy", "WHERE NOT isx")},
       |${pairCte("sp", "")}
       |SELECT CAST(sx.n AS BIGINT) AS nx, CAST(sy.n AS BIGINT) AS ny,
       |       ${Det.rndSql(
          "CAST(sp.s - sx.s - sy.s AS DOUBLE) / (sx.n * sy.n * 100.0)", 4)} AS e_xy,
       |       ${Det.rndSql(
          "CAST(sx.s AS DOUBLE) * 2 / (CAST(sx.n AS DOUBLE) * sx.n * 100.0)", 4)} AS e_xx,
       |       ${Det.rndSql(
          "CAST(sy.s AS DOUBLE) * 2 / (CAST(sy.n AS DOUBLE) * sy.n * 100.0)", 4)} AS e_yy,
       |       ${Det.rndSql(
          "CAST(sp.s - sx.s - sy.s AS DOUBLE) * 2 / (sx.n * sy.n * 100.0)" +
            " - CAST(sx.s AS DOUBLE) * 2 / (CAST(sx.n AS DOUBLE) * sx.n * 100.0)" +
            " - CAST(sy.s AS DOUBLE) * 2 / (CAST(sy.n AS DOUBLE) * sy.n * 100.0)", 4)}
       |         AS energy_dist_sq
       |FROM sx, sy, sp""".stripMargin
  }

  /** ATKINSON INEQUALITY INDEX of per-customer revenue within each
    * region, at aversion eps = 0.5 and eps = 1 — the welfare-based
    * member of the inequality family ([[giniConcentration]] reads
    * rank-order inequality, [[hhiConcentration]] top-share market
    * power; Atkinson answers "what equal-revenue fraction buys the
    * same welfare", with eps tuning how much the bottom matters):
    * A(0.5) = 1 - (mean sqrt y)^2 / mean y and
    * A(1) = 1 - geomean(y) / mean y — both scale-invariant, so exact
    * integer cents feed them directly.
    *
    * Determinism: sqrt is IEEE-exact on integer-valued doubles; each
    * per-customer sqrt/ln term is fenced to fixed-point integer units
    * BEFORE the region sum (4dp sqrt, 8dp ln), so the aggregates are
    * exact integer sums no partial-aggregation order can move; the
    * two index divisions run once per region on identical doubles.
    *
    * Scale shape: the [[hhiConcentrationOf]] star join (dims
    * broadcast), one exact aggregate per (region, customer), then a
    * region-cardinality finish. */
  def atkinsonIndex(spark: SparkSession, dir: String): DataFrame =
    atkinsonIndexOf(Tables(spark, dir, "orders"), Tables(spark, dir, "customer"),
      Tables(spark, dir, "nation"), Tables(spark, dir, "region"))

  private[graft] def atkinsonIndexOf(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val percust = orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("o_custkey"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("cents"))
    percust
      .select(col("region"), col("cents"),
        Det.units(sqrt(col("cents").cast("double")), 4).as("sq4"),
        Det.units(log(col("cents").cast("double")), 8).as("ln8"))
      .groupBy("region")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("tot"),
        sum("sq4").as("ssq"), sum("ln8").as("sln"))
      .select(col("region"), col("n_customers"),
        Det.rnd(col("tot").cast("double") / (col("n_customers") * 100.0), 2)
          .as("mean_revenue"),
        Det.rnd(greatest(lit(0.0), lit(1.0)
          - pow(col("ssq").cast("double") / (col("n_customers") * 1e4), 2)
            / (col("tot").cast("double") / col("n_customers"))), 6)
          .as("atkinson_05"),
        Det.rnd(greatest(lit(0.0), lit(1.0)
          - exp(col("sln").cast("double") / (col("n_customers") * 1e8))
            / (col("tot").cast("double") / col("n_customers"))), 6)
          .as("atkinson_1"))
      .orderBy("region")
  }

  val atkinsonIndexSql: String =
    s"""WITH pc AS (
       |  SELECT r_name AS region, o_custkey,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS cents
       |  FROM orders
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN nation ON n_nationkey = c_nationkey
       |  JOIN region ON r_regionkey = n_regionkey
       |  GROUP BY 1, 2),
       |t AS (SELECT region, cents,
       |             ${Det.unitsSql("sqrt(CAST(cents AS DOUBLE))", 4)} AS sq4,
       |             ${Det.unitsSql("ln(CAST(cents AS DOUBLE))", 8)} AS ln8
       |      FROM pc),
       |ag AS (SELECT region, count(*) AS n, CAST(sum(cents) AS BIGINT) AS tot,
       |              CAST(sum(sq4) AS BIGINT) AS ssq, CAST(sum(ln8) AS BIGINT) AS sln
       |       FROM t GROUP BY 1)
       |SELECT region, n AS n_customers,
       |       ${Det.rndSql("CAST(tot AS DOUBLE) / (n * 100.0)", 2)} AS mean_revenue,
       |       ${Det.rndSql(
          "greatest(0.0, 1.0 - pow(CAST(ssq AS DOUBLE) / (n * 1e4), 2)" +
            " / (CAST(tot AS DOUBLE) / n))", 6)} AS atkinson_05,
       |       ${Det.rndSql(
          "greatest(0.0, 1.0 - exp(CAST(sln AS DOUBLE) / (n * 1e8))" +
            " / (CAST(tot AS DOUBLE) / n))", 6)} AS atkinson_1
       |FROM ag
       |ORDER BY region""".stripMargin

  /** MOOD'S MEDIAN TEST of order value across order priorities —
    * counts above vs at-or-below the POOLED lower median per group
    * and reads the chi-square contingency statistic: the
    * median-robust companion of `q_kruskal_wallis` (KW ranks
    * everything and reacts to any distributional shift; Mood only
    * asks "does this group land above the common median more often
    * than chance", immune to tails and ties beyond the median cell).
    *
    * Exactness: the pooled median comes off the distinct-cents
    * histogram (smallest value whose cumulative count reaches
    * ceil(n/2) — the [[giniConcentration]] histogram discipline, no
    * global row sort); cell counts and margins are exact integers;
    * each group's chi-square term is one double expression on exact
    * ints, fenced to 6dp units before the final exact sum. */
  def moodMedian(spark: SparkSession, dir: String): DataFrame =
    moodMedianOf(Tables(spark, dir, "orders"))

  private[graft] def moodMedianOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = orders.select(col("o_orderpriority").as("grp"),
      Det.cents(col("o_totalprice")).as("v"))
    val hist = vals.groupBy("v").agg(count(lit(1)).as("m"))
    val wa = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val med = hist
      .withColumn("cum", sum("m").over(wa))
      .withColumn("n", sum("m").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min("v").as("med"), first("n").as("n"))
    val cells = vals.crossJoin(broadcast(med))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_group"),
        sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("above"),
        first("med").as("med"), first("n").as("n"))
      .withColumn("tot_above", sum("above").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("e_above",
        col("n_group").cast("double") * col("tot_above") / col("n"))
      .withColumn("e_le",
        col("n_group").cast("double") * (col("n") - col("tot_above")) / col("n"))
      .withColumn("term6", Det.units(
        pow(col("above") - col("e_above"), 2) / col("e_above")
          + pow((col("n_group") - col("above")) - col("e_le"), 2) / col("e_le"), 6))
    cells
      .withColumn("chi2", Det.rnd(sum("term6").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("double") / 1e6, 4))
      .select(col("grp").as("priority"), col("n_group"), col("above"),
        (col("n_group") - col("above")).as("below_eq"),
        Det.rnd(col("e_above"), 4).as("expected_above"),
        col("med").as("median_cents"), col("chi2"))
      .orderBy("priority")
  }

  val moodMedianSql: String =
    s"""WITH vals AS (SELECT o_orderpriority AS grp,
       |                     ${Det.centsSql("o_totalprice")} AS v
       |              FROM orders),
       |hist AS (SELECT v, count(*) AS m FROM vals GROUP BY 1),
       |med AS (SELECT min(v) AS med, any_value(n) AS n
       |        FROM (SELECT v,
       |                     sum(m) OVER (ORDER BY v
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |                     sum(m) OVER () AS n
       |              FROM hist)
       |        WHERE cum >= (n + 1) // 2),
       |cells AS (SELECT grp, count(*) AS n_group,
       |                 CAST(sum(CASE WHEN v > med THEN 1 ELSE 0 END) AS BIGINT) AS above,
       |                 any_value(med) AS med, any_value(n) AS n
       |          FROM vals CROSS JOIN med GROUP BY 1),
       |ex AS (SELECT grp, n_group, above, med, n,
       |              sum(above) OVER () AS tot_above,
       |              CAST(n_group AS DOUBLE) * sum(above) OVER () / n AS e_above,
       |              CAST(n_group AS DOUBLE) * (n - sum(above) OVER ()) / n AS e_le
       |       FROM cells),
       |tm AS (SELECT *, ${Det.unitsSql(
          "pow(above - e_above, 2) / e_above" +
            " + pow((n_group - above) - e_le, 2) / e_le", 6)} AS term6
       |       FROM ex)
       |SELECT grp AS priority, n_group, above,
       |       CAST(n_group - above AS BIGINT) AS below_eq,
       |       ${Det.rndSql("e_above", 4)} AS expected_above,
       |       CAST(med AS BIGINT) AS median_cents,
       |       ${Det.rndSql("CAST(sum(term6) OVER () AS DOUBLE) / 1e6", 4)} AS chi2
       |FROM tm
       |ORDER BY priority""".stripMargin

  /** Cutoff and bandwidth (both in acctbal cents) for the regression
    * discontinuity read: customers within $1000 either side of a zero
    * account balance. */
  private val RddCutCents = 0L
  private val RddBwCents = 100000L

  /** REGRESSION DISCONTINUITY of customer revenue at the zero-balance
    * cutoff — separate local linear fits (closed-form OLS) on the
    * customers within the [[RddBwCents]] bandwidth either side of
    * acctbal = 0, reporting both fits and the intercept JUMP at the
    * cutoff: the threshold-based causal design next to
    * `q_diff_in_diff` (DiD needs a time dimension; RD needs only the
    * running variable, and reads the causal effect of crossing the
    * threshold under local-continuity).
    *
    * Exactness: x (acctbal cents, negative-capable) and y (revenue
    * cents) are exact integers; all five OLS moments accumulate in
    * decimal(38,0) with every operand cast BEFORE multiplying (the
    * repo's overflow contract); slope/intercepts are single double
    * expressions on those exact moments, fenced at output.
    *
    * Scale shape: one broadcast-joined revenue aggregate per
    * customer, one filtered moment pass, a 2-row finish. */
  def regressionDiscontinuity(spark: SparkSession, dir: String): DataFrame =
    regressionDiscontinuityOf(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"))

  private[graft] def regressionDiscontinuityOf(customer: DataFrame,
      orders: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val rev = orders.groupBy("o_custkey")
      .agg(sum(Det.cents(col("o_totalprice"))).as("ycents"))
    val xy = customer
      .select(col("c_custkey"), Det.cents(col("c_acctbal")).as("x"))
      .filter(col("x") >= RddCutCents - RddBwCents && col("x") <= RddCutCents + RddBwCents)
      .join(rev, col("c_custkey") === col("o_custkey"), "left")
      .select(col("x"), coalesce(col("ycents"), lit(0L)).as("y"),
        (col("x") >= RddCutCents).as("isr"))
    val m = xy.groupBy("isr").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
      sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"))
      .withColumn("den", col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope",
        (col("n").cast(d38) * col("sxy") - col("sx") * col("sy")).cast("double")
          / col("den").cast("double"))
      .withColumn("icept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n").cast("double"))
    val l = m.filter(!col("isr")).select(col("n").as("n_left"),
      col("slope").as("bl"), col("icept").as("al"))
    val r = m.filter(col("isr")).select(col("n").as("n_right"),
      col("slope").as("br"), col("icept").as("ar"))
    l.crossJoin(r).select(
      col("n_left"), col("n_right"),
      Det.rnd(col("bl"), 8).as("slope_left"),
      Det.rnd(col("br"), 8).as("slope_right"),
      Det.rnd(col("al") / 100.0, 2).as("intercept_left"),
      Det.rnd(col("ar") / 100.0, 2).as("intercept_right"),
      Det.rnd((col("ar") - col("al")) / 100.0, 2).as("jump"))
  }

  val regressionDiscontinuitySql: String =
    s"""WITH rev AS (SELECT o_custkey,
       |                    CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS ycents
       |             FROM orders GROUP BY 1),
       |xy AS (SELECT ${Det.centsSql("c_acctbal")} AS x,
       |              coalesce(ycents, 0) AS y,
       |              ${Det.centsSql("c_acctbal")} >= $RddCutCents AS isr
       |       FROM customer LEFT JOIN rev ON o_custkey = c_custkey
       |       WHERE ${Det.centsSql("c_acctbal")}
       |               BETWEEN ${RddCutCents - RddBwCents} AND ${RddCutCents + RddBwCents}),
       |m AS (SELECT isr, count(*) AS n,
       |             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |             sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
       |             sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
       |      FROM xy GROUP BY 1),
       |f AS (SELECT isr, n, slope,
       |             (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS icept
       |      FROM (SELECT *,
       |                   CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
       |                     / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS slope
       |            FROM m))
       |SELECT l.n AS n_left, r.n AS n_right,
       |       ${Det.rndSql("l.slope", 8)} AS slope_left,
       |       ${Det.rndSql("r.slope", 8)} AS slope_right,
       |       ${Det.rndSql("l.icept / 100.0", 2)} AS intercept_left,
       |       ${Det.rndSql("r.icept / 100.0", 2)} AS intercept_right,
       |       ${Det.rndSql("(r.icept - l.icept) / 100.0", 2)} AS jump
       |FROM (SELECT * FROM f WHERE NOT isr) l
       |CROSS JOIN (SELECT * FROM f WHERE isr) r""".stripMargin

  /** IMPUTATION EVALUATION — the masked-holdout benchmark every
    * missing-data strategy needs before it touches production: hide a
    * deterministic 20% of customer balances (the [[TextQueries]]
    * two-round modmul split on `c_custkey`, so membership is a pure
    * function of the key — repartition/engine independent), impute
    * each masked balance with its nation's mean over the UNMASKED 80%
    * (the donor pool), and score the imputation per region with
    * MAE/RMSE against the hidden truth.
    *
    * Exactness: truth is integer cents; the donor mean is half-up
    * rounded to integer cents once (floor(x+0.5) on the identical
    * double both engines compute from exact sum/count), so every
    * per-customer error `d` is an exact BIGINT; |d| and d² are summed
    * with cast-before-multiply decimal(38,0) widening (100 TB
    * overflow contract — d² alone reaches 1e12, and region row counts
    * at scale put the plain-long sum past 2⁶³).
    *
    * Scale shape: one pass for donor means (nation-sized aggregate,
    * broadcast back), one pass for the masked 20% — dims broadcast,
    * never a shuffle wider than the nation-key agg. */
  def imputeEval(spark: SparkSession, dir: String): DataFrame =
    imputeEvalOf(Tables(spark, dir, "customer"), Tables(spark, dir, "nation"),
      Tables(spark, dir, "region"))

  private[graft] def imputeEvalOf(customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame = {
    val cust = customer.select(col("c_custkey"), col("c_nationkey"),
      Det.cents(col("c_acctbal")).as("cents"),
      (expr(TextQueries.splitBucketOf("c_custkey")) < 20).as("masked"))
    val donors = cust.filter(!col("masked"))
      .groupBy("c_nationkey")
      .agg(sum("cents").as("s"), count(lit(1)).as("n_donor"))
      .select(col("c_nationkey").as("d_nationkey"), col("n_donor"),
        Det.rnd(col("s").cast("double") / col("n_donor"), 0).cast("long")
          .as("imp_cents"))
    cust.filter(col("masked"))
      .join(broadcast(donors), col("c_nationkey") === col("d_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"),
        (col("cents") - col("imp_cents")).as("d"))
      .groupBy("region")
      .agg(count(lit(1)).as("n_masked"),
        sum(abs(col("d")).cast("decimal(38,0)")).as("sad"),
        sum(col("d").cast("decimal(38,0)") * col("d")).as("ssd"))
      .select(col("region"), col("n_masked"),
        Det.rnd(col("sad").cast("double") / (col("n_masked") * 100.0), 2).as("mae"),
        Det.rnd(sqrt(col("ssd").cast("double") / col("n_masked")) / 100.0, 2)
          .as("rmse"))
      .orderBy("region")
  }

  val imputeEvalSql: String =
    s"""WITH cust AS (
       |  SELECT c_custkey, c_nationkey,
       |         ${Det.centsSql("c_acctbal")} AS cents,
       |         ${TextQueries.splitBucketSqlOf("c_custkey")} < 20 AS masked
       |  FROM customer),
       |don AS (
       |  SELECT c_nationkey AS d_nationkey, count(*) AS n_donor,
       |         CAST(${Det.rndSql(
          "CAST(sum(cents) AS DOUBLE) / count(*)", 0)} AS BIGINT) AS imp_cents
       |  FROM cust WHERE NOT masked GROUP BY 1),
       |m AS (
       |  SELECT r_name AS region, cents - imp_cents AS d
       |  FROM cust
       |  JOIN don ON d_nationkey = c_nationkey
       |  JOIN nation ON n_nationkey = c_nationkey
       |  JOIN region ON r_regionkey = n_regionkey
       |  WHERE masked)
       |SELECT region, count(*) AS n_masked,
       |       ${Det.rndSql(
          "CAST(sum(CAST(abs(d) AS HUGEINT)) AS DOUBLE) / (count(*) * 100.0)",
          2)} AS mae,
       |       ${Det.rndSql(
          "sqrt(CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE) / count(*)) / 100.0",
          2)} AS rmse
       |FROM m GROUP BY 1
       |ORDER BY region""".stripMargin

  /** Nations of the SYNTHETIC CONTROL study: treated unit and its
    * three region-0 donor peers. */
  private final val ScTreated = 0
  private final val ScDonors = Seq(5, 10, 15)
  private final val ScPostFrom = "1999-01"

  /** SYNTHETIC CONTROL — the causal-inference estimator for a single
    * treated unit: express nation 0's pre-period monthly revenue as
    * the best convex combination of three donor nations (weights on
    * an exact integer grid w1+w2+w3 = 20, i.e. twentieths), then read
    * the post-period gap between the treated series and its synthetic
    * twin. The grid search replaces the usual constrained-QP fit with
    * an exactly-reproducible argmin: every candidate SSE is an exact
    * integer (revenues in cents, the 1/20 weight scale cleared by
    * comparing 20·treated against Σwᵢ·donorᵢ), widened
    * cast-before-multiply to decimal(38,0)/HUGEINT, so both engines
    * pick the identical winner; ties break on the (w1,w2,w3) tuple.
    *
    * Scale shape: the star join aggregates straight to a months×4
    * relation (dims broadcast); the 231-combo grid and the best-row
    * join are broadcast literals. Nothing downstream of the first
    * agg scales with the corpus. */
  def syntheticControl(spark: SparkSession, dir: String): DataFrame =
    syntheticControlOf(Tables(spark, dir, "orders"), Tables(spark, dir, "customer"))

  private[graft] def syntheticControlOf(orders: DataFrame,
      customer: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def natSum(k: Int) =
      sum(when(col("c_nationkey") === k, Det.cents(col("o_totalprice")))
        .otherwise(0L))
    val rev = orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey").isin((ScTreated +: ScDonors).map(Int.box): _*))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(natSum(ScTreated).as("t"), natSum(ScDonors(0)).as("d1"),
        natSum(ScDonors(1)).as("d2"), natSum(ScDonors(2)).as("d3"))
    val combos = rev.sparkSession.range(1)
      .select(explode(sequence(lit(0), lit(20))).as("w1"))
      .select(col("w1"), explode(sequence(lit(0), lit(20) - col("w1"))).as("w2"))
      .withColumn("w3", lit(20) - col("w1") - col("w2"))
    val syn = col("w1") * col("d1") + col("w2") * col("d2") + col("w3") * col("d3")
    val best = rev.filter(col("month") < ScPostFrom)
      .crossJoin(broadcast(combos))
      .select(col("w1"), col("w2"), col("w3"),
        (lit(20L) * col("t") - syn).as("diff20"))
      .groupBy("w1", "w2", "w3")
      .agg(sum(col("diff20").cast("decimal(38,0)") * col("diff20")).as("sse"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("sse").asc, col("w1").asc, col("w2").asc, col("w3").asc)))
      .filter(col("rk") === 1)
      .select("w1", "w2", "w3")
    rev.filter(col("month") >= ScPostFrom)
      .crossJoin(broadcast(best))
      .select(col("month"), col("w1"), col("w2"), col("w3"),
        Det.rnd(col("t").cast("double") / 100.0, 2).as("treated_revenue"),
        Det.rnd(syn.cast("double") / 2000.0, 2).as("synthetic_revenue"),
        Det.rnd((lit(20L) * col("t") - syn).cast("double") / 2000.0, 2).as("gap"))
      .orderBy("month")
  }

  val syntheticControlSql: String =
    s"""WITH rev AS (
       |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
       |         CAST(sum(CASE WHEN c_nationkey = $ScTreated
       |                       THEN ${Det.centsSql("o_totalprice")} ELSE 0 END)
       |              AS BIGINT) AS t,
       |         CAST(sum(CASE WHEN c_nationkey = ${ScDonors(0)}
       |                       THEN ${Det.centsSql("o_totalprice")} ELSE 0 END)
       |              AS BIGINT) AS d1,
       |         CAST(sum(CASE WHEN c_nationkey = ${ScDonors(1)}
       |                       THEN ${Det.centsSql("o_totalprice")} ELSE 0 END)
       |              AS BIGINT) AS d2,
       |         CAST(sum(CASE WHEN c_nationkey = ${ScDonors(2)}
       |                       THEN ${Det.centsSql("o_totalprice")} ELSE 0 END)
       |              AS BIGINT) AS d3
       |  FROM orders JOIN customer ON c_custkey = o_custkey
       |  WHERE c_nationkey IN ($ScTreated, ${ScDonors.mkString(", ")})
       |  GROUP BY 1),
       |combos AS (
       |  SELECT a.g AS w1, b.g AS w2, 20 - a.g - b.g AS w3
       |  FROM (SELECT unnest(range(21)) AS g) a,
       |       (SELECT unnest(range(21)) AS g) b
       |  WHERE a.g + b.g <= 20),
       |sse AS (
       |  SELECT w1, w2, w3, sum(CAST(diff20 AS HUGEINT) * diff20) AS sse
       |  FROM (SELECT c.w1, c.w2, c.w3,
       |               20 * t - (c.w1 * d1 + c.w2 * d2 + c.w3 * d3) AS diff20
       |        FROM rev CROSS JOIN combos c
       |        WHERE month < '$ScPostFrom')
       |  GROUP BY 1, 2, 3),
       |best AS (SELECT w1, w2, w3 FROM sse
       |         ORDER BY sse, w1, w2, w3 LIMIT 1)
       |SELECT month,
       |       CAST(w1 AS INTEGER) AS w1, CAST(w2 AS INTEGER) AS w2,
       |       CAST(w3 AS INTEGER) AS w3,
       |       ${Det.rndSql("CAST(t AS DOUBLE) / 100.0", 2)} AS treated_revenue,
       |       ${Det.rndSql(
          "CAST(w1 * d1 + w2 * d2 + w3 * d3 AS DOUBLE) / 2000.0",
          2)} AS synthetic_revenue,
       |       ${Det.rndSql(
          "CAST(20 * t - (w1 * d1 + w2 * d2 + w3 * d3) AS DOUBLE) / 2000.0",
          2)} AS gap
       |FROM rev CROSS JOIN best
       |WHERE month >= '$ScPostFrom'
       |ORDER BY month""".stripMargin

  /** WELCH'S ANOVA of order value across order priorities — the
    * unequal-variance generalization of [[anovaF]] (classic F assumes
    * homoscedasticity; Welch weights each group by nᵢ/s²ᵢ and
    * Satterthwaite-corrects the denominator df, the robust default
    * recommendation). Both the numerator and the λ correction expand
    * algebraically into PER-GROUP power sums (Σwᵢmᵢ, Σwᵢmᵢ², Σwᵢ²/(nᵢ−1),
    * …), so the whole statistic is closed-form over one k-row group
    * table — the [[anovaF]] discipline: exact integer moments per
    * group (Σc exact BIGINT, Σc² widened cast-before-multiply to
    * decimal(38,0) per the 100 TB overflow contract), then fixed
    * double expressions over the tiny relation. Groups with nᵢ < 2 or
    * zero variance carry no weight information and are dropped
    * (documented, mirrored). */
  def welchAnova(spark: SparkSession, dir: String): DataFrame =
    welchAnovaOf(Tables(spark, dir, "orders"))

  private[graft] def welchAnovaOf(orders: DataFrame): DataFrame = {
    val g = orders
      .select(col("o_orderpriority").as("grp"),
        Det.cents(col("o_totalprice")).as("c"))
      .groupBy("grp")
      .agg(count(lit(1)).as("ni"), sum("c").as("si"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("qi"))
      .select(col("ni"), col("si"),
        ((col("qi").cast("double")
          - col("si").cast("double") * col("si") / col("ni"))
          / (col("ni") - 1)).as("vi"))
      .filter(col("ni") >= 2 && col("vi") > 0)
      .select(col("ni"), (col("ni") / col("vi")).as("wi"),
        (col("si").cast("double") / col("ni")).as("mi"))
    g.agg(count(lit(1)).as("k"), sum("ni").as("n"),
        sum("wi").as("sw"), sum(col("wi") * col("mi")).as("swm"),
        sum(col("wi") * col("mi") * col("mi")).as("swm2"),
        sum(lit(1.0) / (col("ni") - 1)).as("h0"),
        sum(col("wi") / (col("ni") - 1)).as("h1"),
        sum(col("wi") * col("wi") / (col("ni") - 1)).as("h2"))
      .select(col("k"), col("n"),
        Det.rnd(expr(
          "((swm2 - swm * swm / sw) / (k - 1)) / " +
            "(1.0 + 2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1) * " +
            "(h0 - 2.0 * h1 / sw + h2 / (sw * sw)))"), 4).as("f_stat"),
        Det.rnd(expr(
          "(CAST(k AS DOUBLE) * k - 1) / " +
            "(3.0 * (h0 - 2.0 * h1 / sw + h2 / (sw * sw)))"), 2).as("df2"))
  }

  val welchAnovaSql: String =
    s"""WITH g0 AS (
       |  SELECT o_orderpriority AS grp, count(*) AS ni,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS si,
       |         sum(CAST(${Det.centsSql("o_totalprice")} AS HUGEINT)
       |             * ${Det.centsSql("o_totalprice")}) AS qi
       |  FROM orders GROUP BY 1),
       |g1 AS (
       |  SELECT ni, si,
       |         (CAST(qi AS DOUBLE) - CAST(si AS DOUBLE) * si / ni) / (ni - 1) AS vi
       |  FROM g0 WHERE ni >= 2),
       |g AS (
       |  SELECT ni, ni / vi AS wi, CAST(si AS DOUBLE) / ni AS mi
       |  FROM g1 WHERE vi > 0),
       |a AS (
       |  SELECT count(*) AS k, CAST(sum(ni) AS BIGINT) AS n,
       |         sum(wi) AS sw, sum(wi * mi) AS swm, sum(wi * mi * mi) AS swm2,
       |         sum(1.0 / (ni - 1)) AS h0, sum(wi / (ni - 1)) AS h1,
       |         sum(wi * wi / (ni - 1)) AS h2
       |  FROM g)
       |SELECT k, n,
       |       ${Det.rndSql(
          "((swm2 - swm * swm / sw) / (k - 1)) / " +
            "(1.0 + 2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1) * " +
            "(h0 - 2.0 * h1 / sw + h2 / (sw * sw)))", 4)} AS f_stat,
       |       ${Det.rndSql(
          "(CAST(k AS DOUBLE) * k - 1) / " +
            "(3.0 * (h0 - 2.0 * h1 / sw + h2 / (sw * sw)))", 2)} AS df2
       |FROM a""".stripMargin

  /** Studentized-range critical value q(α=0.05, k=5, df=∞) — pinned
    * literal per the repo rule that constants never go through engine
    * math (orders are plentiful at every SF, so the ∞-df row of the
    * published table is the honest approximation; documented). */
  private final val TukeyQCrit = "3.858"

  /** TUKEY'S HSD post-hoc pairwise comparison across order
    * priorities — the test run AFTER [[anovaF]] rejects, to say WHICH
    * group means differ while controlling the family-wise error rate
    * (10 pairwise t-tests at α=0.05 would inflate it to ~40%). Pooled
    * MSE from exact per-group power sums ([[welchAnova]] moment
    * discipline); each pair's q = |mᵢ−mⱼ| / √((MSE/2)(1/nᵢ+1/nⱼ))
    * compared against the pinned [[TukeyQCrit]]. The pair join is a
    * k×k self-join of the 5-row group table — value-bounded, never
    * corpus-sized. */
  def tukeyHsd(spark: SparkSession, dir: String): DataFrame =
    tukeyHsdOf(Tables(spark, dir, "orders"))

  private[graft] def tukeyHsdOf(orders: DataFrame): DataFrame = {
    val g = orders
      .select(col("o_orderpriority").as("grp"),
        Det.cents(col("o_totalprice")).as("c"))
      .groupBy("grp")
      .agg(count(lit(1)).as("ni"), sum("c").as("si"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("qi"))
    val mse = g.agg(
      ((sum(col("qi").cast("double")
        - col("si").cast("double") * col("si") / col("ni")))
        / (sum("ni") - count(lit(1)))).as("mse"))
    g.select(col("grp").as("pa"), col("ni").as("na"),
        (col("si").cast("double") / col("ni")).as("ma"))
      .join(g.select(col("grp").as("pb"), col("ni").as("nb"),
        (col("si").cast("double") / col("ni")).as("mb")), col("pa") < col("pb"))
      .crossJoin(broadcast(mse))
      .select(col("pa").as("prio_a"), col("pb").as("prio_b"),
        Det.rnd(col("ma") / 100.0, 2).as("mean_a"),
        Det.rnd(col("mb") / 100.0, 2).as("mean_b"),
        Det.rnd(abs(col("ma") - col("mb")) / 100.0, 2).as("diff"),
        Det.rnd(abs(col("ma") - col("mb"))
          / sqrt(col("mse") / 2.0 * (lit(1.0) / col("na") + lit(1.0) / col("nb"))),
          4).as("q_stat"))
      .withColumn("significant", col("q_stat") > expr(TukeyQCrit))
      .orderBy("prio_a", "prio_b")
  }

  val tukeyHsdSql: String =
    s"""WITH g AS (
       |  SELECT o_orderpriority AS grp, count(*) AS ni,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS si,
       |         sum(CAST(${Det.centsSql("o_totalprice")} AS HUGEINT)
       |             * ${Det.centsSql("o_totalprice")}) AS qi
       |  FROM orders GROUP BY 1),
       |mse AS (
       |  SELECT sum(CAST(qi AS DOUBLE) - CAST(si AS DOUBLE) * si / ni)
       |           / (sum(ni) - count(*)) AS mse
       |  FROM g),
       |q AS (
       |  SELECT a.grp AS prio_a, b.grp AS prio_b,
       |         ${Det.rndSql("CAST(a.si AS DOUBLE) / a.ni / 100.0", 2)} AS mean_a,
       |         ${Det.rndSql("CAST(b.si AS DOUBLE) / b.ni / 100.0", 2)} AS mean_b,
       |         ${Det.rndSql(
          "abs(CAST(a.si AS DOUBLE) / a.ni - CAST(b.si AS DOUBLE) / b.ni) / 100.0",
          2)} AS diff,
       |         ${Det.rndSql(
          "abs(CAST(a.si AS DOUBLE) / a.ni - CAST(b.si AS DOUBLE) / b.ni) / " +
            "sqrt(mse / 2.0 * (1.0 / a.ni + 1.0 / b.ni))", 4)} AS q_stat
       |  FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN mse)
       |SELECT prio_a, prio_b, mean_a, mean_b, diff, q_stat,
       |       q_stat > $TukeyQCrit AS significant
       |FROM q
       |ORDER BY prio_a, prio_b""".stripMargin

  private final val DhondtSeats = 64

  /** D'HONDT + SAINTE-LAGUË SEAT APPORTIONMENT of [[DhondtSeats]]
    * shards across document sources proportional to their doc counts —
    * the divisor methods every sharded ingest eventually reinvents
    * when "round(share·N)" hands out 63 or 65 shards (largest-
    * remainder is non-monotone; divisor methods are). Quotients
    * cᵢ/d over the divisor ladders (d = 1..N for D'Hondt, odd 1,3,5,…
    * for Sainte-Laguë which favors small sources); the top N quotient
    * rows ARE the seat grants. Both engines divide the same exact
    * integers — identical IEEE doubles — and exact quotient ties
    * (cᵢdⱼ = cⱼdᵢ) break on (source, divisor).
    *
    * Scale shape: one count per source, then a sources×N ladder —
    * value-bounded (sources are an enum), never corpus-sized. */
  def dhondtAlloc(spark: SparkSession, dir: String): DataFrame =
    dhondtAllocOf(Tables(spark, dir, "documents"), DhondtSeats)

  private[graft] def dhondtAllocOf(docs: DataFrame, seats: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val ladder = counts
      .select(col("source"), col("n_docs"),
        explode(sequence(lit(1), lit(seats))).as("i"))
      .select(col("source"), col("n_docs"), col("i"),
        (col("n_docs").cast("double") / col("i")).as("dh_q"),
        (col("n_docs").cast("double") / (col("i") * 2 - 1)).as("sl_q"))
    val dh = Window.orderBy(desc("dh_q"), asc("source"), asc("i"))
    val sl = Window.orderBy(desc("sl_q"), asc("source"), asc("i"))
    ladder
      .withColumn("dh_r", row_number().over(dh))
      .withColumn("sl_r", row_number().over(sl))
      .groupBy("source")
      .agg(max("n_docs").as("n_docs"),
        sum(when(col("dh_r") <= seats, 1L).otherwise(0L)).as("dhondt_seats"),
        sum(when(col("sl_r") <= seats, 1L).otherwise(0L)).as("sl_seats"))
      .withColumn("share", Det.rnd(
        col("n_docs").cast("double")
          / sum("n_docs").over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)), 6))
      .select(col("source"), col("n_docs"), col("dhondt_seats"),
        col("sl_seats"), col("share"))
      .orderBy("source")
  }

  def dhondtAllocSqlOf(seats: Int): String =
    s"""WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
       |ladder AS (
       |  SELECT source, n_docs, CAST(i + 1 AS INTEGER) AS i,
       |         CAST(n_docs AS DOUBLE) / (i + 1) AS dh_q,
       |         CAST(n_docs AS DOUBLE) / ((i + 1) * 2 - 1) AS sl_q
       |  FROM counts, (SELECT unnest(range($seats)) AS i)),
       |rk AS (
       |  SELECT source, n_docs,
       |         row_number() OVER (ORDER BY dh_q DESC, source, i) AS dh_r,
       |         row_number() OVER (ORDER BY sl_q DESC, source, i) AS sl_r
       |  FROM ladder),
       |seats AS (
       |  SELECT source, max(n_docs) AS n_docs,
       |         CAST(sum(CASE WHEN dh_r <= $seats THEN 1 ELSE 0 END) AS BIGINT)
       |           AS dhondt_seats,
       |         CAST(sum(CASE WHEN sl_r <= $seats THEN 1 ELSE 0 END) AS BIGINT)
       |           AS sl_seats
       |  FROM rk GROUP BY 1)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, dhondt_seats, sl_seats,
       |       ${Det.rndSql(
          "CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ()", 6)} AS share
       |FROM seats
       |ORDER BY source""".stripMargin

  val dhondtAllocSql: String = dhondtAllocSqlOf(DhondtSeats)

  /** QINI UPLIFT CURVE for a deterministic holdout experiment: rank
    * customers by the model score (account balance, the stand-in
    * scoring column), split treatment/control on the [[TextQueries]]
    * modmul bucket of `c_custkey` (engine/partitioning independent),
    * define conversion as "placed ≥ 1 order", and emit the cumulative
    * Qini statistic per score decile:
    * Qini(d) = convT(d) − convC(d)·nT(d)/nC(d) — the area under this
    * curve is how uplift models are actually ranked.
    *
    * Deciles come from the distinct-score histogram (the
    * [[TextQueries.decileLift]] rule: a per-row global sort "would
    * demand a corpus-wide sort"; score values are value-bounded, rank
    * ties are unsplittable so both engines bucket identically).
    * All counts exact integers; the only doubles are the final fenced
    * ratios. */
  def qiniUplift(spark: SparkSession, dir: String): DataFrame =
    qiniUpliftOf(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"))

  private[graft] def qiniUpliftOf(customer: DataFrame,
      orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val conv = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("no"))
    val cust = customer
      .select(col("c_custkey"), Det.cents(col("c_acctbal")).as("score"),
        (expr(TextQueries.splitBucketOf("c_custkey")) < 50).as("treated"))
      .join(conv, col("c_custkey") === col("o_custkey"), "left")
      .select(col("score"), col("treated"),
        when(col("no").isNotNull, 1L).otherwise(0L).as("conv"))
    val h = cust.groupBy("score")
      .agg(sum(when(col("treated"), 1L).otherwise(0L)).as("nt"),
        sum(when(!col("treated"), 1L).otherwise(0L)).as("nc"),
        sum(when(col("treated"), col("conv")).otherwise(0L)).as("ct"),
        sum(when(!col("treated"), col("conv")).otherwise(0L)).as("cc"))
    val w = Window.orderBy(desc("score"))
    val full = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val dec = h
      .withColumn("cum", coalesce(
        sum(col("nt") + col("nc")).over(w.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("nt") + col("nc")).over(full))
      .groupBy((least(lit(9L), expr("(cum * 10) div n")) + 1).as("decile"))
      .agg(sum("nt").as("n_t"), sum("nc").as("n_c"),
        sum("ct").as("conv_t"), sum("cc").as("conv_c"))
    val cw = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    dec
      .withColumn("cn_t", sum("n_t").over(cw))
      .withColumn("cn_c", sum("n_c").over(cw))
      .withColumn("cconv_t", sum("conv_t").over(cw))
      .withColumn("cconv_c", sum("conv_c").over(cw))
      .select(col("decile"), col("n_t"), col("n_c"), col("conv_t"), col("conv_c"),
        Det.rnd(col("cconv_t") - col("cconv_c").cast("double")
          * col("cn_t") / col("cn_c"), 4).as("qini"))
      .orderBy("decile")
  }

  val qiniUpliftSql: String =
    s"""WITH conv AS (SELECT o_custkey, count(*) AS no FROM orders GROUP BY 1),
       |cust AS (
       |  SELECT ${Det.centsSql("c_acctbal")} AS score,
       |         ${TextQueries.splitBucketSqlOf("c_custkey")} < 50 AS treated,
       |         CASE WHEN no IS NOT NULL THEN 1 ELSE 0 END AS conv
       |  FROM customer LEFT JOIN conv ON o_custkey = c_custkey),
       |h AS (
       |  SELECT score,
       |         CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS nt,
       |         CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS nc,
       |         CAST(sum(CASE WHEN treated THEN conv ELSE 0 END) AS BIGINT) AS ct,
       |         CAST(sum(CASE WHEN NOT treated THEN conv ELSE 0 END) AS BIGINT) AS cc
       |  FROM cust GROUP BY 1),
       |c AS (
       |  SELECT *, coalesce(sum(nt + nc) OVER (ORDER BY score DESC
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
       |         sum(nt + nc) OVER () AS n
       |  FROM h),
       |dec AS (
       |  SELECT least(9, (cum * 10) // n) + 1 AS decile,
       |         CAST(sum(nt) AS BIGINT) AS n_t, CAST(sum(nc) AS BIGINT) AS n_c,
       |         CAST(sum(ct) AS BIGINT) AS conv_t, CAST(sum(cc) AS BIGINT) AS conv_c
       |  FROM c GROUP BY 1)
       |SELECT CAST(decile AS BIGINT) AS decile, n_t, n_c, conv_t, conv_c,
       |       ${Det.rndSql(
          "sum(conv_t) OVER (ORDER BY decile) - " +
            "CAST(sum(conv_c) OVER (ORDER BY decile) AS DOUBLE) * " +
            "sum(n_t) OVER (ORDER BY decile) / sum(n_c) OVER (ORDER BY decile)",
          4)} AS qini
       |FROM dec
       |ORDER BY decile""".stripMargin

  /** WILCOXON SIGNED-RANK test of per-customer revenue pre vs post
    * the [[ScPostFrom]] cut — the PAIRED companion of
    * `q_mann_whitney` (rank-sum compares two independent samples;
    * signed-rank asks whether the within-customer change has median
    * zero, immune to heavy tails where the paired t is not). Zero
    * diffs drop per the standard treatment.
    *
    * Rank statistics without ranking the rows (the mannWhitney
    * histogram identity): |d| collapses to its distinct-value
    * histogram — cardinality bounded by the 2dp money domain, the
    * only corpus-sized passes are the two aggregations — and the
    * tie-averaged doubled rank is r2 = 2·below + t + 1, so
    * 2·W⁺ = Σ p(a)·r2(a) stays exact integer (decimal-widened) until
    * the final fixed z expression with the Σ(t³−t)/48 tie
    * correction. */
  def wilcoxonSigned(spark: SparkSession, dir: String): DataFrame =
    wilcoxonSignedOf(Tables(spark, dir, "orders"))

  private[graft] def wilcoxonSignedOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val per = orders
      .groupBy(col("o_custkey"))
      .agg((sum(when(date_format(col("o_orderdate"), "yyyy-MM") >= ScPostFrom,
        Det.cents(col("o_totalprice"))).otherwise(0L))
        - sum(when(date_format(col("o_orderdate"), "yyyy-MM") < ScPostFrom,
          Det.cents(col("o_totalprice"))).otherwise(0L))).as("d"))
      .filter(col("d") =!= 0L)
      .select(abs(col("d")).as("a"), (col("d") > 0).cast("long").as("pos"))
    val w = Window.orderBy("a").rowsBetween(Window.unboundedPreceding, 0)
    val hist = per.groupBy("a")
      .agg(count(lit(1)).as("t"), sum("pos").as("p"))
      .withColumn("r2", lit(2) * (sum("t").over(w) - col("t")) + col("t") + lit(1))
    hist.agg(sum("t").as("n"),
        sum(col("p").cast(d38) * col("r2")).as("w2"),
        sum(col("t").cast(d38) * col("t") * col("t") - col("t")).as("tie"))
      .select(col("n"),
        Det.rnd(col("w2").cast("double") / 2.0, 1).as("w_plus"),
        // z with tie-corrected variance; degenerate var → 0
        Det.rnd(expr(
          "CASE WHEN CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0" +
            " - CAST(tie AS DOUBLE) / 48.0 <= 0.0 THEN 0.0 ELSE " +
            "(CAST(w2 AS DOUBLE) / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4.0) / " +
            "sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0" +
            " - CAST(tie AS DOUBLE) / 48.0) END"), 4).as("z"))
  }

  val wilcoxonSignedSql: String =
    s"""WITH per AS (
       |  SELECT o_custkey,
       |         CAST(sum(CASE WHEN strftime(o_orderdate, '%Y-%m') >= '$ScPostFrom'
       |                       THEN ${Det.centsSql("o_totalprice")} ELSE 0 END)
       |              - sum(CASE WHEN strftime(o_orderdate, '%Y-%m') < '$ScPostFrom'
       |                         THEN ${Det.centsSql("o_totalprice")} ELSE 0 END)
       |              AS BIGINT) AS d
       |  FROM orders GROUP BY 1),
       |v AS (SELECT abs(d) AS a, CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
       |      FROM per WHERE d <> 0),
       |hist AS (
       |  SELECT a, count(*) AS t, CAST(sum(pos) AS BIGINT) AS p,
       |         2 * (sum(count(*)) OVER (ORDER BY a
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - count(*))
       |           + count(*) + 1 AS r2
       |  FROM v GROUP BY 1),
       |ag AS (
       |  SELECT CAST(sum(t) AS BIGINT) AS n,
       |         sum(CAST(p AS HUGEINT) * r2) AS w2,
       |         sum(CAST(t AS HUGEINT) * t * t - t) AS tie
       |  FROM hist)
       |SELECT n, ${Det.rndSql("CAST(w2 AS DOUBLE) / 2.0", 1)} AS w_plus,
       |       ${Det.rndSql(
          "CASE WHEN CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0" +
            " - CAST(tie AS DOUBLE) / 48.0 <= 0.0 THEN 0.0 ELSE " +
            "(CAST(w2 AS DOUBLE) / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4.0) / " +
            "sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0" +
            " - CAST(tie AS DOUBLE) / 48.0) END", 4)} AS z
       |FROM ag""".stripMargin

  private final val OaxacaSegA = "BUILDING"
  private final val OaxacaSegB = "MACHINERY"

  /** OAXACA-BLINDER DECOMPOSITION of the mean-revenue gap between the
    * [[OaxacaSegA]] and [[OaxacaSegB]] customer segments: how much of
    * the gap is EXPLAINED by the account-balance endowment (segment A
    * sits on richer balances) vs UNEXPLAINED (the same balance earns
    * different revenue — the "discrimination" term in the original
    * wage-gap setting). Two-fold decomposition with A's coefficients
    * as the reference: explained = βA·(x̄A − x̄B), unexplained = gap −
    * explained. Per-segment OLS slopes are closed forms over exact
    * integer power sums (Σx, Σy exact cents; Σxy, Σx² decimal-widened
    * cast-before-multiply), the [[welchAnova]] moment discipline — the
    * whole decomposition reduces to one fixed double expression over
    * a 2-row group table. Customers with no orders count y = 0 (they
    * are part of each segment's endowment). */
  def oaxacaBlinder(spark: SparkSession, dir: String): DataFrame =
    oaxacaBlinderOf(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"))

  private[graft] def oaxacaBlinderOf(customer: DataFrame,
      orders: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val rev = orders.groupBy(col("o_custkey"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("y0"))
    val base = customer
      .filter(col("c_mktsegment").isin(OaxacaSegA, OaxacaSegB))
      .join(rev, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment").as("seg"),
        Det.cents(col("c_acctbal")).as("x"),
        coalesce(col("y0"), lit(0L)).as("y"))
    val g = base.groupBy("seg")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x").cast(d38) * col("y")).as("sxy"),
        sum(col("x").cast(d38) * col("x")).as("sxx"))
      .select(col("seg"), col("n"),
        (col("sx").cast("double") / col("n")).as("mx"),
        (col("sy").cast("double") / col("n")).as("my"),
        ((col("sxy").cast("double") - col("sx").cast("double")
          * col("sy").cast("double") / col("n"))
          / (col("sxx").cast("double") - col("sx").cast("double")
            * col("sx").cast("double") / col("n"))).as("beta"))
    val aa = g.filter(col("seg") === OaxacaSegA)
      .select(col("n").as("n_a"), col("mx").as("mxa"),
        col("my").as("mya"), col("beta").as("ba"))
    val bb = g.filter(col("seg") === OaxacaSegB)
      .select(col("n").as("n_b"), col("mx").as("mxb"),
        col("my").as("myb"), col("beta").as("bb"))
    aa.crossJoin(broadcast(bb))
      .select(
        lit(OaxacaSegA).as("seg_a"), lit(OaxacaSegB).as("seg_b"),
        col("n_a"), col("n_b"),
        Det.rnd((col("mya") - col("myb")) / 100.0, 2).as("gap"),
        Det.rnd(col("ba") * (col("mxa") - col("mxb")) / 100.0, 2).as("explained"),
        Det.rnd(((col("mya") - col("myb"))
          - col("ba") * (col("mxa") - col("mxb"))) / 100.0, 2).as("unexplained"),
        Det.rnd(col("ba"), 6).as("slope_a"), Det.rnd(col("bb"), 6).as("slope_b"))
  }

  val oaxacaBlinderSql: String =
    s"""WITH rev AS (
       |  SELECT o_custkey, CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS y0
       |  FROM orders GROUP BY 1),
       |base AS (
       |  SELECT c_mktsegment AS seg, ${Det.centsSql("c_acctbal")} AS x,
       |         coalesce(y0, 0) AS y
       |  FROM customer LEFT JOIN rev ON o_custkey = c_custkey
       |  WHERE c_mktsegment IN ('$OaxacaSegA', '$OaxacaSegB')),
       |g AS (
       |  SELECT seg, count(*) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         sum(CAST(x AS HUGEINT) * y) AS sxy,
       |         sum(CAST(x AS HUGEINT) * x) AS sxx
       |  FROM base GROUP BY 1),
       |m AS (
       |  SELECT seg, n, CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
       |         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
       |           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS beta
       |  FROM g)
       |SELECT '$OaxacaSegA' AS seg_a, '$OaxacaSegB' AS seg_b,
       |       a.n AS n_a, b.n AS n_b,
       |       ${Det.rndSql("(a.my - b.my) / 100.0", 2)} AS gap,
       |       ${Det.rndSql("a.beta * (a.mx - b.mx) / 100.0", 2)} AS explained,
       |       ${Det.rndSql(
          "((a.my - b.my) - a.beta * (a.mx - b.mx)) / 100.0", 2)} AS unexplained,
       |       ${Det.rndSql("a.beta", 6)} AS slope_a,
       |       ${Det.rndSql("b.beta", 6)} AS slope_b
       |FROM (SELECT * FROM m WHERE seg = '$OaxacaSegA') a
       |CROSS JOIN (SELECT * FROM m WHERE seg = '$OaxacaSegB') b""".stripMargin

  /** JAMES-STEIN SHRINKAGE of per-nation mean account balance toward
    * the grand mean of nation means — the estimator that DOMINATES
    * the per-group MLE whenever k ≥ 4 (Stein's paradox; the Efron-
    * Morris baseball treatment): noisy small-nation means borrow
    * strength from the ensemble. Positive-part factor
    * B = clamp₀¹(1 − (k−3)·v̄ / S) with S = Σ(mᵢ−m̄)², v̄ the pooled
    * within-group variance times the mean 1/nᵢ.
    *
    * [[anovaF]] discipline: exact per-nation power sums (Σc exact,
    * Σc² decimal-widened), the k-row cross-group reduction, then one
    * fixed expression per nation. The grand mean is UNWEIGHTED over
    * nation means (the equal-variance JS setting; documented). */
  def jamesStein(spark: SparkSession, dir: String): DataFrame =
    jamesSteinOf(Tables(spark, dir, "customer"))

  private[graft] def jamesSteinOf(customer: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val g = customer
      .select(col("c_nationkey").as("nation"), Det.cents(col("c_acctbal")).as("c"))
      .groupBy("nation")
      .agg(count(lit(1)).as("ni"), sum("c").as("si"),
        sum(col("c").cast(d38) * col("c")).as("qi"))
      .select(col("nation"), col("ni"),
        (col("si").cast("double") / col("ni")).as("mi"),
        (col("qi").cast("double") - col("si").cast("double")
          * col("si") / col("ni")).as("ssi"))
    val red = g.agg(count(lit(1)).as("k"), sum("ni").as("n"),
      sum("mi").as("sm"), sum(col("mi") * col("mi")).as("sm2"),
      sum("ssi").as("ssw"), sum(lit(1.0) / col("ni")).as("sinv"))
      .select(col("k"), (col("sm") / col("k")).as("gm"),
        (col("sm2") - col("sm") * col("sm") / col("k")).as("s"),
        ((col("ssw") / (col("n") - col("k"))) * (col("sinv") / col("k"))).as("vbar"))
      .select(col("gm"),
        expr("CASE WHEN s = 0.0 THEN 1.0 ELSE " +
          "greatest(0.0, least(1.0, 1.0 - (k - 3) * vbar / s)) END").as("b"))
    g.crossJoin(broadcast(red))
      .select(col("nation"), col("ni").as("n"),
        Det.rnd(col("mi") / 100.0, 4).as("raw_mean"),
        Det.rnd((col("gm") + col("b") * (col("mi") - col("gm"))) / 100.0, 4)
          .as("js_mean"),
        Det.rnd(col("b"), 6).as("shrinkage"))
      .orderBy("nation")
  }

  val jamesSteinSql: String =
    s"""WITH g AS (
       |  SELECT c_nationkey AS nation, count(*) AS ni,
       |         CAST(sum(${Det.centsSql("c_acctbal")}) AS BIGINT) AS si,
       |         sum(CAST(${Det.centsSql("c_acctbal")} AS HUGEINT)
       |             * ${Det.centsSql("c_acctbal")}) AS qi
       |  FROM customer GROUP BY 1),
       |m AS (
       |  SELECT nation, ni, CAST(si AS DOUBLE) / ni AS mi,
       |         CAST(qi AS DOUBLE) - CAST(si AS DOUBLE) * si / ni AS ssi
       |  FROM g),
       |red AS (
       |  SELECT count(*) AS k, CAST(sum(ni) AS BIGINT) AS n,
       |         sum(mi) AS sm, sum(mi * mi) AS sm2,
       |         sum(ssi) AS ssw, sum(1.0 / ni) AS sinv
       |  FROM m),
       |bf AS (
       |  SELECT sm / k AS gm,
       |         CASE WHEN sm2 - sm * sm / k = 0.0 THEN 1.0 ELSE
       |           greatest(0.0, least(1.0, 1.0 - (k - 3)
       |             * ((ssw / (n - k)) * (sinv / k))
       |             / (sm2 - sm * sm / k))) END AS b
       |  FROM red)
       |SELECT nation, ni AS n,
       |       ${Det.rndSql("mi / 100.0", 4)} AS raw_mean,
       |       ${Det.rndSql("(gm + b * (mi - gm)) / 100.0", 4)} AS js_mean,
       |       ${Det.rndSql("b", 6)} AS shrinkage
       |FROM m CROSS JOIN bf
       |ORDER BY nation""".stripMargin

  /** DECISION-STUMP INDUCTION on account balance → "has ≥ 1 order":
    * the depth-1 CART split every tree/GBM library opens with, run as
    * a set-based scan instead of a per-node loop. Every distinct
    * balance value is a candidate threshold (x ≤ v goes left);
    * weighted Gini impurity
    * g(v) = (n_L·(1 − (pos_L² + neg_L²)/n_L²) + n_R·(…))/n comes
    * entirely from the running (cum count, cum positives) windows
    * over the distinct-value histogram — the [[TextQueries.decileLift]]
    * rule: cardinality bounded by the 2dp money domain, never a
    * per-row sort. Both engines evaluate g(v) as the identical double
    * on exact integers; argmin ties break on the smaller threshold.
    * Degenerate splits (empty side) are excluded by construction
    * (the last histogram row cannot be a threshold). */
  def decisionStump(spark: SparkSession, dir: String): DataFrame =
    decisionStumpOf(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"))

  private[graft] def decisionStumpOf(customer: DataFrame,
      orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val conv = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("no"))
    val base = customer
      .join(conv, col("c_custkey") === col("o_custkey"), "left")
      .select(Det.cents(col("c_acctbal")).as("v"),
        when(col("no").isNotNull, 1L).otherwise(0L).as("pos"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val full = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val h = base.groupBy("v")
      .agg(count(lit(1)).as("t"), sum("pos").as("p"))
      .withColumn("nl", sum("t").over(w))
      .withColumn("pl", sum("p").over(w))
      .withColumn("n", sum("t").over(full))
      .withColumn("np", sum("p").over(full))
      .filter(col("nl") < col("n")) // last value: no right side
    val scored = h.select(col("v"), col("nl"), col("pl"),
        (col("n") - col("nl")).as("nr"), (col("np") - col("pl")).as("pr"),
        col("n"), col("np"))
      .withColumn("gini",
        (col("nl") * (lit(1.0)
          - (col("pl").cast("double") * col("pl")
            + (col("nl") - col("pl")).cast("double") * (col("nl") - col("pl")))
            / (col("nl").cast("double") * col("nl")))
          + col("nr") * (lit(1.0)
            - (col("pr").cast("double") * col("pr")
              + (col("nr") - col("pr")).cast("double") * (col("nr") - col("pr")))
              / (col("nr").cast("double") * col("nr"))))
          / col("n"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("gini").asc, col("v").asc)))
      .filter(col("rk") === 1)
    scored.select(
      Det.rnd(col("v").cast("double") / 100.0, 2).as("threshold"),
      col("nl").as("n_left"), col("nr").as("n_right"),
      col("pl").as("pos_left"), col("pr").as("pos_right"),
      Det.rnd(col("gini"), 6).as("gini_split"),
      Det.rnd(lit(1.0) - (col("np").cast("double") * col("np")
        + (col("n") - col("np")).cast("double") * (col("n") - col("np")))
        / (col("n").cast("double") * col("n")), 6).as("gini_base"))
  }

  val decisionStumpSql: String =
    s"""WITH conv AS (SELECT o_custkey, count(*) AS no FROM orders GROUP BY 1),
       |base AS (
       |  SELECT ${Det.centsSql("c_acctbal")} AS v,
       |         CASE WHEN no IS NOT NULL THEN 1 ELSE 0 END AS pos
       |  FROM customer LEFT JOIN conv ON o_custkey = c_custkey),
       |h AS (
       |  SELECT v, count(*) AS t, sum(pos) AS p FROM base GROUP BY 1),
       |c AS (
       |  SELECT v,
       |         sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
       |                      AND CURRENT ROW) AS nl,
       |         sum(p) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
       |                      AND CURRENT ROW) AS pl,
       |         sum(t) OVER () AS n, sum(p) OVER () AS np
       |  FROM h),
       |g AS (
       |  SELECT v, nl, pl, n - nl AS nr, np - pl AS pr, n, np,
       |         (nl * (1.0 - (CAST(pl AS DOUBLE) * pl
       |                       + CAST(nl - pl AS DOUBLE) * (nl - pl))
       |                      / (CAST(nl AS DOUBLE) * nl))
       |          + (n - nl) * (1.0 - (CAST(np - pl AS DOUBLE) * (np - pl)
       |                               + CAST((n - nl) - (np - pl) AS DOUBLE)
       |                                 * ((n - nl) - (np - pl)))
       |                              / (CAST(n - nl AS DOUBLE) * (n - nl))))
       |           / n AS gini
       |  FROM c WHERE nl < n)
       |SELECT ${Det.rndSql("CAST(v AS DOUBLE) / 100.0", 2)} AS threshold,
       |       CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
       |       CAST(pl AS BIGINT) AS pos_left, CAST(pr AS BIGINT) AS pos_right,
       |       ${Det.rndSql("gini", 6)} AS gini_split,
       |       ${Det.rndSql(
          "1.0 - (CAST(np AS DOUBLE) * np + CAST(n - np AS DOUBLE) * (n - np))" +
            " / (CAST(n AS DOUBLE) * n)", 6)} AS gini_base
       |FROM g
       |ORDER BY gini, v
       |LIMIT 1""".stripMargin

  /** CLIFF'S DELTA ordinal effect size between 'click' and 'purchase'
    * event values — the magnitude companion to `q_mann_whitney` (a U
    * test on millions of rows is ALWAYS significant; δ = P(x>y) −
    * P(x<y) says whether the difference matters). Computed entirely
    * from the joint distinct-value histogram (the mannWhitney
    * discipline — never a pair join, never a row-level rank):
    * gt = Σ_v n₁(v)·below₂(v), lt = Σ_v n₁(v)·above₂(v), both exact
    * decimal-widened integers off one prefix-sum window; δ is one
    * division, banded by the pinned Romano thresholds
    * (.147/.33/.474). */
  def cliffDelta(spark: SparkSession, dir: String): DataFrame =
    cliffDeltaOf(Tables(spark, dir, "events"), "click", "purchase")

  private[graft] def cliffDeltaOf(events: DataFrame, g1: String,
      g2: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val h = events.filter(col("event_type").isin(g1, g2))
      .select(Det.cents(col("value")).as("v"),
        (col("event_type") === g1).cast("long").as("is1"))
      .groupBy("v")
      .agg(sum("is1").as("n1v"), sum(lit(1L) - col("is1")).as("n2v"))
    val w = Window.orderBy("v")
    val cum = h
      .withColumn("below2", coalesce(sum("n2v").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("above2", coalesce(sum("n2v").over(
        w.rowsBetween(1, Window.unboundedFollowing)), lit(0L)))
    cum.agg(sum("n1v").as("n1"), sum("n2v").as("n2"),
        sum(col("n1v").cast(d38) * col("below2")).as("gt"),
        sum(col("n1v").cast(d38) * col("above2")).as("lt"),
        sum(col("n1v").cast(d38) * col("n2v")).as("ties"))
      .select(col("n1"), col("n2"), col("gt").cast("long").as("gt"),
        col("lt").cast("long").as("lt"), col("ties").cast("long").as("ties"),
        Det.rnd((col("gt") - col("lt")).cast("double")
          / (col("n1").cast("double") * col("n2")), 6).as("delta"))
      .withColumn("magnitude",
        when(abs(col("delta")) < 0.147, "negligible")
          .when(abs(col("delta")) < 0.33, "small")
          .when(abs(col("delta")) < 0.474, "medium").otherwise("large"))
  }

  private[graft] def cliffDeltaSqlOf(g1: String, g2: String): String =
    s"""WITH h AS (
       |  SELECT ${Det.centsSql("value")} AS v,
       |         CAST(sum(CASE WHEN event_type = '$g1' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n1v,
       |         CAST(sum(CASE WHEN event_type = '$g2' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n2v
       |  FROM events WHERE event_type IN ('$g1', '$g2') GROUP BY 1),
       |c AS (
       |  SELECT n1v, n2v,
       |         coalesce(sum(n2v) OVER (ORDER BY v
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below2,
       |         coalesce(sum(n2v) OVER (ORDER BY v
       |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS above2
       |  FROM h),
       |a AS (
       |  SELECT CAST(sum(n1v) AS BIGINT) AS n1, CAST(sum(n2v) AS BIGINT) AS n2,
       |         CAST(sum(CAST(n1v AS HUGEINT) * below2) AS BIGINT) AS gt,
       |         CAST(sum(CAST(n1v AS HUGEINT) * above2) AS BIGINT) AS lt,
       |         CAST(sum(CAST(n1v AS HUGEINT) * n2v) AS BIGINT) AS ties
       |  FROM c)
       |SELECT n1, n2, gt, lt, ties,
       |       ${Det.rndSql(
          "CAST(gt - lt AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)", 6)} AS delta,
       |       CASE WHEN abs(${Det.rndSql(
          "CAST(gt - lt AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)",
          6)}) < 0.147 THEN 'negligible'
       |            WHEN abs(${Det.rndSql(
          "CAST(gt - lt AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)",
          6)}) < 0.33 THEN 'small'
       |            WHEN abs(${Det.rndSql(
          "CAST(gt - lt AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)",
          6)}) < 0.474 THEN 'medium'
       |            ELSE 'large' END AS magnitude
       |FROM a""".stripMargin

  val cliffDeltaSql: String = cliffDeltaSqlOf("click", "purchase")

  /** POISSON DISPERSION test of the daily purchase-count process —
    * "is daily traffic actually Poisson?", the first question before
    * any rate-based alerting: the index of dispersion
    * D = (n−1)s²/x̄ is χ²(n−1) under Poisson, VMR ≈ 1. Computed over
    * the CALENDAR-DENSE day grid (zero-count days are real
    * observations — omitting them biases VMR up). Exact integer count
    * moments (Σx, Σx² decimal-widened); the overdispersion verdict
    * uses the normal tail bound n−1 + 2√(2(n−1)) computed from n on
    * both engines identically. */
  def poissonDispersion(spark: SparkSession, dir: String): DataFrame =
    poissonDispersionOf(Tables(spark, dir, "events"))

  private[graft] def poissonDispersionOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val byDay = events.filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("d"))
      .groupBy("d").agg(count(lit(1)).as("c"))
    val span = events.agg(to_date(min(col("ts"))).as("d0"),
      datediff(to_date(max(col("ts"))), to_date(min(col("ts")))).as("nd"))
    val dense = span
      .select(explode(sequence(lit(0), col("nd"))).as("i"), col("d0"))
      .join(byDay, expr("date_add(d0, i) = d"), "left")
      .select(coalesce(col("c"), lit(0L)).as("x"))
    dense.agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x").cast(d38) * col("x")).as("q"))
      .select(col("n"), col("s").as("n_events"),
        Det.rnd(col("s").cast("double") / col("n"), 4).as("mean"),
        Det.rnd((col("q").cast("double") - col("s").cast("double")
          * col("s") / col("n")) / (col("n") - 1)
          / (col("s").cast("double") / col("n")), 4).as("vmr"),
        Det.rnd((col("q").cast("double") - col("s").cast("double")
          * col("s") / col("n"))
          / (col("s").cast("double") / col("n")), 4).as("dispersion_index"),
        ((col("q").cast("double") - col("s").cast("double")
          * col("s") / col("n"))
          / (col("s").cast("double") / col("n"))
          > (col("n") - 1).cast("double")
            + sqrt((col("n") - 1).cast("double") * 2.0) * 2.0)
          .as("overdispersed"))
  }

  val poissonDispersionSql: String =
    s"""WITH byday AS (
       |  SELECT CAST(ts AS DATE) AS d, count(*) AS c
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |span AS (SELECT CAST(min(ts) AS DATE) AS d0,
       |                date_diff('day', CAST(min(ts) AS DATE),
       |                          CAST(max(ts) AS DATE)) AS nd
       |         FROM events),
       |dense AS (
       |  SELECT coalesce(c, 0) AS x
       |  FROM (SELECT d0 + CAST(i AS INTEGER) AS day
       |        FROM span, (SELECT unnest(range(nd + 1)) AS i FROM span))
       |  LEFT JOIN byday ON day = d),
       |a AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
       |             sum(CAST(x AS HUGEINT) * x) AS q
       |      FROM dense)
       |SELECT n, s AS n_events,
       |       ${Det.rndSql("CAST(s AS DOUBLE) / n", 4)} AS mean,
       |       ${Det.rndSql(
          "(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)" +
            " / (CAST(s AS DOUBLE) / n)", 4)} AS vmr,
       |       ${Det.rndSql(
          "(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)" +
            " / (CAST(s AS DOUBLE) / n)", 4)} AS dispersion_index,
       |       (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
       |         / (CAST(s AS DOUBLE) / n)
       |         > CAST(n - 1 AS DOUBLE) + sqrt(CAST(n - 1 AS DOUBLE) * 2.0) * 2.0
       |         AS overdispersed
       |FROM a""".stripMargin

  /** Two-sample CRAMÉR–VON MISES test between 'click' and 'purchase'
    * values — the omnibus ECDF-distance companion of `q_ks_split_drift`
    * (KS reacts to the single worst gap; CvM integrates the squared
    * gap over the whole distribution, far more sensitive to spread/
    * tail differences that never produce one big vertical gap).
    * T = nm/N² · Σ_v t_v·(F₁(v) − F₂(v))², evaluated on the joint
    * distinct-value histogram (the mannWhitney discipline — never a
    * row-level sort): the squared ECDF gap at each value is one
    * double on exact cumulative integers, fenced to 9dp units, then
    * weighted by the exact combined count and decimal-sum'd. Reject
    * at the pinned asymptotic 5% point 0.461. */
  def cramerVonMises(spark: SparkSession, dir: String): DataFrame =
    cramerVonMisesOf(Tables(spark, dir, "events"), "click", "purchase")

  private[graft] def cramerVonMisesOf(events: DataFrame, g1: String,
      g2: String): DataFrame =
    cvmFinish(mannWhitneyHist(events, g1, g2))

  /** The finishing step of [[cramerVonMises]] over the SAME
    * (v, t, n1v) histogram state [[mannWhitney]] maintains — the
    * streaming twin (`StreamJobs.cvmFinish`) reads one shared
    * aggregation for BOTH drift monitors: MW z for location, CvM T
    * for the whole-distribution gap. Vocabulary-sized input. */
  private[graft] def cvmFinish(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val h = hist.select(col("v"), col("n1v"),
      (col("t") - col("n1v")).as("n2v"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val full = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    h.withColumn("c1", sum("n1v").over(w))
      .withColumn("c2", sum("n2v").over(w))
      .withColumn("n1", sum("n1v").over(full))
      .withColumn("n2", sum("n2v").over(full))
      .select(col("n1"), col("n2"),
        ((col("n1v") + col("n2v")).cast(d38)
          * Det.units(pow(col("c1").cast("double") / col("n1")
            - col("c2").cast("double") / col("n2"), 2), 9)).as("term"))
      .groupBy("n1", "n2")
      .agg(sum("term").as("s9"))
      .select(col("n1"), col("n2"),
        Det.rnd(col("n1").cast("double") * col("n2")
          / pow((col("n1") + col("n2")).cast("double"), 2)
          * col("s9").cast("double") / 1e9, 6).as("t_stat"))
      .withColumn("reject_5pct",
        col("t_stat") > 0.461)
  }

  private[graft] def cramerVonMisesSqlOf(g1: String, g2: String): String =
    s"""WITH h AS (
       |  SELECT ${Det.centsSql("value")} AS v,
       |         CAST(sum(CASE WHEN event_type = '$g1' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n1v,
       |         CAST(sum(CASE WHEN event_type = '$g2' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n2v
       |  FROM events WHERE event_type IN ('$g1', '$g2') GROUP BY 1),
       |c AS (
       |  SELECT n1v, n2v,
       |         sum(n1v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
       |                        AND CURRENT ROW) AS c1,
       |         sum(n2v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
       |                        AND CURRENT ROW) AS c2,
       |         sum(n1v) OVER () AS n1, sum(n2v) OVER () AS n2
       |  FROM h),
       |a AS (
       |  SELECT CAST(any_value(n1) AS BIGINT) AS n1,
       |         CAST(any_value(n2) AS BIGINT) AS n2,
       |         CAST(sum(CAST(n1v + n2v AS HUGEINT) * ${Det.unitsSql(
          "pow(CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2, 2)",
          9)}) AS HUGEINT) AS s9
       |  FROM c)
       |SELECT n1, n2,
       |       ${Det.rndSql(
          "CAST(n1 AS DOUBLE) * n2 / pow(CAST(n1 + n2 AS DOUBLE), 2)" +
            " * CAST(s9 AS DOUBLE) / 1e9", 6)} AS t_stat,
       |       ${Det.rndSql(
          "CAST(n1 AS DOUBLE) * n2 / pow(CAST(n1 + n2 AS DOUBLE), 2)" +
            " * CAST(s9 AS DOUBLE) / 1e9", 6)} > 0.461 AS reject_5pct
       |FROM a""".stripMargin

  val cramerVonMisesSql: String = cramerVonMisesSqlOf("click", "purchase")

  /** The calendar-dense daily purchase-count relation shared by
    * [[poissonDispersion]] and [[negbinFit]] — zero-count days are
    * real observations for count-process inference. */
  private def dailyPurchaseCounts(events: DataFrame): DataFrame = {
    val byDay = events.filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("d"))
      .groupBy("d").agg(count(lit(1)).as("c"))
    val span = events.agg(to_date(min(col("ts"))).as("d0"),
      datediff(to_date(max(col("ts"))), to_date(min(col("ts")))).as("nd"))
    span.select(explode(sequence(lit(0), col("nd"))).as("i"), col("d0"))
      .join(byDay, expr("date_add(d0, i) = d"), "left")
      .select(coalesce(col("c"), lit(0L)).as("x"))
  }

  /** NEGATIVE-BINOMIAL method-of-moments fit of the daily purchase
    * counts — the model you reach for the moment [[poissonDispersion]]
    * says overdispersed: r = m̄²/(s²−m̄), p = m̄/s² (NB collapses to
    * Poisson as r→∞). Same exact integer moments over the calendar-
    * dense day grid; the parameters are NULL when s² ≤ m̄ (MoM is
    * undefined at equi/under-dispersion — mirrored on both
    * engines). */
  def negbinFit(spark: SparkSession, dir: String): DataFrame =
    negbinFitOf(Tables(spark, dir, "events"))

  private[graft] def negbinFitOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    dailyPurchaseCounts(events)
      .agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x").cast(d38) * col("x")).as("q"))
      .select(col("n"), col("s").as("n_events"),
        (col("s").cast("double") / col("n")).as("m"),
        ((col("q").cast("double") - col("s").cast("double")
          * col("s") / col("n")) / (col("n") - 1)).as("v"))
      .select(col("n"), col("n_events"),
        Det.rnd(col("m"), 4).as("mean"), Det.rnd(col("v"), 4).as("variance"),
        Det.rnd(when(col("v") > col("m"),
          col("m") * col("m") / (col("v") - col("m"))), 4).as("r"),
        Det.rnd(when(col("v") > col("m"), col("m") / col("v")), 6).as("p"),
        (col("v") > col("m")).as("overdispersed"))
  }

  val negbinFitSql: String =
    s"""WITH byday AS (
       |  SELECT CAST(ts AS DATE) AS d, count(*) AS c
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |span AS (SELECT CAST(min(ts) AS DATE) AS d0,
       |                date_diff('day', CAST(min(ts) AS DATE),
       |                          CAST(max(ts) AS DATE)) AS nd
       |         FROM events),
       |dense AS (
       |  SELECT coalesce(c, 0) AS x
       |  FROM (SELECT d0 + CAST(i AS INTEGER) AS day
       |        FROM span, (SELECT unnest(range(nd + 1)) AS i FROM span))
       |  LEFT JOIN byday ON day = d),
       |a AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
       |             sum(CAST(x AS HUGEINT) * x) AS q
       |      FROM dense),
       |m AS (SELECT n, s, CAST(s AS DOUBLE) / n AS m,
       |             (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) AS v
       |      FROM a)
       |SELECT n, s AS n_events,
       |       ${Det.rndSql("m", 4)} AS mean, ${Det.rndSql("v", 4)} AS variance,
       |       ${Det.rndSql("CASE WHEN v > m THEN m * m / (v - m) END", 4)} AS r,
       |       ${Det.rndSql("CASE WHEN v > m THEN m / v END", 6)} AS p,
       |       v > m AS overdispersed
       |FROM m""".stripMargin

  /** HELLINGER / BHATTACHARYYA distance between the hour-of-day load
    * shapes of 'click' and 'purchase' traffic — the bounded symmetric
    * distribution distance ([[q_js_divergence]]'s sibling with an
    * honest metric triangle inequality; H ∈ [0,1] reads as "how
    * different are the daily rhythms"). 24 fixed bins, per-bin
    * √(pᵢqᵢ) fenced to 9dp units on identical exact-rational doubles,
    * exact integer sum, two fixed output expressions. */
  def hellingerHourly(spark: SparkSession, dir: String): DataFrame =
    hellingerHourlyOf(Tables(spark, dir, "events"), "click", "purchase")

  private[graft] def hellingerHourlyOf(events: DataFrame, g1: String,
      g2: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val full = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val h = events.filter(col("event_type").isin(g1, g2))
      .select(hour(col("ts")).as("hr"),
        (col("event_type") === g1).cast("long").as("is1"))
      .groupBy("hr")
      .agg(sum("is1").as("c1"), sum(lit(1L) - col("is1")).as("c2"))
    h.withColumn("n1", sum("c1").over(full))
      .withColumn("n2", sum("c2").over(full))
      .select(Det.units(sqrt((col("c1").cast("double") / col("n1"))
        * (col("c2").cast("double") / col("n2"))), 9).as("bc9"))
      .agg(count(lit(1)).as("hours_used"), sum("bc9").as("s9"))
      .select(col("hours_used"),
        Det.rnd(col("s9").cast("double") / 1e9, 6).as("bc"),
        Det.rnd(sqrt(greatest(lit(0.0),
          lit(1.0) - col("s9").cast("double") / 1e9)), 6).as("hellinger"),
        Det.rnd(when(col("s9") > 0L,
          -log(col("s9").cast("double") / 1e9)), 6).as("bhattacharyya_dist"))
  }

  private[graft] def hellingerHourlySqlOf(g1: String, g2: String): String =
    s"""WITH h AS (
       |  SELECT hour(ts) AS hr,
       |         CAST(sum(CASE WHEN event_type = '$g1' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS c1,
       |         CAST(sum(CASE WHEN event_type = '$g2' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS c2
       |  FROM events WHERE event_type IN ('$g1', '$g2') GROUP BY 1),
       |t AS (
       |  SELECT ${Det.unitsSql(
          "sqrt((CAST(c1 AS DOUBLE) / sum(c1) OVER ())" +
            " * (CAST(c2 AS DOUBLE) / sum(c2) OVER ()))", 9)} AS bc9
       |  FROM h),
       |a AS (SELECT count(*) AS hours_used, CAST(sum(bc9) AS BIGINT) AS s9 FROM t)
       |SELECT hours_used,
       |       ${Det.rndSql("CAST(s9 AS DOUBLE) / 1e9", 6)} AS bc,
       |       ${Det.rndSql(
          "sqrt(greatest(0.0, 1.0 - CAST(s9 AS DOUBLE) / 1e9))", 6)} AS hellinger,
       |       ${Det.rndSql(
          "CASE WHEN s9 > 0 THEN -ln(CAST(s9 AS DOUBLE) / 1e9) END",
          6)} AS bhattacharyya_dist
       |FROM a""".stripMargin

  val hellingerHourlySql: String = hellingerHourlySqlOf("click", "purchase")

  /** YEARLY GROWTH ACCOUNTING of the ordering customer base — the
    * Social-Capital decomposition every growth team reports: each
    * year's active customers split into NEW (first active year ever),
    * RETAINED (also active last year), RESURRECTED (active before,
    * skipped last year); CHURNED(y) = active(y−1) − retained(y) is a
    * closed form on the aggregates (no extra pass), and quick ratio =
    * (new + resurrected)/churned is the health scalar. Per-customer
    * flags are one lag window over the distinct (customer, year)
    * relation — exact integer year arithmetic on both engines. The
    * first year's churned/quick_ratio are NULL (no prior year),
    * mirrored. (The events table spans one month; orders span seven
    * years — the axis with real churn.) */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame =
    growthAccountingOf(Tables(spark, dir, "orders"))

  private[graft] def growthAccountingOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val am = orders
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      .distinct()
    val w = Window.partitionBy("o_custkey").orderBy("yr")
    val flagged = am
      .withColumn("prev", lag("yr", 1).over(w))
      .select(col("yr"),
        when(col("prev").isNull, 1L).otherwise(0L).as("is_new"),
        when(col("prev") === col("yr") - 1, 1L).otherwise(0L).as("is_ret"),
        when(col("prev").isNotNull && col("prev") < col("yr") - 1, 1L)
          .otherwise(0L).as("is_res"))
    val byY = flagged.groupBy("yr")
      .agg(count(lit(1)).as("active"), sum("is_new").as("new_users"),
        sum("is_ret").as("retained"), sum("is_res").as("resurrected"))
    val lw = Window.orderBy("yr")
    byY
      .withColumn("prev_active", lag("active", 1).over(lw))
      .withColumn("prev_yr", lag("yr", 1).over(lw))
      .select(col("yr").as("year"), col("active"), col("new_users"),
        col("retained"), col("resurrected"),
        when(col("prev_yr") === col("yr") - 1,
          col("prev_active") - col("retained")).as("churned"))
      .withColumn("quick_ratio", Det.rnd(
        when(col("churned") > 0,
          (col("new_users") + col("resurrected")).cast("double")
            / col("churned")), 4))
      .orderBy("year")
  }

  val growthAccountingSql: String =
    s"""WITH am AS (
       |  SELECT DISTINCT o_custkey, year(o_orderdate) AS yr FROM orders),
       |f AS (
       |  SELECT yr,
       |         CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS is_new,
       |         CASE WHEN prev = yr - 1 THEN 1 ELSE 0 END AS is_ret,
       |         CASE WHEN prev IS NOT NULL AND prev < yr - 1 THEN 1 ELSE 0 END
       |           AS is_res
       |  FROM (SELECT yr,
       |               lag(yr) OVER (PARTITION BY o_custkey ORDER BY yr) AS prev
       |        FROM am)),
       |byy AS (
       |  SELECT yr, count(*) AS active,
       |         CAST(sum(is_new) AS BIGINT) AS new_users,
       |         CAST(sum(is_ret) AS BIGINT) AS retained,
       |         CAST(sum(is_res) AS BIGINT) AS resurrected
       |  FROM f GROUP BY 1),
       |fin AS (
       |  SELECT yr, active, new_users, retained, resurrected,
       |         CASE WHEN lag(yr) OVER (ORDER BY yr) = yr - 1
       |              THEN lag(active) OVER (ORDER BY yr) - retained END AS churned
       |  FROM byy)
       |SELECT CAST(yr AS INTEGER) AS year, active, new_users, retained,
       |       resurrected, CAST(churned AS BIGINT) AS churned,
       |       ${Det.rndSql(
          "CASE WHEN churned > 0 THEN" +
            " CAST(new_users + resurrected AS DOUBLE) / churned END",
          4)} AS quick_ratio
       |FROM fin
       |ORDER BY year""".stripMargin

  /** EMPIRICAL-BAYES GAMMA-POISSON shrinkage of per-nation order
    * rates (orders per customer) — the count-data companion of
    * [[jamesStein]] (Gaussian means shrink linearly; rates shrink
    * through the conjugate Gamma posterior (kᵢ+α)/(nᵢ+β), so
    * small-exposure nations pull harder toward the prior). Prior by
    * method of moments over the k nation rates: β = m/v, α = m²/v
    * (unweighted, the equal-unit EB setting; [[jamesStein]]
    * discipline). Exact integer (kᵢ, nᵢ) per nation; rates and the
    * 2-moment reduction are fixed doubles over the 25-row table;
    * degenerate v = 0 emits the prior mean for every nation,
    * mirrored. */
  def ebRates(spark: SparkSession, dir: String): DataFrame =
    ebRatesOf(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"))

  private[graft] def ebRatesOf(customer: DataFrame,
      orders: DataFrame): DataFrame = {
    val ko = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("k"))
    val g = customer
      .join(ko, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_nationkey").as("nation"))
      .agg(count(lit(1)).as("n"), sum(coalesce(col("k"), lit(0L))).as("k"))
      .withColumn("r", col("k").cast("double") / col("n"))
    val prior = g.agg(count(lit(1)).as("ng"), sum("r").as("sr"),
        sum(col("r") * col("r")).as("sr2"))
      .select((col("sr") / col("ng")).as("m"),
        ((col("sr2") - col("sr") * col("sr") / col("ng"))
          / (col("ng") - 1)).as("v"))
      .select(col("m"),
        when(col("v") > 0, col("m") * col("m") / col("v")).as("alpha"),
        when(col("v") > 0, col("m") / col("v")).as("beta"))
    g.crossJoin(broadcast(prior))
      .select(col("nation"), col("n").as("n_customers"), col("k").as("n_orders"),
        Det.rnd(col("r"), 4).as("raw_rate"),
        Det.rnd(when(col("alpha").isNotNull,
          (col("k") + col("alpha")) / (col("n") + col("beta")))
          .otherwise(col("m")), 4).as("eb_rate"),
        Det.rnd(col("alpha"), 4).as("alpha"),
        Det.rnd(col("beta"), 4).as("beta"))
      .orderBy("nation")
  }

  val ebRatesSql: String =
    s"""WITH ko AS (SELECT o_custkey, count(*) AS k FROM orders GROUP BY 1),
       |g AS (
       |  SELECT c_nationkey AS nation, count(*) AS n,
       |         CAST(sum(coalesce(k, 0)) AS BIGINT) AS k,
       |         CAST(sum(coalesce(k, 0)) AS DOUBLE) / count(*) AS r
       |  FROM customer LEFT JOIN ko ON o_custkey = c_custkey
       |  GROUP BY 1),
       |pr AS (
       |  SELECT m, CASE WHEN v > 0 THEN m * m / v END AS alpha,
       |         CASE WHEN v > 0 THEN m / v END AS beta
       |  FROM (SELECT sum(r) / count(*) AS m,
       |               (sum(r * r) - sum(r) * sum(r) / count(*)) / (count(*) - 1) AS v
       |        FROM g))
       |SELECT nation, n AS n_customers, k AS n_orders,
       |       ${Det.rndSql("r", 4)} AS raw_rate,
       |       ${Det.rndSql(
          "CASE WHEN alpha IS NOT NULL THEN (k + alpha) / (n + beta)" +
            " ELSE m END", 4)} AS eb_rate,
       |       ${Det.rndSql("alpha", 4)} AS alpha,
       |       ${Det.rndSql("beta", 4)} AS beta
       |FROM g CROSS JOIN pr
       |ORDER BY nation""".stripMargin

  /** RECORD-HIGHS census of the daily revenue series — how many days
    * set a new all-time high, and is that MORE than an i.i.d. series
    * would produce? Under exchangeability the expected record count
    * is the harmonic number H_n (day 1 is always a record, day k is
    * with probability 1/k) — a trending series beats it, a mean-
    * reverting one undershoots: the zero-parameter trend read to put
    * next to `q_mann_kendall`. Records from one running-max window
    * over the calendar day histogram (exact cents; strict >); H_n by
    * an in-plan 1/k sum over the ≤calendar-length sequence, fenced. */
  def recordHighs(spark: SparkSession, dir: String): DataFrame =
    recordHighsOf(Tables(spark, dir, "orders"))

  private[graft] def recordHighsOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDay = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("c"))
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    val rec = byDay
      .withColumn("prevmax", max("c").over(w))
      .withColumn("is_rec",
        when(col("prevmax").isNull || col("c") > col("prevmax"), 1L)
          .otherwise(0L))
    rec.agg(count(lit(1)).as("n_days"), sum("is_rec").as("n_records"),
        max(when(col("is_rec") === 1L, col("d"))).as("last_record_day"))
      .withColumn("expected_records", Det.rnd(expr(
        "aggregate(sequence(1, CAST(n_days AS INT)), CAST(0 AS DOUBLE)," +
          " (acc, k) -> acc + 1.0 / k)"), 4))
      .select(col("n_days"), col("n_records"),
        date_format(col("last_record_day"), "yyyy-MM-dd").as("last_record_day"),
        col("expected_records"),
        Det.rnd(col("n_records").cast("double") / col("expected_records"), 4)
          .as("record_ratio"))
  }

  val recordHighsSql: String =
    s"""WITH byday AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS c
       |  FROM orders GROUP BY 1),
       |r AS (
       |  SELECT d, c,
       |         max(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
       |                      AND 1 PRECEDING) AS prevmax
       |  FROM byday),
       |a AS (
       |  SELECT count(*) AS n_days,
       |         CAST(sum(CASE WHEN prevmax IS NULL OR c > prevmax
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
       |         max(CASE WHEN prevmax IS NULL OR c > prevmax THEN d END)
       |           AS last_record_day
       |  FROM r),
       |h AS (SELECT ${Det.rndSql(
          "list_sum(list_transform(range(1, n_days + 1)," +
            " k -> 1.0 / k))", 4)} AS expected_records
       |      FROM a)
       |SELECT n_days, n_records,
       |       strftime(last_record_day, '%Y-%m-%d') AS last_record_day,
       |       expected_records,
       |       ${Det.rndSql(
          "CAST(n_records AS DOUBLE) / expected_records", 4)} AS record_ratio
       |FROM a CROSS JOIN h""".stripMargin

  /** TAYLOR'S POWER LAW fit across nations — does the variance of a
    * nation's monthly order count scale as a POWER of its mean
    * (V = a·m^b)? b ≈ 1 is Poisson-like; b → 2 means aggregation/
    * clumping (ecology's fluctuation scaling, equally standard for
    * traffic). Per-nation monthly-count mean/variance from exact
    * integers over the (nation × month)-bounded table; ln(m), ln(v)
    * fenced to 8dp per nation (pinned-literal rule: engine libm ln
    * only ever feeds a fence); the log-log OLS slope/R² are closed
    * forms over the ≤25-row point set. Nations with zero variance
    * drop (ln undefined), mirrored. */
  def taylorLaw(spark: SparkSession, dir: String): DataFrame =
    taylorLawOf(Tables(spark, dir, "orders"), Tables(spark, dir, "customer"))

  private[graft] def taylorLawOf(orders: DataFrame,
      customer: DataFrame): DataFrame = {
    val cnt = orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("x"))
    val g = cnt.groupBy("nation")
      .agg(count(lit(1)).as("nm"), sum("x").as("s"),
        sum(col("x") * col("x")).as("q"))
      .filter(col("nm") >= 2)
      .select(col("nation"),
        (col("s").cast("double") / col("nm")).as("m"),
        ((col("q").cast("double") - col("s").cast("double")
          * col("s") / col("nm")) / (col("nm") - 1)).as("v"))
      .filter(col("v") > 0 && col("m") > 0)
      .select(Det.units(log(col("m")), 8).as("lx"),
        Det.units(log(col("v")), 8).as("ly"))
    g.agg(count(lit(1)).as("ng"), sum("lx").as("sx"), sum("ly").as("sy"),
        sum(col("lx").cast("decimal(38,0)") * col("ly")).as("sxy"),
        sum(col("lx").cast("decimal(38,0)") * col("lx")).as("sxx"),
        sum(col("ly").cast("decimal(38,0)") * col("ly")).as("syy"))
      .select(col("ng").as("n_groups"),
        Det.rnd(expr(
          "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / ng)" +
            " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / ng)"), 4)
          .as("slope"),
        Det.rnd(expr(
          "(CAST(sy AS DOUBLE) / ng - ((CAST(sxy AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * sy / ng) / (CAST(sxx AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * sx / ng)) * CAST(sx AS DOUBLE) / ng)" +
            " / 1e8"), 4).as("intercept_ln"),
        Det.rnd(expr(
          "pow(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / ng, 2)" +
            " / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / ng)" +
            " * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / ng))"), 4)
          .as("r2"))
  }

  val taylorLawSql: String =
    s"""WITH cnt AS (
       |  SELECT c_nationkey AS nation, strftime(o_orderdate, '%Y-%m') AS month,
       |         count(*) AS x
       |  FROM orders JOIN customer ON c_custkey = o_custkey
       |  GROUP BY 1, 2),
       |g AS (
       |  SELECT nation, CAST(sum(x) AS DOUBLE) / count(*) AS m,
       |         (CAST(sum(x * x) AS DOUBLE) - CAST(sum(x) AS DOUBLE)
       |            * sum(x) / count(*)) / (count(*) - 1) AS v
       |  FROM cnt GROUP BY 1 HAVING count(*) >= 2),
       |p AS (
       |  SELECT ${Det.unitsSql("ln(m)", 8)} AS lx,
       |         ${Det.unitsSql("ln(v)", 8)} AS ly
       |  FROM g WHERE v > 0 AND m > 0),
       |a AS (
       |  SELECT count(*) AS ng, CAST(sum(lx) AS BIGINT) AS sx,
       |         CAST(sum(ly) AS BIGINT) AS sy,
       |         sum(CAST(lx AS HUGEINT) * ly) AS sxy,
       |         sum(CAST(lx AS HUGEINT) * lx) AS sxx,
       |         sum(CAST(ly AS HUGEINT) * ly) AS syy
       |  FROM p)
       |SELECT ng AS n_groups,
       |       ${Det.rndSql(
          "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / ng)" +
            " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / ng)",
          4)} AS slope,
       |       ${Det.rndSql(
          "(CAST(sy AS DOUBLE) / ng - ((CAST(sxy AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * sy / ng) / (CAST(sxx AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * sx / ng)) * CAST(sx AS DOUBLE) / ng)" +
            " / 1e8", 4)} AS intercept_ln,
       |       ${Det.rndSql(
          "pow(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / ng, 2)" +
            " / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / ng)" +
            " * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / ng))",
          4)} AS r2
       |FROM a""".stripMargin

  /** PEAKS-OVER-THRESHOLD GPD fit of daily revenue exceedances — the
    * EVT tail model between [[AnalyticsQueries]]'s Gumbel block maxima
    * (annual-maximum framing, wastes within-block data) and
    * `q_hill_tail` (pure power-law index): threshold u = the exact
    * rank-picked q90 of daily totals (histogram prefix pick, the
    * `q_median_ci` discipline), exceedances y = x − u in exact cents,
    * GPD by method of moments ξ = (1 − m²/v)/2, σ = m(m²/v + 1)/2 —
    * ξ > 0 reads heavy-tailed. Moments decimal-widened; the two
    * parameters are fixed doubles; degenerate v = 0 emits NULLs,
    * mirrored. */
  def potGpd(spark: SparkSession, dir: String): DataFrame =
    potGpdOf(Tables(spark, dir, "orders"))

  private[graft] def potGpdOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val byDay = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("c"))
    val w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    val full = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val u = byDay.groupBy("c").agg(count(lit(1)).as("t"))
      .withColumn("cum", sum("t").over(w))
      .withColumn("n", sum("t").over(full))
      .filter(col("cum") * 10 >= col("n") * 9)
      .agg(min("c").as("u"))
    val exc = byDay.crossJoin(broadcast(u))
      .filter(col("c") > col("u"))
      .select((col("c") - col("u")).as("y"), col("u"))
    exc.agg(count(lit(1)).as("n_exceed"), max("u").as("u"),
        sum("y").as("s"), sum(col("y").cast(d38) * col("y")).as("q"))
      .select(
        Det.rnd(col("u").cast("double") / 100.0, 2).as("threshold"),
        col("n_exceed"),
        (col("s").cast("double") / col("n_exceed")).as("m"),
        (when(col("n_exceed") >= 2,
          (col("q").cast("double") - col("s").cast("double")
            * col("s") / col("n_exceed")) / (col("n_exceed") - 1))).as("v"),
        col("s"))
      .select(col("threshold"), col("n_exceed"),
        Det.rnd(col("m") / 100.0, 2).as("mean_excess"),
        Det.rnd(when(col("v") > 0,
          (lit(1.0) - col("m") * col("m") / col("v")) / 2.0), 4).as("xi"),
        Det.rnd(when(col("v") > 0,
          col("m") * (col("m") * col("m") / col("v") + 1.0) / 2.0 / 100.0), 2)
          .as("sigma"))
  }

  val potGpdSql: String =
    s"""WITH byday AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS c
       |  FROM orders GROUP BY 1),
       |h AS (SELECT c, count(*) AS t FROM byday GROUP BY 1),
       |u AS (SELECT min(c) AS u FROM (
       |        SELECT c,
       |               sum(t) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
       |                            AND CURRENT ROW) AS cum,
       |               sum(t) OVER () AS n
       |        FROM h)
       |      WHERE cum * 10 >= n * 9),
       |exc AS (SELECT c - u AS y, u FROM byday CROSS JOIN u WHERE c > u),
       |a AS (
       |  SELECT count(*) AS n_exceed, max(u) AS u, CAST(sum(y) AS BIGINT) AS s,
       |         sum(CAST(y AS HUGEINT) * y) AS q
       |  FROM exc),
       |m AS (
       |  SELECT u, n_exceed, CAST(s AS DOUBLE) / n_exceed AS m,
       |         CASE WHEN n_exceed >= 2 THEN
       |           (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n_exceed)
       |             / (n_exceed - 1) END AS v
       |  FROM a)
       |SELECT ${Det.rndSql("CAST(u AS DOUBLE) / 100.0", 2)} AS threshold,
       |       n_exceed,
       |       ${Det.rndSql("m / 100.0", 2)} AS mean_excess,
       |       ${Det.rndSql(
          "CASE WHEN v > 0 THEN (1.0 - m * m / v) / 2.0 END", 4)} AS xi,
       |       ${Det.rndSql(
          "CASE WHEN v > 0 THEN m * (m * m / v + 1.0) / 2.0 / 100.0 END",
          2)} AS sigma
       |FROM m""".stripMargin

  /** PERMUTATION (ordinal-pattern) ENTROPY of the daily revenue
    * series, window m = 3 — the complexity readout between
    * `q_sample_entropy` (metric, tolerance-based) and
    * `q_entropy_rate` (symbolic, needs a state alphabet): ordinal
    * patterns need NO tolerance and NO binning. Each day's pattern is
    * the three pairwise comparison bits of (xₜ, xₜ₊₁, xₜ₊₂) — the
    * tie-deterministic variant of the classic strict-ranking encoding
    * (documented; ties collapse to the ≤ branch identically on both
    * engines). 8-cell exact integer histogram → −Σp·ln p fenced, plus
    * the ln-8-normalized score. */
  def permutationEntropy(spark: SparkSession, dir: String): DataFrame =
    permutationEntropyOf(Tables(spark, dir, "orders"))

  private[graft] def permutationEntropyOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDay = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("c"))
    val w = Window.orderBy("d")
    val pat = byDay
      .withColumn("c1", lead("c", 1).over(w))
      .withColumn("c2", lead("c", 2).over(w))
      .filter(col("c2").isNotNull)
      .select((when(col("c1") > col("c"), 1L).otherwise(0L)
        + when(col("c2") > col("c"), 2L).otherwise(0L)
        + when(col("c2") > col("c1"), 4L).otherwise(0L)).as("pat"))
    val h = pat.groupBy("pat").agg(count(lit(1)).as("t"))
    val full = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    h.withColumn("n", sum("t").over(full))
      .select(Det.units(col("t").cast("double") / col("n")
        * log(col("t").cast("double") / col("n")), 9).as("e9"),
        col("n"))
      .groupBy("n")
      .agg(count(lit(1)).as("n_patterns"), sum("e9").as("s9"))
      .select(col("n").as("n_windows"), col("n_patterns"),
        Det.rnd(-col("s9").cast("double") / 1e9, 6).as("h"),
        Det.rnd(-col("s9").cast("double") / 1e9 / math.log(8.0), 6)
          .as("h_norm"))
  }

  val permutationEntropySql: String =
    s"""WITH byday AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS c
       |  FROM orders GROUP BY 1),
       |pat AS (
       |  SELECT (CASE WHEN c1 > c THEN 1 ELSE 0 END
       |          + CASE WHEN c2 > c THEN 2 ELSE 0 END
       |          + CASE WHEN c2 > c1 THEN 4 ELSE 0 END) AS pat
       |  FROM (SELECT c, lead(c, 1) OVER (ORDER BY d) AS c1,
       |               lead(c, 2) OVER (ORDER BY d) AS c2
       |        FROM byday)
       |  WHERE c2 IS NOT NULL),
       |h AS (SELECT pat, count(*) AS t FROM pat GROUP BY 1),
       |e AS (
       |  SELECT CAST(any_value(n) AS BIGINT) AS n, count(*) AS n_patterns,
       |         CAST(sum(${Det.unitsSql(
          "CAST(t AS DOUBLE) / n * ln(CAST(t AS DOUBLE) / n)",
          9)}) AS BIGINT) AS s9
       |  FROM (SELECT t, sum(t) OVER () AS n FROM h))
       |SELECT n AS n_windows, n_patterns,
       |       ${Det.rndSql("-CAST(s9 AS DOUBLE) / 1e9", 6)} AS h,
       |       ${Det.rndSql(
          s"-CAST(s9 AS DOUBLE) / 1e9 / ${math.log(8.0)}", 6)} AS h_norm
       |FROM e""".stripMargin

  /** MAXIMUM DRAWDOWN of the daily revenue LEVEL — worst peak-to-
    * trough decline and where it happened: the risk readout
    * `q_cusum_changepoint` (sustained mean shift) and
    * `q_reflected_balance` (clamped walk) bracket but don't report.
    * One running-max window over the calendar day histogram, exact
    * cents throughout; the trough is the argmax of drawdown
    * (ties → earliest day), its peak is the LATEST prior day
    * attaining the running max — both picks deterministic. */
  def maxDrawdown(spark: SparkSession, dir: String): DataFrame =
    maxDrawdownOf(Tables(spark, dir, "orders"))

  private[graft] def maxDrawdownOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDay = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("c"))
      .localCheckpoint() // calendar-bounded; trough + peak-day reads
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    val dd = byDay
      .withColumn("peak", max("c").over(w))
      .withColumn("dd", col("peak") - col("c"))
    val trough = dd
      .withColumn("rk", row_number().over(
        Window.orderBy(col("dd").desc, col("d").asc)))
      .filter(col("rk") === 1)
      .select(col("d").as("trough_day"), col("peak").as("tpeak"),
        col("dd").as("tdd"))
    val peakDay = dd.crossJoin(broadcast(trough))
      .filter(col("c") === col("tpeak") && col("d") <= col("trough_day"))
      .agg(max("d").as("peak_day"))
    trough.crossJoin(broadcast(peakDay))
      .select(
        Det.rnd(col("tdd").cast("double") / 100.0, 2).as("max_drawdown"),
        Det.rnd(col("tpeak").cast("double") / 100.0, 2).as("peak_revenue"),
        date_format(col("peak_day"), "yyyy-MM-dd").as("peak_day"),
        date_format(col("trough_day"), "yyyy-MM-dd").as("trough_day"),
        datediff(col("trough_day"), col("peak_day")).as("days_underwater"))
  }

  val maxDrawdownSql: String =
    s"""WITH byday AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS c
       |  FROM orders GROUP BY 1),
       |dd AS (
       |  SELECT d, c,
       |         max(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
       |                      AND CURRENT ROW) AS peak
       |  FROM byday),
       |tr AS (
       |  SELECT d AS trough_day, peak, peak - c AS dd
       |  FROM dd ORDER BY peak - c DESC, d LIMIT 1),
       |pk AS (
       |  SELECT max(dd.d) AS peak_day
       |  FROM dd CROSS JOIN tr
       |  WHERE dd.c = tr.peak AND dd.d <= tr.trough_day)
       |SELECT ${Det.rndSql("CAST(dd AS DOUBLE) / 100.0", 2)} AS max_drawdown,
       |       ${Det.rndSql("CAST(peak AS DOUBLE) / 100.0", 2)} AS peak_revenue,
       |       strftime(peak_day, '%Y-%m-%d') AS peak_day,
       |       strftime(trough_day, '%Y-%m-%d') AS trough_day,
       |       CAST(date_diff('day', peak_day, trough_day) AS INTEGER)
       |         AS days_underwater
       |FROM tr CROSS JOIN pk""".stripMargin

  /** LASPEYRES / PAASCHE / FISHER monthly PRICE INDICES over the
    * parts basket — the national-accounts question "did revenue move
    * because prices moved or because the basket moved?", which no
    * single-series operator here separates. Unit values are
    * extendedprice/quantity per (part, month), fenced to 4dp-cent
    * integer units; index numerators/denominators are exact decimal
    * sums of fenced-price × exact-base-quantity products over parts
    * present in BOTH the base month and the current month (matched-
    * sample convention, documented); Fisher = √(L·P). */
  def priceIndex(spark: SparkSession, dir: String): DataFrame =
    priceIndexOf(Tables(spark, dir, "lineitem"))

  private[graft] def priceIndexOf(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val pm = lineitem
      .groupBy(col("l_partkey").as("part"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(sum(Det.cents(col("l_extendedprice"))).as("v"),
        sum(col("l_quantity").cast("long")).as("q"))
      .select(col("part"), col("month"), col("q"),
        Det.units(col("v").cast("double") / col("q") / 100.0, 4).as("p4"))
    val base = pm
      .withColumn("m0", min("month").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .filter(col("month") === col("m0"))
      .select(col("part"), col("p4").as("p0"), col("q").as("q0"))
    pm.join(base, "part")
      .groupBy("month")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p4").cast(d38) * col("q0")).as("ptq0"),
        sum(col("p0").cast(d38) * col("q0")).as("p0q0"),
        sum(col("p4").cast(d38) * col("q")).as("ptqt"),
        sum(col("p0").cast(d38) * col("q")).as("p0qt"))
      .select(col("month"), col("n_parts"),
        Det.rnd(col("ptq0").cast("double") / col("p0q0").cast("double"), 4)
          .as("laspeyres"),
        Det.rnd(col("ptqt").cast("double") / col("p0qt").cast("double"), 4)
          .as("paasche"),
        Det.rnd(sqrt((col("ptq0").cast("double") / col("p0q0").cast("double"))
          * (col("ptqt").cast("double") / col("p0qt").cast("double"))), 4)
          .as("fisher"))
      .orderBy("month")
  }

  val priceIndexSql: String =
    s"""WITH pm AS (
       |  SELECT l_partkey AS part, strftime(l_shipdate, '%Y-%m') AS month,
       |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
       |         ${Det.unitsSql(
          s"CAST(CAST(sum(${Det.centsSql("l_extendedprice")}) AS BIGINT)" +
            " AS DOUBLE) / sum(CAST(l_quantity AS BIGINT)) / 100.0",
          4)} AS p4
       |  FROM lineitem GROUP BY 1, 2),
       |base AS (
       |  SELECT part, p4 AS p0, q AS q0
       |  FROM pm WHERE month = (SELECT min(month) FROM pm))
       |SELECT pm.month, count(*) AS n_parts,
       |       ${Det.rndSql(
          "CAST(sum(CAST(p4 AS HUGEINT) * q0) AS DOUBLE)" +
            " / CAST(sum(CAST(p0 AS HUGEINT) * q0) AS DOUBLE)",
          4)} AS laspeyres,
       |       ${Det.rndSql(
          "CAST(sum(CAST(p4 AS HUGEINT) * q) AS DOUBLE)" +
            " / CAST(sum(CAST(p0 AS HUGEINT) * q) AS DOUBLE)",
          4)} AS paasche,
       |       ${Det.rndSql(
          "sqrt((CAST(sum(CAST(p4 AS HUGEINT) * q0) AS DOUBLE)" +
            " / CAST(sum(CAST(p0 AS HUGEINT) * q0) AS DOUBLE))" +
            " * (CAST(sum(CAST(p4 AS HUGEINT) * q) AS DOUBLE)" +
            " / CAST(sum(CAST(p0 AS HUGEINT) * q) AS DOUBLE)))",
          4)} AS fisher
       |FROM pm JOIN base USING (part)
       |GROUP BY 1
       |ORDER BY month""".stripMargin

  /** ABC × XYZ inventory matrix — [[abcAnalysis]]'s revenue classes
    * crossed with demand-VARIABILITY classes (X: monthly-quantity
    * CV ≤ 0.5 steady, Y: ≤ 1.0, Z: erratic — pinned thresholds): the
    * 9-cell planning matrix ops teams stock by (AX = automate,
    * CZ = make-to-order). Same exact-revenue classing idiom as ABC;
    * CV per part from exact monthly-quantity moments, compared
    * against the thresholds as one double each; parts with a single
    * active month class Z (no variability estimate — the
    * conservative bucket, mirrored). */
  def abcXyz(spark: SparkSession, dir: String): DataFrame =
    abcXyzOf(Tables(spark, dir, "lineitem"))

  private[graft] def abcXyzOf(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val units = expr(
      "CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))")
    val rev = lineitem
      .groupBy("l_partkey")
      .agg(((sum(units.cast("decimal(38,0)")) + 50).cast("decimal(38,0)") / 100)
        .cast("long").as("rev"))
    val w = Window.orderBy(desc("rev"), asc("l_partkey"))
    val abc = rev
      .withColumn("cum", sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("total", sum("rev").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("abc_class",
        when(col("cum") * 100 <= col("total") * 80, "A")
          .when(col("cum") * 100 <= col("total") * 95, "B")
          .otherwise("C"))
      .select(col("l_partkey"), col("abc_class"), col("rev"))
    val xyz = lineitem
      .groupBy(col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("nm"), sum("q").as("s"),
        sum(col("q") * col("q")).as("sq"))
      .select(col("l_partkey"),
        when(col("nm") >= 2,
          sqrt((col("sq").cast("double") - col("s").cast("double")
            * col("s") / col("nm")) / (col("nm") - 1))
            / (col("s").cast("double") / col("nm"))).as("cv"))
      .select(col("l_partkey"),
        when(col("cv").isNull, "Z").when(col("cv") <= 0.5, "X")
          .when(col("cv") <= 1.0, "Y").otherwise("Z").as("xyz_class"))
    abc.join(xyz, "l_partkey")
      .groupBy("abc_class", "xyz_class")
      .agg(count(lit(1)).as("n_parts"), sum("rev").as("revc"))
      .withColumn("revenue_share", Det.rnd(col("revc").cast("double")
        / sum("revc").over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)), 6))
      .select(col("abc_class"), col("xyz_class"), col("n_parts"),
        Det.rnd(col("revc").cast("double") / 100.0, 2).as("revenue"),
        col("revenue_share"))
      .orderBy("abc_class", "xyz_class")
  }

  val abcXyzSql: String =
    s"""WITH rev AS (
       |  SELECT l_partkey,
       |         CAST((sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
       |                        * (100 - CAST(round(l_discount * 100) AS BIGINT))
       |                        AS HUGEINT)) + 50) // 100 AS BIGINT) AS rev
       |  FROM lineitem GROUP BY 1),
       |abc AS (
       |  SELECT l_partkey, rev,
       |         CASE WHEN cum * 100 <= total * 80 THEN 'A'
       |              WHEN cum * 100 <= total * 95 THEN 'B'
       |              ELSE 'C' END AS abc_class
       |  FROM (SELECT l_partkey, rev,
       |               sum(rev) OVER (ORDER BY rev DESC, l_partkey
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |               sum(rev) OVER () AS total
       |        FROM rev)),
       |mq AS (
       |  SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS month,
       |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
       |  FROM lineitem GROUP BY 1, 2),
       |xyz AS (
       |  SELECT l_partkey,
       |         CASE WHEN cv IS NULL THEN 'Z' WHEN cv <= 0.5 THEN 'X'
       |              WHEN cv <= 1.0 THEN 'Y' ELSE 'Z' END AS xyz_class
       |  FROM (SELECT l_partkey,
       |               CASE WHEN count(*) >= 2 THEN
       |                 sqrt((CAST(sum(q * q) AS DOUBLE) - CAST(sum(q) AS DOUBLE)
       |                         * sum(q) / count(*)) / (count(*) - 1))
       |                   / (CAST(sum(q) AS DOUBLE) / count(*)) END AS cv
       |        FROM mq GROUP BY 1))
       |SELECT abc_class, xyz_class, count(*) AS n_parts,
       |       ${Det.rndSql("CAST(sum(rev) AS DOUBLE) / 100.0", 2)} AS revenue,
       |       ${Det.rndSql(
          "CAST(sum(rev) AS DOUBLE) / sum(sum(rev)) OVER ()", 6)} AS revenue_share
       |FROM abc JOIN xyz USING (l_partkey)
       |GROUP BY 1, 2
       |ORDER BY abc_class, xyz_class""".stripMargin

  /** DAU/MAU STICKINESS per calendar month — "of the users who showed
    * up this month, what share shows up on an average day?": the
    * engagement-quality scalar `q_active_users`'s rolling windows
    * don't produce. Exact distinct counts per day and per month; the
    * ratio is one fenced division. */
  def stickiness(spark: SparkSession, dir: String): DataFrame =
    stickinessOf(Tables(spark, dir, "events"))

  private[graft] def stickinessOf(events: DataFrame): DataFrame = {
    val dau = events
      .select(date_format(col("ts"), "yyyy-MM").as("month"),
        to_date(col("ts")).as("d"), col("user_id"))
      .distinct()
      .groupBy("month", "d").agg(count(lit(1)).as("dau"))
      .groupBy("month").agg(count(lit(1)).as("n_days"), sum("dau").as("sdau"))
    val mau = events
      .select(date_format(col("ts"), "yyyy-MM").as("month"), col("user_id"))
      .distinct()
      .groupBy("month").agg(count(lit(1)).as("mau"))
    dau.join(mau, "month")
      .select(col("month"), col("n_days"), col("mau"),
        Det.rnd(col("sdau").cast("double") / col("n_days"), 2).as("avg_dau"),
        Det.rnd(col("sdau").cast("double") / col("n_days") / col("mau"), 4)
          .as("stickiness"))
      .orderBy("month")
  }

  val stickinessSql: String =
    s"""WITH dd AS (
       |  SELECT DISTINCT strftime(ts, '%Y-%m') AS month, CAST(ts AS DATE) AS d,
       |         user_id
       |  FROM events),
       |dau AS (
       |  SELECT month, count(*) AS n_days, CAST(sum(dau) AS BIGINT) AS sdau
       |  FROM (SELECT month, d, count(*) AS dau FROM dd GROUP BY 1, 2)
       |  GROUP BY 1),
       |mau AS (
       |  SELECT month, count(*) AS mau
       |  FROM (SELECT DISTINCT month, user_id FROM dd) GROUP BY 1)
       |SELECT month, n_days, mau,
       |       ${Det.rndSql("CAST(sdau AS DOUBLE) / n_days", 2)} AS avg_dau,
       |       ${Det.rndSql(
          "CAST(sdau AS DOUBLE) / n_days / mau", 4)} AS stickiness
       |FROM dau JOIN mau USING (month)
       |ORDER BY month""".stripMargin

  /** INTRACLASS CORRELATION ICC(1) of account balance within nations
    * — "how much of balance variance is BETWEEN nations?", the
    * variance-components reliability scalar that decides whether
    * nation is worth stratifying on ([[anovaF]] tests the same
    * decomposition; ICC reports it as a share with the unbalanced-
    * design n₀ correction). MSB/MSW from exact decimal-widened power
    * sums; n₀ = (N − Σnᵢ²/N)/(k−1); one fixed expression. */
  def icc(spark: SparkSession, dir: String): DataFrame =
    iccOf(Tables(spark, dir, "customer"))

  private[graft] def iccOf(customer: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val g = customer
      .select(col("c_nationkey").as("g"), Det.cents(col("c_acctbal")).as("c"))
      .groupBy("g")
      .agg(count(lit(1)).as("ni"), sum("c").as("si"),
        sum(col("c").cast(d38) * col("c")).as("qi"))
    g.agg(count(lit(1)).as("k"), sum("ni").as("n"),
        sum("si").as("s"), sum("qi").as("q"),
        // per-group sᵢ²/nᵢ fenced to INTEGER cents² (values ~1e14 sit
        // far below 2⁵³; a raw double sum re-orders across engines and
        // moved the 2dp msb output at sf0.1) then exact decimal sum
        sum(Det.units(col("si").cast("double") * col("si") / col("ni"), 0)
          .cast("decimal(38,0)")).cast("double").as("gm"),
        sum(col("ni") * col("ni")).as("n2"))
      .select(col("k"), col("n"),
        Det.rnd(expr("(gm - CAST(s AS DOUBLE) * s / n) / (k - 1)"), 2).as("msb"),
        Det.rnd(expr("(CAST(q AS DOUBLE) - gm) / (n - k)"), 2).as("msw"),
        Det.rnd(expr(
          "CASE WHEN (gm - CAST(s AS DOUBLE) * s / n) / (k - 1)" +
            " + ((n - n2 / n) / (k - 1) - 1) * ((CAST(q AS DOUBLE) - gm) / (n - k))" +
            " = 0.0 THEN 0.0 ELSE " +
            "((gm - CAST(s AS DOUBLE) * s / n) / (k - 1)" +
            " - (CAST(q AS DOUBLE) - gm) / (n - k))" +
            " / ((gm - CAST(s AS DOUBLE) * s / n) / (k - 1)" +
            " + ((n - n2 / n) / (k - 1) - 1)" +
            " * ((CAST(q AS DOUBLE) - gm) / (n - k))) END"), 6).as("icc1"))
  }

  val iccSql: String =
    s"""WITH g AS (
       |  SELECT c_nationkey AS g, count(*) AS ni,
       |         CAST(sum(${Det.centsSql("c_acctbal")}) AS BIGINT) AS si,
       |         sum(CAST(${Det.centsSql("c_acctbal")} AS HUGEINT)
       |             * ${Det.centsSql("c_acctbal")}) AS qi
       |  FROM customer GROUP BY 1),
       |a AS (
       |  SELECT count(*) AS k, CAST(sum(ni) AS BIGINT) AS n,
       |         CAST(sum(si) AS BIGINT) AS s, sum(qi) AS q,
       |         CAST(sum(${Det.unitsSql(
          "CAST(si AS DOUBLE) * si / ni", 0)}) AS DOUBLE) AS gm,
       |         CAST(sum(ni * ni) AS BIGINT) AS n2
       |  FROM g)
       |SELECT k, n,
       |       ${Det.rndSql(
          "(gm - CAST(s AS DOUBLE) * s / n) / (k - 1)", 2)} AS msb,
       |       ${Det.rndSql("(CAST(q AS DOUBLE) - gm) / (n - k)", 2)} AS msw,
       |       ${Det.rndSql(
          "CASE WHEN (gm - CAST(s AS DOUBLE) * s / n) / (k - 1)" +
            " + ((n - n2 / n) / (k - 1) - 1) * ((CAST(q AS DOUBLE) - gm) / (n - k))" +
            " = 0.0 THEN 0.0 ELSE " +
            "((gm - CAST(s AS DOUBLE) * s / n) / (k - 1)" +
            " - (CAST(q AS DOUBLE) - gm) / (n - k))" +
            " / ((gm - CAST(s AS DOUBLE) * s / n) / (k - 1)" +
            " + ((n - n2 / n) / (k - 1) - 1)" +
            " * ((CAST(q AS DOUBLE) - gm) / (n - k))) END", 6)} AS icc1
       |FROM a""".stripMargin

  /** FIXED- AND RANDOM-EFFECTS META-ANALYSIS of the per-region
    * treatment effect (modmul-bucket treatment, outcome = customer
    * order spend): inverse-variance pooling, Cochran's Q
    * heterogeneity, DerSimonian–Laird τ², and I² — the "do the five
    * regions even agree?" layer that a single pooled
    * [[mantelHaenszel]]-style estimate hides. Per-region moments are
    * exact decimal-widened integers; the 5-row inverse-variance
    * reduction is the [[anovaF]] k-row double discipline; τ² and I²
    * clamp at 0, mirrored. */
  def metaAnalysis(spark: SparkSession, dir: String): DataFrame =
    metaAnalysisOf(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"),
      Tables(spark, dir, "nation"), Tables(spark, dir, "region"))

  private[graft] def metaAnalysisOf(customer: DataFrame, orders: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val spend = orders.groupBy(col("o_custkey"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("y0"))
    val base = customer
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("stratum"),
        (expr(TextQueries.splitBucketOf("c_custkey")) < 50).as("t"),
        coalesce(col("y0"), lit(0L)).as("y"))
    val g = base.groupBy("stratum")
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("t"), col("y")).otherwise(0L)).as("st"),
        sum(when(col("t"), col("y").cast(d38) * col("y")).otherwise(lit(0L)
          .cast(d38))).as("qt"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("nc"),
        sum(when(!col("t"), col("y")).otherwise(0L)).as("sc"),
        sum(when(!col("t"), col("y").cast(d38) * col("y")).otherwise(lit(0L)
          .cast(d38))).as("qc"))
      .filter(col("nt") >= 2 && col("nc") >= 2)
      .select(
        ((col("st").cast("double") / col("nt")
          - col("sc").cast("double") / col("nc")) / 100.0).as("eff"),
        (((col("qt").cast("double") - col("st").cast("double")
          * col("st") / col("nt")) / (col("nt") - 1) / col("nt")
          + (col("qc").cast("double") - col("sc").cast("double")
            * col("sc") / col("nc")) / (col("nc") - 1) / col("nc")) / 1e4)
          .as("v"))
      .filter(col("v") > 0)
      .select(col("eff"), (lit(1.0) / col("v")).as("w"))
    g.agg(count(lit(1)).as("k"), sum("w").as("sw"),
        sum(col("w") * col("w")).as("sw2"),
        sum(col("w") * col("eff")).as("swe"),
        sum(col("w") * col("eff") * col("eff")).as("swe2"))
      .select(col("k"),
        Det.rnd(expr("swe / sw"), 4).as("theta_fixed"),
        Det.rnd(expr("swe2 - swe * swe / sw"), 4).as("q_stat"),
        // tau2 is dollars²-scale (~1e9 at sf0.01) with a ~1e-8-scale
        // denominator: a 6dp fence demanded ~16 significant digits —
        // beyond what ANY double pipeline reproduces across summation
        // orders (observed 2e-6 drift at sf0.01). 2dp is the honest
        // magnitude-aware fence (drift ≪ boundary spacing).
        Det.rnd(expr(
          "greatest(0.0, (swe2 - swe * swe / sw - (k - 1))" +
            " / (sw - sw2 / sw))"), 2).as("tau2"),
        Det.rnd(expr(
          "CASE WHEN swe2 - swe * swe / sw = 0.0 THEN 0.0 ELSE" +
            " greatest(0.0, (swe2 - swe * swe / sw - (k - 1))" +
            " / (swe2 - swe * swe / sw)) END"), 4).as("i2"))
  }

  val metaAnalysisSql: String =
    s"""WITH spend AS (
       |  SELECT o_custkey, CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT)
       |           AS y0
       |  FROM orders GROUP BY 1),
       |base AS (
       |  SELECT r_name AS stratum,
       |         ${TextQueries.splitBucketSqlOf("c_custkey")} < 50 AS t,
       |         coalesce(y0, 0) AS y
       |  FROM customer
       |  LEFT JOIN spend ON o_custkey = c_custkey
       |  JOIN nation ON n_nationkey = c_nationkey
       |  JOIN region ON r_regionkey = n_regionkey),
       |cells AS (
       |  SELECT stratum,
       |         CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
       |         CAST(sum(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS st,
       |         sum(CASE WHEN t THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS qt,
       |         CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nc,
       |         CAST(sum(CASE WHEN NOT t THEN y ELSE 0 END) AS BIGINT) AS sc,
       |         sum(CASE WHEN NOT t THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS qc
       |  FROM base GROUP BY 1),
       |eff AS (
       |  SELECT (CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc) / 100.0 AS eff,
       |         ((CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * st / nt) / (nt - 1) / nt
       |          + (CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / nc)
       |            / (nc - 1) / nc) / 1e4 AS v
       |  FROM cells WHERE nt >= 2 AND nc >= 2),
       |w AS (SELECT eff, 1.0 / v AS w FROM eff WHERE v > 0),
       |a AS (
       |  SELECT count(*) AS k, sum(w) AS sw, sum(w * w) AS sw2,
       |         sum(w * eff) AS swe, sum(w * eff * eff) AS swe2
       |  FROM w)
       |SELECT k,
       |       ${Det.rndSql("swe / sw", 4)} AS theta_fixed,
       |       ${Det.rndSql("swe2 - swe * swe / sw", 4)} AS q_stat,
       |       ${Det.rndSql(
          "greatest(0.0, (swe2 - swe * swe / sw - (k - 1))" +
            " / (sw - sw2 / sw))", 2)} AS tau2,
       |       ${Det.rndSql(
          "CASE WHEN swe2 - swe * swe / sw = 0.0 THEN 0.0 ELSE" +
            " greatest(0.0, (swe2 - swe * swe / sw - (k - 1))" +
            " / (swe2 - swe * swe / sw)) END", 4)} AS i2
       |FROM a""".stripMargin

  /** ACTUARIAL LIFE TABLE of customer active lifespans (years from
    * first to last order) — the lx/dx/qx/ex columns `q_survival_km`
    * (survival curve) and `q_nelson_aalen` (hazard) don't report:
    * qx = the conditional "retire this year" probability at tenure t,
    * ex = expected REMAINING active years — the number a CFO
    * multiplies revenue-per-year by. lx via a backward cumulative
    * over the lifespan histogram (exact integers); ex = Σ_{s>t} l(s)/
    * l(t) + 0.5 (standard mid-year convention, documented); one
    * fenced division per column. */
  def lifeTable(spark: SparkSession, dir: String): DataFrame =
    lifeTableOf(Tables(spark, dir, "orders"))

  private[graft] def lifeTableOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val span = orders.groupBy(col("o_custkey"))
      .agg((year(max(col("o_orderdate"))) - year(min(col("o_orderdate"))))
        .as("t"))
    val h = span.groupBy("t").agg(count(lit(1)).as("dx"))
    val back = Window.orderBy("t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val after = Window.orderBy("t")
      .rowsBetween(1, Window.unboundedFollowing)
    h.withColumn("lx", sum("dx").over(back))
      .withColumn("sx", coalesce(sum("lx").over(after), lit(0L)))
      .select(col("t").as("tenure_years"), col("lx"), col("dx"),
        Det.rnd(col("dx").cast("double") / col("lx"), 6).as("qx"),
        Det.rnd(col("sx").cast("double") / col("lx") + 0.5, 4).as("ex"))
      .orderBy("tenure_years")
  }

  val lifeTableSql: String =
    s"""WITH span AS (
       |  SELECT o_custkey,
       |         year(max(o_orderdate)) - year(min(o_orderdate)) AS t
       |  FROM orders GROUP BY 1),
       |h AS (SELECT t, count(*) AS dx FROM span GROUP BY 1),
       |l AS (
       |  SELECT t, dx,
       |         sum(dx) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
       |                       AND UNBOUNDED FOLLOWING) AS lx
       |  FROM h),
       |c AS (
       |  SELECT t, dx, lx,
       |         coalesce(sum(lx) OVER (ORDER BY t ROWS BETWEEN 1 FOLLOWING
       |                                AND UNBOUNDED FOLLOWING), 0) AS sx
       |  FROM l)
       |SELECT CAST(t AS INTEGER) AS tenure_years, CAST(lx AS BIGINT) AS lx,
       |       CAST(dx AS BIGINT) AS dx,
       |       ${Det.rndSql("CAST(dx AS DOUBLE) / lx", 6)} AS qx,
       |       ${Det.rndSql("CAST(sx AS DOUBLE) / lx + 0.5", 4)} AS ex
       |FROM c
       |ORDER BY tenure_years""".stripMargin

  private final val VariogramMaxLag = 14

  /** EMPIRICAL VARIOGRAM of daily revenue, lags 1..[[VariogramMaxLag]]
    * — γ(h) = Σ(xₜ − xₜ₊ₕ)²/(2·Nₕ): the geostatistics read of
    * temporal structure that `q_autocorr` (two fixed lags) and
    * `q_periodogram` (global frequencies) bracket — the lag where
    * γ(h) flattens is the decorrelation range, directly the right
    * window size for rolling features. Calendar-lag self-joins of the
    * day histogram per h (exact-cents squared diffs, decimal-widened
    * sums); the sill normalizer is the series variance from the same
    * exact moments. */
  def variogram(spark: SparkSession, dir: String): DataFrame =
    variogramOf(Tables(spark, dir, "orders"))

  private[graft] def variogramOf(orders: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val byDay = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("c"))
      .localCheckpoint() // calendar-bounded; both join sides + variance
    val vr = byDay.agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(col("c").cast(d38) * col("c")).as("q"))
      .select(((col("q").cast("double") - col("s").cast("double")
        * col("s") / col("n")) / (col("n") - 1)).as("sill"))
    val lags = byDay
      .select(col("d"), col("c"), explode(sequence(lit(1),
        lit(VariogramMaxLag))).as("h"))
      .join(byDay.select(col("d").as("d2"), col("c").as("c2")),
        expr("date_add(d, h) = d2"))
    lags.groupBy("h")
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("c") - col("c2")).cast(d38) * (col("c") - col("c2")))
          .as("ssd"))
      .crossJoin(broadcast(vr))
      .select(col("h").as("lag_days"), col("n_pairs"),
        Det.rnd(col("ssd").cast("double") / (col("n_pairs") * 2.0) / 1e4, 2)
          .as("gamma"),
        Det.rnd(col("ssd").cast("double") / (col("n_pairs") * 2.0)
          / col("sill"), 4).as("gamma_over_sill"))
      .orderBy("lag_days")
  }

  val variogramSql: String =
    s"""WITH byday AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS c
       |  FROM orders GROUP BY 1),
       |vr AS (
       |  SELECT (CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE)
       |          - CAST(sum(c) AS DOUBLE) * sum(c) / count(*)) / (count(*) - 1)
       |           AS sill
       |  FROM byday),
       |lags AS (
       |  SELECT h.h, a.c AS c, b.c AS c2
       |  FROM byday a, (SELECT unnest(range(1, ${VariogramMaxLag + 1})) AS h) h
       |  JOIN byday b ON b.d = a.d + CAST(h.h AS INTEGER)),
       |g AS (
       |  SELECT h AS lag_days, count(*) AS n_pairs,
       |         sum(CAST(c - c2 AS HUGEINT) * (c - c2)) AS ssd
       |  FROM lags GROUP BY 1)
       |SELECT CAST(lag_days AS INTEGER) AS lag_days, n_pairs,
       |       ${Det.rndSql(
          "CAST(ssd AS DOUBLE) / (n_pairs * 2.0) / 1e4", 2)} AS gamma,
       |       ${Det.rndSql(
          "CAST(ssd AS DOUBLE) / (n_pairs * 2.0) / sill", 4)} AS gamma_over_sill
       |FROM g CROSS JOIN vr
       |ORDER BY lag_days""".stripMargin

  /** BLAND–ALTMAN agreement between the order-header total and the
    * recomputed lineitem total (price·(1−disc)·(1+tax)) — the method-
    * comparison statistics [[reconciliation]]'s balanced/drift census
    * stops short of: BIAS (mean difference), the 95% LIMITS OF
    * AGREEMENT bias ± 1.96σ_d (pinned z), and the share of orders
    * outside them — the medical-statistics standard for "do two
    * measurements of the same thing agree". Diffs are exact integers
    * at the 10⁻⁴-cent scale (the reconciliation units), moments
    * decimal-widened; the outside-LoA count is a second exact pass
    * against the 1-row broadcast bias/σ. */
  def blandAltman(spark: SparkSession, dir: String): DataFrame =
    blandAltmanOf(Tables(spark, dir, "orders"), Tables(spark, dir, "lineitem"))

  private[graft] def blandAltmanOf(orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    def diffs = {
      val lines = lineitem.groupBy(col("l_orderkey").as("okey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
          " * (100 - CAST(round(l_discount * 100) AS BIGINT))" +
          " * (100 + CAST(round(l_tax * 100) AS BIGINT))").cast(d38))
          .as("lu"))
      orders.select(col("o_orderkey").as("okey"),
          (Det.cents(col("o_totalprice")).cast(d38) * 10000L).as("hu"))
        .join(lines, Seq("okey"))
        .select((col("lu") - col("hu")).cast("long").as("d"))
    }
    val m = diffs.agg(count(lit(1)).as("n"), sum(col("d").cast(d38)).as("s"),
        sum(col("d").cast(d38) * col("d")).as("q"))
      .select(col("n"),
        (col("s").cast("double") / col("n")).as("bias_u"),
        sqrt((col("q").cast("double") - col("s").cast("double")
          * col("s").cast("double") / col("n")) / (col("n") - 1)).as("sd_u"))
    val outside = diffs.crossJoin(broadcast(m))
      .filter(abs(col("d") - col("bias_u")) > col("sd_u") * 1.959963984540054)
      .agg(count(lit(1)).as("n_outside"))
    m.crossJoin(broadcast(outside))
      .select(col("n"),
        Det.rnd(col("bias_u") / 1e6, 4).as("bias"),
        Det.rnd(col("sd_u") / 1e6, 4).as("sd_diff"),
        Det.rnd((col("bias_u") - col("sd_u") * 1.959963984540054) / 1e6, 4)
          .as("loa_lower"),
        Det.rnd((col("bias_u") + col("sd_u") * 1.959963984540054) / 1e6, 4)
          .as("loa_upper"),
        Det.rnd(col("n_outside").cast("double") / col("n"), 6)
          .as("share_outside"))
  }

  val blandAltmanSql: String =
    s"""WITH lines AS (
       |  SELECT l_orderkey AS okey,
       |         sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
       |                  * (100 - CAST(round(l_discount * 100) AS BIGINT))
       |                  * (100 + CAST(round(l_tax * 100) AS BIGINT))
       |                  AS HUGEINT)) AS lu
       |  FROM lineitem GROUP BY 1),
       |d AS (
       |  SELECT CAST(lu - CAST(${Det.centsSql("o_totalprice")} AS HUGEINT)
       |              * 10000 AS BIGINT) AS d
       |  FROM orders JOIN lines ON okey = o_orderkey),
       |m AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE) / count(*) AS bias_u,
       |         sqrt((CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE)
       |               - CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE)
       |                 * CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE) / count(*))
       |              / (count(*) - 1)) AS sd_u
       |  FROM d),
       |o AS (
       |  SELECT count(*) AS n_outside
       |  FROM d CROSS JOIN m
       |  WHERE abs(d - bias_u) > sd_u * 1.959963984540054)
       |SELECT n,
       |       ${Det.rndSql("bias_u / 1e6", 4)} AS bias,
       |       ${Det.rndSql("sd_u / 1e6", 4)} AS sd_diff,
       |       ${Det.rndSql(
          "(bias_u - sd_u * 1.959963984540054) / 1e6", 4)} AS loa_lower,
       |       ${Det.rndSql(
          "(bias_u + sd_u * 1.959963984540054) / 1e6", 4)} AS loa_upper,
       |       ${Det.rndSql(
          "CAST(n_outside AS DOUBLE) / n", 6)} AS share_outside
       |FROM m CROSS JOIN o""".stripMargin

  private final val CpkLsl = 5000000L  // $50,000 in cents — pinned spec
  private final val CpkUsl = 45000000L // $450,000 in cents

  /** PROCESS CAPABILITY Cp/Cpk of order value against the pinned
    * [$50k, $450k] spec band — the SPC index `q_spc_chart` (control
    * limits from the process itself) cannot give: capability compares
    * the process against EXTERNAL requirements. Exact decimal-widened
    * moments; out-of-spec shares are exact counts (not a normality
    * extrapolation — both reported so the gap between them reads as
    * non-normality). */
  def processCapability(spark: SparkSession, dir: String): DataFrame =
    processCapabilityOf(Tables(spark, dir, "orders"))

  private[graft] def processCapabilityOf(orders: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    orders.select(Det.cents(col("o_totalprice")).as("c"))
      .agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(col("c").cast(d38) * col("c")).as("q"),
        sum(when(col("c") < CpkLsl || col("c") > CpkUsl, 1L).otherwise(0L))
          .as("n_out"))
      .select(col("n"), col("n_out"),
        (col("s").cast("double") / col("n")).as("mu"),
        sqrt((col("q").cast("double") - col("s").cast("double")
          * col("s") / col("n")) / (col("n") - 1)).as("sig"))
      .select(col("n"),
        Det.rnd(col("mu") / 100.0, 2).as("mean"),
        Det.rnd(col("sig") / 100.0, 2).as("sigma"),
        Det.rnd(lit((CpkUsl - CpkLsl).toDouble) / (col("sig") * 6.0), 4)
          .as("cp"),
        Det.rnd(least(lit(CpkUsl.toDouble) - col("mu"),
          col("mu") - lit(CpkLsl.toDouble)) / (col("sig") * 3.0), 4).as("cpk"),
        Det.rnd(col("n_out").cast("double") / col("n"), 6)
          .as("share_out_of_spec"))
  }

  val processCapabilitySql: String =
    s"""WITH a AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS s,
       |         sum(CAST(${Det.centsSql("o_totalprice")} AS HUGEINT)
       |             * ${Det.centsSql("o_totalprice")}) AS q,
       |         CAST(sum(CASE WHEN ${Det.centsSql("o_totalprice")} < $CpkLsl
       |                       OR ${Det.centsSql("o_totalprice")} > $CpkUsl
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_out
       |  FROM orders),
       |m AS (
       |  SELECT n, n_out, CAST(s AS DOUBLE) / n AS mu,
       |         sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
       |           AS sig
       |  FROM a)
       |SELECT n,
       |       ${Det.rndSql("mu / 100.0", 2)} AS mean,
       |       ${Det.rndSql("sig / 100.0", 2)} AS sigma,
       |       ${Det.rndSql(
          s"${(CpkUsl - CpkLsl).toDouble} / (sig * 6.0)", 4)} AS cp,
       |       ${Det.rndSql(
          s"least(${CpkUsl.toDouble} - mu, mu - ${CpkLsl.toDouble})" +
            " / (sig * 3.0)", 4)} AS cpk,
       |       ${Det.rndSql("CAST(n_out AS DOUBLE) / n", 6)} AS share_out_of_spec
       |FROM m""".stripMargin

  /** BCG GROWTH–SHARE MATRIX of nations within their regions — each
    * nation plotted by RELATIVE market share (its revenue over the
    * largest OTHER nation's in the region — the classic leader-gets-
    * ratio-vs-runner-up convention) and revenue GROWTH (post- vs
    * pre-[[ScPostFrom]]), then binned into star / cash_cow /
    * question_mark / dog at the pinned share ≥ 1, growth > 0 cuts.
    * Exact cents throughout; the runner-up denominator comes from two
    * region-window maxes (ties → both leaders get share 1,
    * documented). */
  def bcgMatrix(spark: SparkSession, dir: String): DataFrame =
    bcgMatrixOf(Tables(spark, dir, "orders"), Tables(spark, dir, "customer"),
      Tables(spark, dir, "nation"), Tables(spark, dir, "region"))

  private[graft] def bcgMatrixOf(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_regionkey"),
        col("n_name"))), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("rev"),
        sum(when(date_format(col("o_orderdate"), "yyyy-MM") >= ScPostFrom,
          Det.cents(col("o_totalprice"))).otherwise(0L)).as("post"),
        sum(when(date_format(col("o_orderdate"), "yyyy-MM") < ScPostFrom,
          Det.cents(col("o_totalprice"))).otherwise(0L)).as("pre"))
    val w = Window.partitionBy("region")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rev
      .withColumn("m1", max("rev").over(w))
      .withColumn("m2", max(when(col("rev") < col("m1"), col("rev"))).over(w))
      .select(col("region"), col("nation"),
        Det.rnd(col("rev").cast("double") / 100.0, 2).as("revenue"),
        Det.rnd(when(col("rev") === col("m1"),
          col("rev").cast("double") / coalesce(col("m2"), col("m1")))
          .otherwise(col("rev").cast("double") / col("m1")), 4)
          .as("rel_share"),
        Det.rnd(when(col("pre") > 0,
          col("post").cast("double") / col("pre") - 1.0), 4).as("growth"))
      .withColumn("quadrant",
        when(col("rel_share") >= 1.0 && col("growth") > 0, "star")
          .when(col("rel_share") >= 1.0, "cash_cow")
          .when(col("growth") > 0, "question_mark")
          .otherwise("dog"))
      .orderBy("region", "nation")
  }

  val bcgMatrixSql: String =
    s"""WITH rev AS (
       |  SELECT r_name AS region, n_name AS nation,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS rev,
       |         CAST(sum(CASE WHEN strftime(o_orderdate, '%Y-%m') >= '$ScPostFrom'
       |                       THEN ${Det.centsSql("o_totalprice")} ELSE 0 END)
       |              AS BIGINT) AS post,
       |         CAST(sum(CASE WHEN strftime(o_orderdate, '%Y-%m') < '$ScPostFrom'
       |                       THEN ${Det.centsSql("o_totalprice")} ELSE 0 END)
       |              AS BIGINT) AS pre
       |  FROM orders
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN nation ON n_nationkey = c_nationkey
       |  JOIN region ON r_regionkey = n_regionkey
       |  GROUP BY 1, 2),
       |m1c AS (
       |  SELECT region, nation, rev, post, pre,
       |         max(rev) OVER (PARTITION BY region) AS m1
       |  FROM rev),
       |mx AS (
       |  SELECT region, nation, rev, post, pre, m1,
       |         max(CASE WHEN rev < m1 THEN rev END)
       |           OVER (PARTITION BY region) AS m2
       |  FROM m1c),
       |f AS (
       |  SELECT region, nation,
       |         ${Det.rndSql("CAST(rev AS DOUBLE) / 100.0", 2)} AS revenue,
       |         ${Det.rndSql(
          "CASE WHEN rev = m1 THEN CAST(rev AS DOUBLE) / coalesce(m2, m1)" +
            " ELSE CAST(rev AS DOUBLE) / m1 END", 4)} AS rel_share,
       |         ${Det.rndSql(
          "CASE WHEN pre > 0 THEN CAST(post AS DOUBLE) / pre - 1.0 END",
          4)} AS growth
       |  FROM mx)
       |SELECT region, nation, revenue, rel_share, growth,
       |       CASE WHEN rel_share >= 1.0 AND growth > 0 THEN 'star'
       |            WHEN rel_share >= 1.0 THEN 'cash_cow'
       |            WHEN growth > 0 THEN 'question_mark'
       |            ELSE 'dog' END AS quadrant
       |FROM f
       |ORDER BY region, nation""".stripMargin

  /** SEASONAL MANN–KENDALL trend test over monthly revenue — the
    * Hirsch–Slack variant that `q_mann_kendall` (daily, unstratified)
    * needs when the series has a seasonal cycle: S is summed over
    * WITHIN-month-of-year year pairs only (January-vs-January, never
    * January-vs-July), so the seasonal swing can't masquerade as
    * trend. Exact integer S per season from the (season × year
    * pair)-bounded self-join; tie-corrected variance per season
    * (mirrored); continuity-corrected z one fixed double. */
  def seasonalMannKendall(spark: SparkSession, dir: String): DataFrame =
    seasonalMannKendallOf(Tables(spark, dir, "orders"))

  private[graft] def seasonalMannKendallOf(orders: DataFrame): DataFrame = {
    val my = orders
      .groupBy(month(col("o_orderdate")).as("moy"),
        year(col("o_orderdate")).as("yr"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("c"))
      .localCheckpoint() // (12 × years)-bounded; pair join + tie scan
    val pairs = my.select(col("moy"), col("yr").as("y1"), col("c").as("c1"))
      .join(my.select(col("moy"), col("yr").as("y2"), col("c").as("c2")),
        Seq("moy"))
      .filter(col("y1") < col("y2"))
      .groupBy("moy")
      .agg(sum(signum((col("c2") - col("c1")).cast("double")).cast("long"))
        .as("s_m"), count(lit(1)).as("n_pairs"))
    val nm = my.groupBy("moy").agg(count(lit(1)).as("nm"))
    val ties = my.groupBy("moy", "c").agg(count(lit(1)).as("t"))
      .groupBy("moy")
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie"))
    val per = pairs.join(nm, "moy").join(ties, "moy")
      .select(col("moy"), col("s_m"),
        ((col("nm") * (col("nm") - 1) * (col("nm") * 2 + 5) - col("tie")))
          .as("var18"))
    per.agg(sum("s_m").as("s"), sum("var18").as("v18"),
        count(lit(1)).as("n_seasons"))
      .select(col("n_seasons"), col("s"),
        Det.rnd(col("v18").cast("double") / 18.0, 2).as("var_s"),
        Det.rnd(expr(
          "CASE WHEN v18 = 0 THEN 0.0" +
            " WHEN s > 0 THEN (s - 1) / sqrt(CAST(v18 AS DOUBLE) / 18.0)" +
            " WHEN s < 0 THEN (s + 1) / sqrt(CAST(v18 AS DOUBLE) / 18.0)" +
            " ELSE 0.0 END"), 4).as("z"))
      .withColumn("trend",
        when(col("z") > 1.959963984540054, "increasing")
          .when(col("z") < -1.959963984540054, "decreasing")
          .otherwise("none"))
  }

  val seasonalMannKendallSql: String =
    s"""WITH my AS (
       |  SELECT month(o_orderdate) AS moy, year(o_orderdate) AS yr,
       |         CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS c
       |  FROM orders GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.moy,
       |         CAST(sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1
       |                       ELSE 0 END) AS BIGINT) AS s_m
       |  FROM my a JOIN my b ON b.moy = a.moy AND a.yr < b.yr
       |  GROUP BY 1),
       |nm AS (SELECT moy, count(*) AS nm FROM my GROUP BY 1),
       |ties AS (
       |  SELECT moy, CAST(sum(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tie
       |  FROM (SELECT moy, c, count(*) AS t FROM my GROUP BY 1, 2)
       |  GROUP BY 1),
       |per AS (
       |  SELECT pairs.moy, s_m,
       |         nm * (nm - 1) * (nm * 2 + 5) - tie AS var18
       |  FROM pairs JOIN nm USING (moy) JOIN ties USING (moy)),
       |a AS (
       |  SELECT count(*) AS n_seasons, CAST(sum(s_m) AS BIGINT) AS s,
       |         CAST(sum(var18) AS BIGINT) AS v18
       |  FROM per)
       |SELECT n_seasons, s,
       |       ${Det.rndSql("CAST(v18 AS DOUBLE) / 18.0", 2)} AS var_s,
       |       ${Det.rndSql(
          "CASE WHEN v18 = 0 THEN 0.0" +
            " WHEN s > 0 THEN (s - 1) / sqrt(CAST(v18 AS DOUBLE) / 18.0)" +
            " WHEN s < 0 THEN (s + 1) / sqrt(CAST(v18 AS DOUBLE) / 18.0)" +
            " ELSE 0.0 END", 4)} AS z,
       |       CASE WHEN ${Det.rndSql(
          "CASE WHEN v18 = 0 THEN 0.0" +
            " WHEN s > 0 THEN (s - 1) / sqrt(CAST(v18 AS DOUBLE) / 18.0)" +
            " WHEN s < 0 THEN (s + 1) / sqrt(CAST(v18 AS DOUBLE) / 18.0)" +
            " ELSE 0.0 END", 4)} > 1.959963984540054 THEN 'increasing'
       |            WHEN ${Det.rndSql(
          "CASE WHEN v18 = 0 THEN 0.0" +
            " WHEN s > 0 THEN (s - 1) / sqrt(CAST(v18 AS DOUBLE) / 18.0)" +
            " WHEN s < 0 THEN (s + 1) / sqrt(CAST(v18 AS DOUBLE) / 18.0)" +
            " ELSE 0.0 END", 4)} < -1.959963984540054 THEN 'decreasing'
       |            ELSE 'none' END AS trend
       |FROM a""".stripMargin

  /** ZERO-INFLATION SCORE TEST (van den Broek 1995) on nation-0's
    * daily order counts — are there MORE zero days than the fitted
    * Poisson allows (dual question to [[poissonDispersion]]'s
    * variance check; a process can be equidispersed yet zero-
    * inflated)? The single-nation series keeps real zeros at every
    * SF. S = (n₀ − n·p₀)²/(n·p₀(1−p₀) − n·λ̂·p₀²) ~ χ²(1), with
    * p₀ = e^(−λ̂) fenced to 9dp (the kdeGrid libm-exp rule); exact
    * integer n₀/n; NULL when the denominator degenerates (λ̂ so large
    * zeros are impossible — mirrored). Pinned χ²₀.₀₅(1) = 3.841. */
  def zeroInflation(spark: SparkSession, dir: String): DataFrame =
    zeroInflationOf(Tables(spark, dir, "orders"), Tables(spark, dir, "customer"))

  private[graft] def zeroInflationOf(orders: DataFrame,
      customer: DataFrame): DataFrame = {
    val byDay = orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === 0)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("x"))
    val span = orders.agg(to_date(min(col("o_orderdate"))).as("d0"),
      datediff(to_date(max(col("o_orderdate"))),
        to_date(min(col("o_orderdate")))).as("nd"))
    val dense = span
      .select(explode(sequence(lit(0), col("nd"))).as("i"), col("d0"))
      .join(byDay, expr("date_add(d0, i) = d"), "left")
      .select(coalesce(col("x"), lit(0L)).as("x"))
    dense.agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(when(col("x") === 0L, 1L).otherwise(0L)).as("n0"))
      .select(col("n"), col("n0"),
        (col("s").cast("double") / col("n")).as("lam"))
      .select(col("n"), col("n0"),
        Det.rnd(col("lam"), 4).as("lambda"),
        Det.rnd(exp(-col("lam")), 9).as("p0"))
      .select(col("n").as("n_days"), col("n0").as("n_zero"), col("lambda"),
        Det.rnd(col("n") * col("p0"), 2).as("expected_zero"),
        Det.rnd(when(
          col("n") * col("p0") * (lit(1.0) - col("p0"))
            - col("n") * col("lambda") * col("p0") * col("p0") > 0,
          pow(col("n0") - col("n") * col("p0"), 2)
            / (col("n") * col("p0") * (lit(1.0) - col("p0"))
              - col("n") * col("lambda") * col("p0") * col("p0"))), 4)
          .as("score_stat"))
      .withColumn("zero_inflated",
        coalesce(col("score_stat") > 3.841, lit(false))
          && col("n_zero").cast("double") > col("expected_zero"))
  }

  val zeroInflationSql: String =
    s"""WITH byday AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS x
       |  FROM orders JOIN customer ON c_custkey = o_custkey
       |  WHERE c_nationkey = 0 GROUP BY 1),
       |span AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
       |                date_diff('day', CAST(min(o_orderdate) AS DATE),
       |                          CAST(max(o_orderdate) AS DATE)) AS nd
       |         FROM orders),
       |dense AS (
       |  SELECT coalesce(x, 0) AS x
       |  FROM (SELECT d0 + CAST(i AS INTEGER) AS day
       |        FROM span, (SELECT unnest(range(nd + 1)) AS i FROM span))
       |  LEFT JOIN byday ON day = d),
       |a AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
       |             CAST(sum(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
       |      FROM dense),
       |m AS (SELECT n, n0, ${Det.rndSql("CAST(s AS DOUBLE) / n", 4)} AS lambda,
       |             ${Det.rndSql("exp(-(CAST(s AS DOUBLE) / n))", 9)} AS p0
       |      FROM a)
       |SELECT n AS n_days, n0 AS n_zero, lambda,
       |       ${Det.rndSql("n * p0", 2)} AS expected_zero,
       |       ${Det.rndSql(
          "CASE WHEN n * p0 * (1.0 - p0) - n * lambda * p0 * p0 > 0 THEN" +
            " pow(n0 - n * p0, 2)" +
            " / (n * p0 * (1.0 - p0) - n * lambda * p0 * p0) END",
          4)} AS score_stat,
       |       coalesce(${Det.rndSql(
          "CASE WHEN n * p0 * (1.0 - p0) - n * lambda * p0 * p0 > 0 THEN" +
            " pow(n0 - n * p0, 2)" +
            " / (n * p0 * (1.0 - p0) - n * lambda * p0 * p0) END",
          4)} > 3.841, false)
       |         AND CAST(n0 AS DOUBLE) > ${Det.rndSql("n * p0", 2)}
       |         AS zero_inflated
       |FROM m""".stripMargin

  private final val KeyGapBucket = 10000L

  /** PRIMARY-KEY GAP AUDIT of `o_orderkey` — the data-quality census
    * a lost-partition incident shows up in first: expected-vs-actual
    * key counts over [min, max] (a wholly-missing ingest chunk shows
    * up in these totals), and the SPARSEST nonempty [[KeyGapBucket]]-
    * wide key bucket (a partially-lost chunk reads as one near-empty
    * bucket) — bucketed, so NO global key sort, unlike a lag-based
    * largest-gap scan. Pure exact integers; density one
    * fenced division; sparsest-bucket tie breaks on the lower start
    * key. Assumes keys unique (they are — `q_ref_integrity`'s
    * contract); interior buckets only, the two edge buckets are
    * partial by construction (documented). */
  def keyGaps(spark: SparkSession, dir: String): DataFrame =
    keyGapsOf(Tables(spark, dir, "orders"))

  private[graft] def keyGapsOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = orders.select(col("o_orderkey").as("k"))
    val bounds = k.agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"))
    val buckets = k.select((col("k") - col("k") % KeyGapBucket).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cnt"))
    // interior buckets preferred (edges are partial by construction);
    // when the key range spans < 3 buckets the least-bad edge bucket
    // is reported instead of an empty result (small-SF safety)
    val sparsest = buckets.crossJoin(broadcast(bounds))
      .withColumn("edge",
        (col("b") <= col("mn") - (col("mn") % KeyGapBucket)
          || col("b") >= col("mx") - (col("mx") % KeyGapBucket)).cast("int"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("edge").asc, col("cnt").asc, col("b").asc)))
      .filter(col("rk") === 1)
      .select(col("b").as("sparsest_bucket"), col("cnt").as("sparsest_count"))
    bounds.crossJoin(broadcast(sparsest))
      .select(col("n"), col("mn").as("min_key"), col("mx").as("max_key"),
        (col("mx") - col("mn") + 1 - col("n")).as("n_missing"),
        Det.rnd((col("mx") - col("mn") + 1 - col("n")).cast("double")
          / (col("mx") - col("mn") + 1), 6).as("missing_share"),
        col("sparsest_bucket"), col("sparsest_count"),
        Det.rnd(col("sparsest_count").cast("double") / KeyGapBucket, 6)
          .as("sparsest_density"))
  }

  val keyGapsSql: String =
    s"""WITH k AS (SELECT o_orderkey AS k FROM orders),
       |bounds AS (SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM k),
       |buckets AS (
       |  SELECT k - k % $KeyGapBucket AS b, count(*) AS cnt
       |  FROM k GROUP BY 1),
       |sparsest AS (
       |  SELECT b AS sparsest_bucket, cnt AS sparsest_count
       |  FROM buckets CROSS JOIN bounds
       |  ORDER BY CASE WHEN b <= mn - (mn % $KeyGapBucket)
       |                OR b >= mx - (mx % $KeyGapBucket) THEN 1 ELSE 0 END,
       |           cnt, b LIMIT 1)
       |SELECT n, mn AS min_key, mx AS max_key,
       |       mx - mn + 1 - n AS n_missing,
       |       ${Det.rndSql(
          "CAST(mx - mn + 1 - n AS DOUBLE) / (mx - mn + 1)",
          6)} AS missing_share,
       |       sparsest_bucket, sparsest_count,
       |       ${Det.rndSql(
          s"CAST(sparsest_count AS DOUBLE) / $KeyGapBucket",
          6)} AS sparsest_density
       |FROM bounds CROSS JOIN sparsest""".stripMargin

  /** C-CHART (Poisson count control chart) over daily purchase
    * counts — the COUNT-data member of the SPC family
    * (`q_spc_chart` monitors a continuous total with mean±3σ; the
    * c-chart's limits are λ̂ ± 3√λ̂ because a Poisson process's σ IS
    * √λ): out-of-control days above UCL / below LCL, and the worst
    * single day. Calendar-dense exact counts; limits are two doubles
    * off exact moments; the worst-day pick breaks ties on the
    * earlier date. */
  def cChart(spark: SparkSession, dir: String): DataFrame =
    cChartFinish(cChartDailyFrom(Tables(spark, dir, "events")))

  private[graft] def cChartOf(events: DataFrame): DataFrame =
    cChartFinish(cChartDailyFrom(events))

  /** The c-chart's running state: the daily purchase-count histogram
    * — one mergeable aggregation, exactly what Structured Streaming
    * maintains in complete mode (`StreamJobs.cChartStream`); the
    * span is the state's own [min, max] purchase day so a stream
    * needs no retroactive all-events scan. */
  private[graft] def cChartDailyFrom(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("d"))
      .groupBy("d").agg(count(lit(1)).as("x"))

  /** Calendar-dense finish over the state — runs per micro-batch in
    * the streaming twin, BIT-equal to the batch operator on the same
    * prefix (exact integer counts; StreamingSpec). */
  private[graft] def cChartFinish(byDay: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val span = byDay.agg(min(col("d")).as("d0"),
      datediff(max(col("d")), min(col("d"))).as("nd"))
    val dense = span
      .select(explode(sequence(lit(0), col("nd"))).as("i"), col("d0"))
      .select(expr("date_add(d0, i)").as("day"), col("i"))
      .join(byDay, expr("day = d"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint() // calendar-bounded; stats + worst-day reads
    val m = dense.agg(count(lit(1)).as("n"),
        (sum("x").cast("double") / count(lit(1))).as("lam"))
      .select(col("n"), col("lam"),
        (col("lam") + sqrt(col("lam")) * 3.0).as("ucl"),
        greatest(lit(0.0), col("lam") - sqrt(col("lam")) * 3.0).as("lcl"))
    val flagged = dense.crossJoin(broadcast(m))
    val worst = flagged
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("x") - col("lam")).desc, col("day").asc)))
      .filter(col("rk") === 1)
      .select(date_format(col("day"), "yyyy-MM-dd").as("worst_day"),
        col("x").as("worst_count"))
    flagged.agg(
        sum(when(col("x") > col("ucl"), 1L).otherwise(0L)).as("n_above"),
        sum(when(col("x") < col("lcl"), 1L).otherwise(0L)).as("n_below"),
        max("n").as("n_days"), max("lam").as("lam"),
        max("ucl").as("ucl"), max("lcl").as("lcl"))
      .crossJoin(broadcast(worst))
      .select(col("n_days"),
        Det.rnd(col("lam"), 4).as("lambda"),
        Det.rnd(col("ucl"), 4).as("ucl"), Det.rnd(col("lcl"), 4).as("lcl"),
        col("n_above"), col("n_below"), col("worst_day"), col("worst_count"))
  }

  val cChartSql: String =
    s"""WITH byday AS (
       |  SELECT CAST(ts AS DATE) AS d, count(*) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |span AS (SELECT min(d) AS d0,
       |                date_diff('day', min(d), max(d)) AS nd
       |         FROM byday),
       |dense AS (
       |  SELECT day, coalesce(x, 0) AS x
       |  FROM (SELECT d0 + CAST(i AS INTEGER) AS day
       |        FROM span, (SELECT unnest(range(nd + 1)) AS i FROM span))
       |  LEFT JOIN byday ON day = d),
       |m AS (
       |  SELECT count(*) AS n, CAST(sum(x) AS DOUBLE) / count(*) AS lam
       |  FROM dense),
       |lim AS (
       |  SELECT n, lam, lam + sqrt(lam) * 3.0 AS ucl,
       |         greatest(0.0, lam - sqrt(lam) * 3.0) AS lcl
       |  FROM m),
       |worst AS (
       |  SELECT strftime(day, '%Y-%m-%d') AS worst_day,
       |         CAST(x AS BIGINT) AS worst_count
       |  FROM dense CROSS JOIN lim
       |  ORDER BY abs(x - lam) DESC, day LIMIT 1)
       |SELECT n AS n_days,
       |       ${Det.rndSql("lam", 4)} AS lambda,
       |       ${Det.rndSql("ucl", 4)} AS ucl, ${Det.rndSql("lcl", 4)} AS lcl,
       |       (SELECT CAST(sum(CASE WHEN x > ucl THEN 1 ELSE 0 END) AS BIGINT)
       |        FROM dense) AS n_above,
       |       (SELECT CAST(sum(CASE WHEN x < lcl THEN 1 ELSE 0 END) AS BIGINT)
       |        FROM dense) AS n_below,
       |       worst_day, worst_count
       |FROM lim CROSS JOIN worst""".stripMargin

  private final val YuenG1 = "1-URGENT"
  private final val YuenG2 = "5-LOW"

  /** YUEN'S TRIMMED-MEAN t-test between [[YuenG1]] and [[YuenG2]]
    * order values — the robust two-sample test for heavy-tailed money
    * metrics (the plain t chases tail orders; `q_mann_whitney` changes
    * the null to stochastic dominance; Yuen keeps "difference of
    * central location" while 20%-trimming both tails and using the
    * matching WINSORIZED variance — Yuen 1974, the robust-statistics
    * textbook default). Everything rank-based is picked exactly off
    * the per-group distinct-cents histogram (the [[q_winsorize]]
    * clamp algebra): per-value inclusion counts
    * max(0, min(cum, n−g) − max(cum−t, g)) make the trimmed sum an
    * exact decimal-widened integer; the winsorized moments add
    * g·(v₍g+1₎, v₍n−g₎) mass in exact cents; t and the Welch-
    * Satterthwaite df are fixed double expressions over the 2-row
    * group table. */
  def yuenTest(spark: SparkSession, dir: String): DataFrame =
    yuenTestOf(Tables(spark, dir, "orders"))

  private[graft] def yuenTestOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val hist = orders
      .filter(col("o_orderpriority").isin(YuenG1, YuenG2))
      .select(col("o_orderpriority").as("grp"),
        Det.cents(col("o_totalprice")).as("v"))
      .groupBy("grp", "v").agg(count(lit(1)).as("t"))
    val w = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val full = Window.partitionBy("grp")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val c = hist
      .withColumn("cum", sum("t").over(w))
      .withColumn("n", sum("t").over(full))
      .withColumn("g", expr("n div 5"))
      .withColumn("inc", greatest(lit(0L),
        least(col("cum"), col("n") - col("g"))
          - greatest(col("cum") - col("t"), col("g"))))
    val g = c.groupBy("grp")
      .agg(max("n").as("n"), max("g").as("g"),
        sum(col("v").cast(d38) * col("inc")).as("ts"),
        sum(col("v").cast(d38) * col("v") * col("inc")).as("tq"),
        min(when(col("cum") >= col("g") + 1, col("v"))).as("vlo"),
        min(when(col("cum") >= col("n") - col("g"), col("v"))).as("vhi"))
      .select(col("grp"), col("n"), col("g"), (col("n") - col("g") * 2).as("h"),
        (col("ts") + col("g").cast(d38) * (col("vlo") + col("vhi"))).as("ws"),
        (col("tq") + col("g").cast(d38)
          * (col("vlo") * col("vlo") + col("vhi") * col("vhi"))).as("wq"),
        col("ts"))
      .select(col("grp"), col("h"),
        (col("ts").cast("double") / col("h")).as("tm"),
        (((col("wq").cast("double") - col("ws").cast("double")
          * col("ws").cast("double") / col("n")) / (col("n") - 1))
          * (col("n") - 1) / (col("h").cast("double") * (col("h") - 1))).as("dd"))
    val a = g.filter(col("grp") === YuenG1)
      .select(col("h").as("h1"), col("tm").as("tm1"), col("dd").as("d1"))
    val b = g.filter(col("grp") === YuenG2)
      .select(col("h").as("h2"), col("tm").as("tm2"), col("dd").as("d2"))
    a.crossJoin(broadcast(b)).select(
      lit(YuenG1).as("group_a"), lit(YuenG2).as("group_b"),
      col("h1"), col("h2"),
      Det.rnd(col("tm1") / 100.0, 2).as("trimmed_mean_a"),
      Det.rnd(col("tm2") / 100.0, 2).as("trimmed_mean_b"),
      Det.rnd((col("tm1") - col("tm2")) / sqrt(col("d1") + col("d2")), 4)
        .as("t_stat"),
      Det.rnd(pow(col("d1") + col("d2"), 2)
        / (pow(col("d1"), 2) / (col("h1") - 1)
          + pow(col("d2"), 2) / (col("h2") - 1)), 2).as("df"))
  }

  val yuenTestSql: String =
    s"""WITH hist AS (
       |  SELECT o_orderpriority AS grp, ${Det.centsSql("o_totalprice")} AS v,
       |         count(*) AS t
       |  FROM orders WHERE o_orderpriority IN ('$YuenG1', '$YuenG2')
       |  GROUP BY 1, 2),
       |c AS (
       |  SELECT grp, v, t,
       |         sum(t) OVER (PARTITION BY grp ORDER BY v
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |         sum(t) OVER (PARTITION BY grp) AS n
       |  FROM hist),
       |i AS (
       |  SELECT grp, v, t, cum, n, n // 5 AS g,
       |         greatest(0, least(cum, n - n // 5)
       |                     - greatest(cum - t, n // 5)) AS inc
       |  FROM c),
       |gr AS (
       |  SELECT grp, max(n) AS n, max(g) AS g,
       |         sum(CAST(v AS HUGEINT) * inc) AS ts,
       |         sum(CAST(v AS HUGEINT) * v * inc) AS tq,
       |         min(CASE WHEN cum >= g + 1 THEN v END) AS vlo,
       |         min(CASE WHEN cum >= n - g THEN v END) AS vhi
       |  FROM i GROUP BY 1),
       |m AS (
       |  SELECT grp, n - g * 2 AS h,
       |         CAST(ts AS DOUBLE) / (n - g * 2) AS tm,
       |         ((CAST(tq + CAST(g AS HUGEINT) * (CAST(vlo AS HUGEINT) * vlo
       |             + CAST(vhi AS HUGEINT) * vhi) AS DOUBLE)
       |           - CAST(ts + CAST(g AS HUGEINT) * (vlo + vhi) AS DOUBLE)
       |             * CAST(ts + CAST(g AS HUGEINT) * (vlo + vhi) AS DOUBLE) / n)
       |          / (n - 1))
       |         * (n - 1) / (CAST(n - g * 2 AS DOUBLE) * (n - g * 2 - 1)) AS dd
       |  FROM gr)
       |SELECT '$YuenG1' AS group_a, '$YuenG2' AS group_b,
       |       CAST(a.h AS BIGINT) AS h1, CAST(b.h AS BIGINT) AS h2,
       |       ${Det.rndSql("a.tm / 100.0", 2)} AS trimmed_mean_a,
       |       ${Det.rndSql("b.tm / 100.0", 2)} AS trimmed_mean_b,
       |       ${Det.rndSql("(a.tm - b.tm) / sqrt(a.dd + b.dd)", 4)} AS t_stat,
       |       ${Det.rndSql(
          "pow(a.dd + b.dd, 2) / (pow(a.dd, 2) / (a.h - 1)" +
            " + pow(b.dd, 2) / (b.h - 1))", 2)} AS df
       |FROM (SELECT * FROM m WHERE grp = '$YuenG1') a
       |CROSS JOIN (SELECT * FROM m WHERE grp = '$YuenG2') b""".stripMargin

  /** MANTEL-HAENSZEL stratified odds ratio + CMH test of the
    * treatment→conversion association ADJUSTED for region — the
    * Simpson's-paradox-proof pooling (`q_simpson_check` detects the
    * reversal; MH is the estimator you run once it's detected):
    * OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ) over per-region 2×2 tables, CMH
    * χ² with continuity correction. Treatment is the modmul bucket of
    * `c_custkey`; the outcome is "heavy customer" (≥ 11 orders — the
    * design puts ~10 orders on every customer at every SF, so "≥ 1
    * order" would be degenerate). Every per-stratum
    * term (ad/n, bc/n, Eᵢ, Vᵢ) is fenced to 6dp integer units BEFORE
    * the cross-stratum sum — the k-row reduction is exact-integer,
    * immune to engine addition order. */
  def mantelHaenszel(spark: SparkSession, dir: String): DataFrame =
    mantelHaenszelOf(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"),
      Tables(spark, dir, "nation"), Tables(spark, dir, "region"))

  private[graft] def mantelHaenszelOf(customer: DataFrame, orders: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val conv = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("no"))
    val strata = customer
      .join(conv, col("c_custkey") === col("o_custkey"), "left")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("stratum"),
        (expr(TextQueries.splitBucketOf("c_custkey")) < 50).as("t"),
        // outcome: heavy customer (> the ~10-orders/customer design
        // mean at every SF) — "≥ 1 order" is degenerate, nearly
        // everyone converts
        when(coalesce(col("no"), lit(0L)) >= 11L, 1L).otherwise(0L).as("y"))
      .groupBy("stratum")
      .agg(sum(when(col("t") && col("y") === 1L, 1L).otherwise(0L)).as("a"),
        sum(when(col("t") && col("y") === 0L, 1L).otherwise(0L)).as("b"),
        sum(when(!col("t") && col("y") === 1L, 1L).otherwise(0L)).as("c"),
        sum(when(!col("t") && col("y") === 0L, 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .select(col("a"), col("n"),
        Det.units(col("a").cast("double") * col("d") / col("n"), 6).as("ad6"),
        Det.units(col("b").cast("double") * col("c") / col("n"), 6).as("bc6"),
        Det.units((col("a") + col("b")).cast("double") * (col("a") + col("c"))
          / col("n"), 6).as("e6"),
        Det.units((col("a") + col("b")).cast("double") * (col("c") + col("d"))
          * (col("a") + col("c")) * (col("b") + col("d"))
          / (col("n").cast("double") * col("n") * (col("n") - 1)), 6).as("v6"))
    strata.agg(count(lit(1)).as("n_strata"), sum("a").as("sa"),
        sum("ad6").as("sad"), sum("bc6").as("sbc"),
        sum("e6").as("se"), sum("v6").as("sv"))
      .select(col("n_strata"),
        Det.rnd(when(col("sbc") =!= 0L,
          col("sad").cast("double") / col("sbc")), 4).as("or_mh"),
        Det.rnd(expr(
          "CASE WHEN sv = 0 THEN NULL ELSE " +
            "pow(abs(CAST(sa AS DOUBLE) - CAST(se AS DOUBLE) / 1e6) - 0.5, 2)" +
            " / (CAST(sv AS DOUBLE) / 1e6) END"), 4).as("cmh_chi2"))
  }

  val mantelHaenszelSql: String =
    s"""WITH conv AS (SELECT o_custkey, count(*) AS no FROM orders GROUP BY 1),
       |rows_ AS (
       |  SELECT r_name AS stratum,
       |         ${TextQueries.splitBucketSqlOf("c_custkey")} < 50 AS t,
       |         CASE WHEN coalesce(no, 0) >= 11 THEN 1 ELSE 0 END AS y
       |  FROM customer
       |  LEFT JOIN conv ON o_custkey = c_custkey
       |  JOIN nation ON n_nationkey = c_nationkey
       |  JOIN region ON r_regionkey = n_regionkey),
       |cells AS (
       |  SELECT stratum,
       |         CAST(sum(CASE WHEN t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |         CAST(sum(CASE WHEN t AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |         CAST(sum(CASE WHEN NOT t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |         CAST(sum(CASE WHEN NOT t AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM rows_ GROUP BY 1),
       |terms AS (
       |  SELECT a, a + b + c + d AS n,
       |         ${Det.unitsSql(
          "CAST(a AS DOUBLE) * d / (a + b + c + d)", 6)} AS ad6,
       |         ${Det.unitsSql(
          "CAST(b AS DOUBLE) * c / (a + b + c + d)", 6)} AS bc6,
       |         ${Det.unitsSql(
          "CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d)", 6)} AS e6,
       |         ${Det.unitsSql(
          "CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)" +
            " / (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d)" +
            " * (a + b + c + d - 1))", 6)} AS v6
       |  FROM cells),
       |agg AS (
       |  SELECT count(*) AS n_strata, CAST(sum(a) AS BIGINT) AS sa,
       |         CAST(sum(ad6) AS BIGINT) AS sad, CAST(sum(bc6) AS BIGINT) AS sbc,
       |         CAST(sum(e6) AS BIGINT) AS se, CAST(sum(v6) AS BIGINT) AS sv
       |  FROM terms)
       |SELECT n_strata,
       |       ${Det.rndSql(
          "CASE WHEN sbc = 0 THEN NULL ELSE CAST(sad AS DOUBLE) / sbc END",
          4)} AS or_mh,
       |       ${Det.rndSql(
          "CASE WHEN sv = 0 THEN NULL ELSE " +
            "pow(abs(CAST(sa AS DOUBLE) - CAST(se AS DOUBLE) / 1e6) - 0.5, 2)" +
            " / (CAST(sv AS DOUBLE) / 1e6) END", 4)} AS cmh_chi2
       |FROM agg""".stripMargin

  // ------------------------------------------- round-11 additions

  private val HoltFence = "1000000.0" // 6-dp per-step fence

  /** HOLT'S LINEAR-TREND exponential smoothing (α=β=½) of the daily
    * purchase-revenue series — the trend-aware sibling of
    * [[ewmaForecast]]'s level-only EWMA: l_t = ½x_t + ½(l_{t−1}+b_{t−1}),
    * b_t = ½(l_t−l_{t−1}) + ½b_{t−1}, initialized l₁=x₁, b₁=x₂−x₁
    * (Hyndman). The recursion has no dyadic closed form (the joint
    * transition matrix has irrational eigenvalues), so it runs as ONE
    * sequential fold over the calendar-dense day array — sort_array
    * makes the order explicit, and every step fences l and b to 6 dp
    * (floor-half-up), so both engines walk the identical 6-dp
    * trajectory (the [[graft.queries.SimilarityQueries]] k-means
    * fenced-iterate rule applied to a fold).
    *
    * Scale shape: the daily collapse is the only corpus pass; the fold
    * runs over the ≤ span-days array inside one projection — a
    * calendar-bounded computation no matter the corpus size. Output:
    * final level/trend and the h-step forecasts level + h·trend. */
  def holtLinear(spark: SparkSession, dir: String): DataFrame =
    holtLinearOf(Tables(spark, dir, "events"))

  private[graft] def holtLinearOf(events: DataFrame): DataFrame =
    holtFinish(cusumDailyFrom(events))

  /** The calendar-dense fold finish over the SHARED daily
    * purchase-cents state ([[cusumDailyFrom]] — the same mergeable
    * aggregation that already feeds the CUSUM, Shewhart SPC and
    * trailing-window finishes): Holt makes it a FIFTH monitor on one
    * streaming aggregation (`StreamJobs.holtStream`, batch-parity
    * tested). */
  private[graft] def holtFinish(byDay: DataFrame): DataFrame = {
    val span = byDay.agg(min(col("day")).as("d0"),
      datediff(max(col("day")), min(col("day"))).as("nd"))
    val dense = span
      .select(explode(sequence(lit(0), col("nd"))).as("i"), col("d0"))
      .join(byDay, expr("date_add(d0, i) = day"), "left")
      .select(col("i"), coalesce(col("x"), lit(0L)).as("x"))
    val f = HoltFence
    // D-suffixed literals: Spark SQL parses bare decimal literals as
    // DECIMAL, which silently turns the fold arithmetic (and floor)
    // into DECIMAL(30,9) — the fence must run in IEEE doubles
    val step =
      s"(acc, x) -> named_struct(" +
        s"'l', CAST(floor((x / 100.0D + acc.l + acc.b) / 2.0D * ${f}D + 0.5D) AS DOUBLE) / ${f}D, " +
        s"'b', CAST(floor((CAST(floor((x / 100.0D + acc.l + acc.b) / 2.0D * ${f}D + 0.5D) AS DOUBLE) / ${f}D" +
        s" - acc.l + acc.b) / 2.0D * ${f}D + 0.5D) AS DOUBLE) / ${f}D)"
    dense.agg(sort_array(collect_list(struct(col("i"), col("x")))).as("sx"))
      .select(size(col("sx")).cast("long").as("n_days"),
        expr("transform(sx, e -> CAST(e.x AS DOUBLE))").as("xs"))
      // Holt needs two observations to initialize b₁ = x₂ − x₁: on a
      // degenerate 1-day span Spark's xs[1] is NULL (one row of NULL
      // trend/forecasts) while the recursive SQL twin's i = 1 seed
      // subquery is EMPTY (zero rows) — the cross-engine hash forks
      // (ADVICE r11). Convention: both twins emit zero rows below 2.
      .filter(col("n_days") >= 2)
      .select(col("n_days"), expr(
        s"aggregate(slice(xs, 2, CAST(n_days AS INT) - 1), " +
          s"named_struct('l', xs[0] / 100.0D, 'b', (xs[1] - xs[0]) / 100.0D), " +
          s"$step, acc -> acc)").as("hb"))
      .select(col("n_days"),
        col("hb.l").as("level"), col("hb.b").as("trend"),
        Det.rnd(col("hb.l") + col("hb.b"), 4).as("forecast_1"),
        Det.rnd(col("hb.l") + col("hb.b") * 3, 4).as("forecast_3"),
        Det.rnd(col("hb.l") + col("hb.b") * 7, 4).as("forecast_7"))
  }

  val holtLinearSql: String = {
    val f = HoltFence
    val c = Det.centsSql("value")
    s"""WITH RECURSIVE byday AS (
       |  SELECT CAST(ts AS DATE) AS d, CAST(sum($c) AS BIGINT) AS c
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |sp AS (SELECT min(d) AS d0, date_diff('day', min(d), max(d)) AS nd
       |       FROM byday),
       |dense AS (
       |  SELECT CAST(grid.i AS BIGINT) AS i,
       |         CAST(coalesce(byday.c, 0) AS DOUBLE) / 100.0 AS x
       |  FROM (SELECT unnest(range(nd + 1)) AS i, d0 FROM sp) grid
       |  LEFT JOIN byday ON byday.d = grid.d0 + CAST(grid.i AS INTEGER)),
       |n AS (SELECT count(*) AS nd FROM dense),
       |r AS (
       |  SELECT CAST(1 AS BIGINT) AS t, a.x AS l, b.x - a.x AS b
       |  FROM (SELECT x FROM dense WHERE i = 0) a,
       |       (SELECT x FROM dense WHERE i = 1) b
       |  UNION ALL
       |  SELECT r.t + 1,
       |         floor((d.x + r.l + r.b) / 2 * $f + 0.5) / $f,
       |         floor((floor((d.x + r.l + r.b) / 2 * $f + 0.5) / $f
       |                - r.l + r.b) / 2 * $f + 0.5) / $f
       |  FROM r JOIN dense d ON d.i = r.t
       |  WHERE r.t < (SELECT nd FROM n))
       |SELECT (SELECT CAST(nd AS BIGINT) FROM n) AS n_days, l AS level, b AS trend,
       |       ${Det.rndSql("l + b", 4)} AS forecast_1,
       |       ${Det.rndSql("l + b * 3", 4)} AS forecast_3,
       |       ${Det.rndSql("l + b * 7", 4)} AS forecast_7
       |FROM r WHERE t = (SELECT nd FROM n) AND (SELECT nd FROM n) >= 2""".stripMargin
  }

  /** O'BRIEN-FLEMING group-sequential monitoring of the [[abTest]]
    * experiment — the peeking-safe way to read an experiment four
    * times: at each interim look k (25/50/75/100% of the event-time
    * span) the cumulative z statistic is compared against the OBF
    * boundary c·√(K/k) (c = 2.024407 pinned for K=4, two-sided
    * α≈0.05) — very strict early, nominal at the final look, total
    * α preserved. Early looks can only stop for overwhelming effects;
    * the final boundary ≈ the fixed-horizon test.
    *
    * Scale shape: ONE conditional-aggregation pass — each event joins
    * the 4-row broadcast look table (tus ≤ cut), moments accumulate
    * per (look, arm) exactly as [[abTest]]'s exact integer power
    * sums; z and the boundary are fixed double expressions fenced at
    * 6 dp. */
  def obrienFleming(spark: SparkSession, dir: String): DataFrame =
    obrienFlemingOf(Tables(spark, dir, "events"))

  private[graft] def obrienFlemingOf(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(unix_micros(col("ts")).as("tus"),
        (col("user_id") % 2).as("g"), Det.cents(col("value")).as("c"))
    val span = p.agg(min("tus").as("t0"), max("tus").as("t1"))
    val looks = span.select(explode(sequence(lit(1), lit(4))).as("look"),
      col("t0"), col("t1"))
      // integer `div`, not `/` (Spark long / long is DOUBLE)
      .select(col("look"), expr("t0 + (look * (t1 - t0)) div 4").as("cut"))
    val m = p.crossJoin(broadcast(looks))
      .filter(col("tus") <= col("cut"))
      .groupBy("look")
      .agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("g") === 0, col("c")).otherwise(0L)).as("s_a"),
        sum(when(col("g") === 0, col("c") * col("c")).otherwise(0L)).as("ssq_a"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("g") === 1, col("c")).otherwise(0L)).as("s_b"),
        sum(when(col("g") === 1, col("c") * col("c")).otherwise(0L)).as("ssq_b"))
    def mean(sc: String, n: String) = col(sc).cast("double") / col(n)
    def vr(n: String, sc: String, ssq: String) =
      (col(n) * col(ssq) - col(sc) * col(sc)).cast("double") / (col(n) * col(n))
    m.select(col("look").cast("int").as("look"), col("n_a"), col("n_b"),
        Det.rnd((mean("s_a", "n_a") - mean("s_b", "n_b")) /
          sqrt(vr("n_a", "s_a", "ssq_a") / col("n_a")
            + vr("n_b", "s_b", "ssq_b") / col("n_b")), 6).as("z"),
        Det.rnd(lit(2.024407) * sqrt(lit(4.0) / col("look")), 6).as("boundary"))
      .withColumn("crossed", abs(col("z")) > col("boundary"))
      .orderBy("look")
  }

  val obrienFlemingSql: String = {
    val c = Det.centsSql("value")
    s"""WITH p AS (
       |  SELECT epoch_us(ts) AS tus, user_id % 2 AS g, $c AS cv
       |  FROM events WHERE event_type = 'purchase'),
       |sp AS (SELECT min(tus) AS t0, max(tus) AS t1 FROM p),
       |looks AS (SELECT CAST(k AS INTEGER) AS look,
       |                 t0 + (k * (t1 - t0)) // 4 AS cut
       |          FROM (SELECT unnest(range(1, 5)) AS k), sp),
       |m AS (
       |  SELECT look,
       |         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(sum(CASE WHEN g = 0 THEN cv ELSE 0 END) AS BIGINT) AS s_a,
       |         CAST(sum(CASE WHEN g = 0 THEN cv * cv ELSE 0 END) AS BIGINT) AS ssq_a,
       |         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |         CAST(sum(CASE WHEN g = 1 THEN cv ELSE 0 END) AS BIGINT) AS s_b,
       |         CAST(sum(CASE WHEN g = 1 THEN cv * cv ELSE 0 END) AS BIGINT) AS ssq_b
       |  FROM p JOIN looks ON p.tus <= looks.cut
       |  GROUP BY 1)
       |SELECT look, n_a, n_b,
       |       ${Det.rndSql(
        "(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)" +
          " / sqrt(CAST(n_a * ssq_a - s_a * s_a AS DOUBLE) / (n_a * n_a) / n_a" +
          "      + CAST(n_b * ssq_b - s_b * s_b AS DOUBLE) / (n_b * n_b) / n_b)",
        6)} AS z,
       |       ${Det.rndSql("2.024407 * sqrt(4.0 / look)", 6)} AS boundary,
       |       abs(${Det.rndSql(
        "(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)" +
          " / sqrt(CAST(n_a * ssq_a - s_a * s_a AS DOUBLE) / (n_a * n_a) / n_a" +
          "      + CAST(n_b * ssq_b - s_b * s_b AS DOUBLE) / (n_b * n_b) / n_b)",
        6)}) > ${Det.rndSql("2.024407 * sqrt(4.0 / look)", 6)} AS crossed
       |FROM m
       |ORDER BY look""".stripMargin
  }

  private val GapSweepSec = Seq(600, 1800, 3600)

  /** SESSIONIZATION GAP SENSITIVITY — how many sessions (and events
    * per session) the corpus yields at inactivity gaps of 10/30/60
    * minutes, from ONE per-user lag pass: every user's first event
    * opens a session and each inter-event gap > t opens another, so
    * n_sessions(t) = n_users + Σ 1[gap > t] — all three thresholds
    * are conditional counts over the same gap relation. The
    * parameter-sensitivity pre-flight for the q_sessionize 30-minute
    * rule (a knee in this curve is what justifies the chosen gap).
    * Exact integers; one user-keyed window exchange. */
  def sessionGapSweep(spark: SparkSession, dir: String): DataFrame =
    sessionGapSweepOf(Tables(spark, dir, "events"))

  private[graft] def sessionGapSweepOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // gaps in exact MICROSECONDS: unix_timestamp floors to seconds but
    // DuckDB's epoch keeps the fraction — a gap exactly on the
    // threshold boundary would flip between engines (caught at sf0.01)
    val gaps = events
      .withColumn("gap",
        unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)))
    val aggCols = Seq(countDistinct("user_id").as("n_users")) ++
      GapSweepSec.map(t =>
        sum(when(col("gap") > t * 1000000L, 1L).otherwise(0L)).as(s"brk_$t"))
    val agg = gaps.agg(count(lit(1)).as("n_events"), aggCols: _*)
    agg.select(explode(expr(
        s"array(${GapSweepSec.map(t => s"struct($t AS gap_sec, n_users + brk_$t AS n_sessions)").mkString(", ")})"))
        .as("r"), col("n_events"), col("n_users"))
      .select(col("r.gap_sec").as("gap_sec"), col("n_users"),
        col("r.n_sessions").as("n_sessions"), col("n_events"),
        Det.rnd(col("n_events").cast("double") / col("r.n_sessions"), 4)
          .as("events_per_session"))
      .orderBy("gap_sec")
  }

  val sessionGapSweepSql: String = {
    val sweep = GapSweepSec.map(t =>
      s"SELECT $t AS gap_sec, CAST(sum(CASE WHEN gap > ${t}000000 THEN 1 ELSE 0 END) AS BIGINT) AS brk FROM g")
      .mkString(" UNION ALL ")
    s"""WITH g AS (
       |  SELECT user_id, epoch_us(ts) - lag(epoch_us(ts)) OVER
       |           (PARTITION BY user_id ORDER BY ts, event_id) AS gap
       |  FROM events),
       |tot AS (SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users
       |        FROM events),
       |sw AS ($sweep)
       |SELECT CAST(gap_sec AS INTEGER) AS gap_sec, n_users,
       |       CAST(n_users + brk AS BIGINT) AS n_sessions, n_events,
       |       ${Det.rndSql("CAST(n_events AS DOUBLE) / (n_users + brk)", 4)}
       |         AS events_per_session
       |FROM sw CROSS JOIN tot
       |ORDER BY gap_sec""".stripMargin
  }

  private val TailRate = 8 // common-type sampling rate 1/8
  private val TailRarePct = 5 // "rare" = type below 5% of traffic

  /** TAIL SAMPLING with exact reweighting — the telemetry-pipeline
    * lever that keeps EVERY rare event (errors, anomalies) while
    * sampling the commodity traffic at 1/[[TailRate]]: rare event
    * types (< [[TailRarePct]]% of rows) pass whole; common types keep
    * rows whose event-id modmul bucket ≡ 0 (mod [[TailRate]]), each
    * carrying weight [[TailRate]] — deterministic (no rand), an
    * INDEPENDENT multiplier (xxHash prime-3) so sample membership
    * never correlates with the split/sample/fold rings. The output is
    * the audit: per type, the Horvitz–Thompson estimates vs the exact
    * totals, with exact-integer ppm errors — the number that sizes
    * how much telemetry budget the sampler buys at what accuracy.
    *
    * Scale shape: one tiny per-type aggregate broadcast back, one
    * codegen'd keep predicate, one final aggregate. At 100 TB only
    * the kept rows flow downstream — the whole point. */
  def tailSampling(spark: SparkSession, dir: String): DataFrame =
    tailSamplingOf(Tables(spark, dir, "events"))

  private[graft] def tailSamplingOf(events: DataFrame): DataFrame = {
    // overflow-safe two-step modmul, multiplier 0xC2B2AE3D (xxHash
    // prime-3 = 49842·65536 + 44605), independent of the split/
    // sample/fold multipliers
    val bucket = "pmod(pmod(pmod(event_id, 4294967296) * 49842, 65536) * 65536" +
      " + pmod(event_id, 4294967296) * 44605, 4294967296)"
    val typed = events.select(col("event_type"),
      Det.cents(col("value")).as("c"),
      expr(s"$bucket % $TailRate").as("b"))
    val freq = typed.groupBy("event_type").agg(count(lit(1)).as("n_type"))
    val tot = typed.agg(count(lit(1)).as("n_all"))
    val marked = typed
      .join(broadcast(freq), "event_type")
      .crossJoin(broadcast(tot))
      .withColumn("rare", col("n_type") * 100 < col("n_all") * TailRarePct)
      .withColumn("kept", col("rare") || col("b") === 0)
      .withColumn("wt", when(col("rare"), 1L).otherwise(lit(TailRate.toLong)))
    marked.groupBy("event_type")
      .agg(max(col("rare")).as("is_rare"),
        count(lit(1)).as("n_exact"),
        sum("c").as("cents_exact"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("wt")).otherwise(0L)).as("n_est"),
        sum(when(col("kept"), col("wt") * col("c")).otherwise(0L)).as("cents_est"))
      .select(col("event_type"), col("is_rare"), col("n_exact"), col("n_kept"),
        col("n_est"),
        expr("abs(n_est - n_exact) * CAST(1000000 AS BIGINT) div n_exact")
          .as("n_err_ppm"),
        expr("CASE WHEN cents_exact = 0 THEN NULL ELSE " +
          "abs(cents_est - cents_exact) * CAST(1000000 AS BIGINT) div abs(cents_exact) END")
          .as("value_err_ppm"))
      .orderBy("event_type")
  }

  val tailSamplingSql: String = {
    val c = Det.centsSql("value")
    val bucket = "((((event_id % 4294967296) * 49842) % 65536) * 65536" +
      " + (event_id % 4294967296) * 44605) % 4294967296"
    s"""WITH t AS (
       |  SELECT event_type, $c AS cv, ($bucket) % $TailRate AS b
       |  FROM events),
       |freq AS (SELECT event_type, count(*) AS n_type FROM t GROUP BY 1),
       |tot AS (SELECT count(*) AS n_all FROM t),
       |m AS (SELECT t.event_type, t.cv,
       |             freq.n_type * 100 < tot.n_all * $TailRarePct AS rare,
       |             (freq.n_type * 100 < tot.n_all * $TailRarePct) OR t.b = 0
       |               AS kept
       |      FROM t JOIN freq USING (event_type) CROSS JOIN tot)
       |SELECT event_type, max(rare) AS is_rare,
       |       count(*) AS n_exact,
       |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN kept THEN (CASE WHEN rare THEN 1 ELSE $TailRate END)
       |                     ELSE 0 END) AS BIGINT) AS n_est,
       |       abs(CAST(sum(CASE WHEN kept THEN
       |                       (CASE WHEN rare THEN 1 ELSE $TailRate END)
       |                     ELSE 0 END) AS BIGINT) - count(*))
       |         * CAST(1000000 AS BIGINT) // count(*) AS n_err_ppm,
       |       CASE WHEN sum(cv) = 0 THEN NULL ELSE
       |         abs(CAST(sum(CASE WHEN kept THEN
       |                        (CASE WHEN rare THEN 1 ELSE $TailRate END) * cv
       |                      ELSE 0 END) AS BIGINT) - CAST(sum(cv) AS BIGINT))
       |           * CAST(1000000 AS BIGINT) // abs(CAST(sum(cv) AS BIGINT)) END
       |         AS value_err_ppm
       |FROM m
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin
  }

  /** CROSTON'S METHOD for intermittent demand (nation-0 daily order
    * counts — the [[zeroInflation]] slice, which has real zero days
    * at every SF): separate ½-EWMAs of the non-zero demand SIZES and
    * the inter-demand INTERVALS, forecast = ẑ/q̂ demand per day — the
    * standard sparse-series forecaster where a plain EWMA chases
    * zeros. Both EWMAs use the dyadic α=½ closed form
    * l_m = z₁·2^{1−m} + Σ_{j≥2} z_j·2^{j−m−1} — every term is a
    * power-of-two multiple of an integer, so the sums are EXACT in
    * IEEE doubles (order-independent, no fence needed until the final
    * ratio). First interval pins the q₁ = i₁+1 convention (days since
    * the virtual day −1).
    *
    * Scale shape: broadcast dim join + one daily aggregate; the
    * non-zero subsequence lives on the calendar-bounded dense grid. */
  def croston(spark: SparkSession, dir: String): DataFrame =
    crostonOf(Tables(spark, dir, "orders"), Tables(spark, dir, "customer"))

  private[graft] def crostonOf(orders: DataFrame, customer: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDay = orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === 0)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("x"))
    val span = orders.agg(to_date(min(col("o_orderdate"))).as("d0"),
      datediff(to_date(max(col("o_orderdate"))),
        to_date(min(col("o_orderdate")))).as("nd"))
    val dense = span
      .select(explode(sequence(lit(0), col("nd"))).as("i"), col("d0"))
      .join(byDay, expr("date_add(d0, i) = d"), "left")
      .select(col("i").cast("long").as("i"), coalesce(col("x"), lit(0L)).as("x"))
    val nz = dense.filter(col("x") > 0)
      .withColumn("rn", row_number().over(Window.orderBy("i")).cast("long"))
      .withColumn("gap",
        when(col("rn") === 1, col("i") + 1)
          .otherwise(col("i") - lag("i", 1).over(Window.orderBy("i"))))
    val m = nz.agg(max("rn").as("m"))
    val ew = nz.crossJoin(broadcast(m))
      .select(
        (col("x").cast("double") *
          pow(lit(2.0), when(col("rn") === 1, lit(1L) - col("m"))
            .otherwise(col("rn") - col("m") - 1).cast("double"))).as("zt"),
        (col("gap").cast("double") *
          pow(lit(2.0), when(col("rn") === 1, lit(1L) - col("m"))
            .otherwise(col("rn") - col("m") - 1).cast("double"))).as("qt"))
      .agg(sum("zt").as("z_hat"), sum("qt").as("q_hat"))
    dense.agg(count(lit(1)).as("n_days"),
        sum(when(col("x") > 0, 1L).otherwise(0L)).as("n_demands"))
      .crossJoin(broadcast(ew))
      .select(col("n_days"), col("n_demands"),
        Det.rnd(col("z_hat"), 6).as("z_hat"),
        Det.rnd(col("q_hat"), 6).as("q_hat"),
        Det.rnd(col("z_hat") / col("q_hat"), 6).as("croston_forecast"))
  }

  val crostonSql: String =
    s"""WITH byday AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS x
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WHERE c_nationkey = 0
       |  GROUP BY 1),
       |sp AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
       |              date_diff('day', CAST(min(o_orderdate) AS DATE),
       |                        CAST(max(o_orderdate) AS DATE)) AS nd
       |       FROM orders),
       |dense AS (
       |  SELECT CAST(grid.i AS BIGINT) AS i, coalesce(byday.x, 0) AS x
       |  FROM (SELECT unnest(range(nd + 1)) AS i, d0 FROM sp) grid
       |  LEFT JOIN byday ON byday.d = grid.d0 + CAST(grid.i AS INTEGER)),
       |nz AS (SELECT i, x, CAST(row_number() OVER (ORDER BY i) AS BIGINT) AS rn,
       |              CASE WHEN row_number() OVER (ORDER BY i) = 1 THEN i + 1
       |                   ELSE i - lag(i) OVER (ORDER BY i) END AS gap
       |       FROM dense WHERE x > 0),
       |m AS (SELECT max(rn) AS m FROM nz),
       |ew AS (SELECT sum(CAST(x AS DOUBLE)
       |                  * pow(2.0, CASE WHEN rn = 1 THEN 1 - m
       |                                  ELSE rn - m - 1 END)) AS z_hat,
       |              sum(CAST(gap AS DOUBLE)
       |                  * pow(2.0, CASE WHEN rn = 1 THEN 1 - m
       |                                  ELSE rn - m - 1 END)) AS q_hat
       |       FROM nz, m)
       |SELECT (SELECT count(*) FROM dense) AS n_days,
       |       (SELECT CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |        FROM dense) AS n_demands,
       |       ${Det.rndSql("z_hat", 6)} AS z_hat,
       |       ${Det.rndSql("q_hat", 6)} AS q_hat,
       |       ${Det.rndSql("z_hat / q_hat", 6)} AS croston_forecast
       |FROM ew""".stripMargin

  // ------------------------------------------- round-12 additions

  /** INSTRUMENTAL-VARIABLE 2SLS with one binary instrument (the Wald
    * estimator): the causal effect of per-user ACTIVITY (event count)
    * on SPEND when activity is self-selected — plain OLS is
    * confounded (engaged users both click more and buy more); the
    * randomized assignment hash is the instrument (it moves activity
    * only through the encouragement arm, never spend directly).
    * β_IV = cov(z,y)/cov(z,x) vs β_OLS = cov(x,y)/var(x), plus the
    * first-stage F = (n−2)·r²/(1−r²) — the weak-instrument gate
    * (F < 10 means don't trust β_IV; reported, not hidden). The
    * experimentation-family companion of [[cuped]] (variance
    * reduction) and [[propensityAtt]] (observational adjustment).
    *
    * Determinism: one user-keyed pass to exact integer (z, x, y-cents)
    * rows, then every moment (Σz, Σx, Σy, Σzx, Σzy, Σxy, Σxx) is an
    * exact BIGINT/decimal sum — β and F are fixed double expressions
    * over the one moments row. */
  def iv2sls(spark: SparkSession, dir: String): DataFrame =
    iv2slsOf(Tables(spark, dir, "events"))

  private[graft] def iv2slsOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val users = events.groupBy("user_id")
      .agg(count(lit(1)).as("x"),
        coalesce(sum(when(col("event_type") === "purchase",
          Det.cents(col("value")))), lit(0L)).as("y"))
      .select(
        when(expr(graft.queries.TextQueries.splitBucketOf("user_id")) < 50, 1L)
          .otherwise(0L).as("z"),
        col("x"), col("y"))
    val m = users.agg(
      count(lit(1)).as("n"),
      sum("z").as("sz"),
      sum("x").as("sx"),
      sum("y").as("sy"),
      sum(col("z") * col("x")).as("szx"),
      sum(col("z").cast(d38) * col("y")).as("szy"),
      sum(col("x").cast(d38) * col("y")).as("sxy"),
      sum(col("x").cast(d38) * col("x")).as("sxx"))
    m.select(col("n"),
        Det.rnd(expr(
          "(CAST(n AS DOUBLE) * szy - CAST(sz AS DOUBLE) * sy)" +
            " / (CAST(n AS DOUBLE) * szx - CAST(sz AS DOUBLE) * sx) / 100.0"), 4)
          .as("beta_iv"),
        Det.rnd(expr(
          "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)" +
            " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / 100.0"), 4)
          .as("beta_ols"),
        Det.rnd(expr(
          "(n - 2) * (pow(CAST(n AS DOUBLE) * szx - CAST(sz AS DOUBLE) * sx, 2)" +
            " / ((CAST(n AS DOUBLE) * sz - CAST(sz AS DOUBLE) * sz)" +
            "  * (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)))" +
            " / (1.0 - pow(CAST(n AS DOUBLE) * szx - CAST(sz AS DOUBLE) * sx, 2)" +
            " / ((CAST(n AS DOUBLE) * sz - CAST(sz AS DOUBLE) * sz)" +
            "  * (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)))"), 4)
          .as("first_stage_f"))
  }

  val iv2slsSql: String = {
    val c = Det.centsSql("value")
    val zExpr = s"CASE WHEN ${graft.queries.TextQueries.splitBucketSqlOf("user_id")} < 50 THEN 1 ELSE 0 END"
    val r2 = "pow(CAST(n AS DOUBLE) * szx - CAST(sz AS DOUBLE) * sx, 2)" +
      " / ((CAST(n AS DOUBLE) * sz - CAST(sz AS DOUBLE) * sz)" +
      "  * (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
    s"""WITH u AS (
       |  SELECT $zExpr AS z, count(*) AS x,
       |         CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
       |                                THEN $c END), 0) AS BIGINT) AS y
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT count(*) AS n, CAST(sum(z) AS BIGINT) AS sz,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(z * x) AS BIGINT) AS szx,
       |         sum(CAST(z AS HUGEINT) * y) AS szy,
       |         sum(CAST(x AS HUGEINT) * y) AS sxy,
       |         sum(CAST(x AS HUGEINT) * x) AS sxx
       |  FROM u)
       |SELECT n,
       |       ${Det.rndSql(
        "(CAST(n AS DOUBLE) * szy - CAST(sz AS DOUBLE) * sy)" +
          " / (CAST(n AS DOUBLE) * szx - CAST(sz AS DOUBLE) * sx) / 100.0", 4)} AS beta_iv,
       |       ${Det.rndSql(
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)" +
          " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / 100.0", 4)} AS beta_ols,
       |       ${Det.rndSql(s"(n - 2) * ($r2) / (1.0 - ($r2))", 4)} AS first_stage_f
       |FROM m""".stripMargin
  }

  private val HuberK = 1.345 // 95%-efficiency tuning constant
  private val HuberRounds = 3

  /** HUBER M-ESTIMATE of the typical purchase value — the robust
    * location between the mean (0% breakdown) and the median (50%
    * breakdown but throws away efficiency): [[HuberRounds]] unrolled
    * IRLS rounds with weights w = min(1, k·s/|x − m|), scale s = the
    * MAD (both from the distinct-cents histogram, rank-picked exact),
    * started at the median. Heavy orders down-weight smoothly instead
    * of being dropped at a hard winsor cut ([[winsorize]]) or gate
    * ([[anomalyMad]]).
    *
    * Determinism (the fenced-iterate rule): each round's weights are
    * computed per DISTINCT cents value (value-bounded relation, never
    * the corpus), fenced to exact 1e-6 integer units; Σw·x and Σw
    * are then pure integer sums (decimal-widened), and the next m is
    * ONE division fenced to whole cents — both engines walk the
    * identical integer trajectory. Rounds mirrored as chained CTEs. */
  def huberLocation(spark: SparkSession, dir: String): DataFrame =
    huberLocationOf(Tables(spark, dir, "events"))

  private[graft] def huberLocationOf(events: DataFrame): DataFrame =
    huberFinish(huberHistFrom(events))

  /** The purchase-cents value histogram — the mergeable state the
    * streaming twin (`StreamJobs.huberStream`) maintains: counts per
    * distinct cents value are additive across any batch split, and
    * the whole IRLS finish is value-bounded arithmetic over it. */
  private[graft] def huberHistFrom(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(Det.cents(col("value")).as("c"))
      .groupBy("c").agg(count(lit(1)).as("f"))

  private[graft] def huberFinish(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    // exact lower median + MAD from the value histogram (the
    // anomalyMad rank-pick technique)
    val wv = Window.orderBy("c")
    val tot = hist.agg(sum("f").as("n"))
    val med = hist
      .withColumn("cum", sum("f").over(wv.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .orderBy("c").limit(1).select(col("c").as("m0"))
    val dev = hist.crossJoin(broadcast(med))
      .select(abs(col("c") - col("m0")).as("d"), col("f"))
      .groupBy("d").agg(sum("f").as("f"))
    val wd = Window.orderBy("d")
    val mad = dev
      .withColumn("cum", sum("f").over(wd.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .orderBy("d").limit(1).select(col("d").as("mad"))
    var state = med.crossJoin(broadcast(mad))
      .select(col("m0").cast("double").as("m"), col("mad")).localCheckpoint() // 1 row
    for (_ <- 1 to HuberRounds) {
      val next = hist.crossJoin(broadcast(state))
        // mad clamped to 1 cent: a degenerate half-identical corpus
        // (MAD = 0) must not zero every weight (0/0 location)
        .withColumn("w6", Det.units(
          least(lit(1.0),
            lit(HuberK) * greatest(col("mad"), lit(1L))
              / greatest(abs(col("c") - col("m")), lit(1e-9))), 6))
        .agg(
          (sum(col("w6").cast(d38) * col("c") * col("f")).cast("double")
            / sum(col("w6").cast(d38) * col("f")).cast("double")).as("mRaw"),
          max("mad").as("mad"))
        .select((expr("CAST(floor(mRaw * 100.0D + 0.5D) AS DOUBLE)") / 100.0)
          .as("m"), col("mad")) // fence to whole cents of the cents value? no: 2dp of cents
      state = next.localCheckpoint() // 1 row
    }
    state.crossJoin(broadcast(tot))
      .select(col("n").as("n_purchases"),
        Det.rnd(col("mad").cast("double") / 100.0, 2).as("mad_dollars"),
        Det.rnd(col("m") / 100.0, 4).as("huber_dollars"))
  }

  val huberLocationSql: String = {
    val c = Det.centsSql("value")
    val rounds = (1 to HuberRounds).map { r =>
      s"""s$r AS (
         |  SELECT CAST(floor(
         |           CAST(sum(CAST(${Det.unitsSql(
              s"least(1.0, $HuberK * greatest(s${r - 1}.mad, 1) / greatest(abs(h.c - s${r - 1}.m), 1e-9))", 6)}
         |             AS HUGEINT) * h.c * h.f) AS DOUBLE)
         |           / CAST(sum(CAST(${Det.unitsSql(
              s"least(1.0, $HuberK * greatest(s${r - 1}.mad, 1) / greatest(abs(h.c - s${r - 1}.m), 1e-9))", 6)}
         |             AS HUGEINT) * h.f) AS DOUBLE) * 100.0 + 0.5) AS DOUBLE) / 100.0 AS m,
         |         max(s${r - 1}.mad) AS mad
         |  FROM h, s${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH h AS (
       |  SELECT $c AS c, count(*) AS f
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |tot AS (SELECT CAST(sum(f) AS BIGINT) AS n FROM h),
       |med AS (
       |  SELECT c AS m0 FROM (
       |    SELECT c, sum(f) OVER (ORDER BY c) AS cum FROM h), tot
       |  WHERE cum >= (n + 1) // 2 ORDER BY c LIMIT 1),
       |dev AS (
       |  SELECT abs(c - m0) AS d, CAST(sum(f) AS BIGINT) AS f
       |  FROM h, med GROUP BY 1),
       |mad AS (
       |  SELECT d AS mad FROM (
       |    SELECT d, sum(f) OVER (ORDER BY d) AS cum FROM dev), tot
       |  WHERE cum >= (n + 1) // 2 ORDER BY d LIMIT 1),
       |s0 AS (SELECT CAST(m0 AS DOUBLE) AS m, mad FROM med, mad),
       |$rounds
       |SELECT (SELECT n FROM tot) AS n_purchases,
       |       (SELECT ${Det.rndSql("CAST(mad AS DOUBLE) / 100.0", 2)} FROM mad)
       |         AS mad_dollars,
       |       ${Det.rndSql("m / 100.0", 4)} AS huber_dollars
       |FROM s$HuberRounds""".stripMargin
  }

  /** FILE-ZONE OVERLAP DEPTH — the layout-health metric behind an
    * OPTIMIZE/re-clustering decision ([[compactionPlan]] decides by
    * size; this decides by ORDER): per ingestion zone (the
    * [[zonemapPrune]] segments), the (min, max) event-time range; the
    * audit sweeps all range boundaries (+1 at min, −1 past max — the
    * [[sessionConcurrency]] technique on file statistics) and reports
    * the MAX overlap depth (how many zones a point query must open —
    * 1 = perfectly clustered, ≈ zone count = ingestion fully shuffled)
    * and how many zones begin inside another zone's range. Zone-count
    * bounded: this is a METADATA query, never a data scan — exactly
    * how a lakehouse table service evaluates clustering drift. */
  def overlapDepth(spark: SparkSession, dir: String): DataFrame =
    overlapDepthOf(Tables(spark, dir, "events"))

  private[graft] def overlapDepthOf(events: DataFrame): DataFrame =
    overlapFinish(zoneStatsFrom(events))

  /** Per-zone (min, max) event-time range — the mergeable state the
    * streaming twin (`StreamJobs.overlapDepthStream`) maintains: min
    * and max are additive-mergeable per zone across any batch split,
    * so a live layout monitor costs one streaming aggregation and the
    * zone-count-bounded sweep per batch. */
  private[graft] def zoneStatsFrom(events: DataFrame): DataFrame =
    events
      .select(expr(s"event_id div $ZoneRows").as("zone"),
        unix_micros(col("ts")).as("tus"))
      .groupBy("zone").agg(min("tus").as("mn"), max("tus").as("mx"))

  private[graft] def overlapFinish(stats: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = stats.select(col("zone"), col("mn").as("pos"), lit(1L).as("delta"))
      .unionAll(stats.select(col("zone"), (col("mx") + 1).as("pos"), lit(-1L).as("delta")))
    // +1 sorts before −1 at equal pos (delta desc) — max-inclusive
    // ranges: zones touching at a point count as overlapping
    val wSweep = Window.orderBy(asc("pos"), desc("delta"), asc("zone"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val swept = bounds.withColumn("depth", sum("delta").over(wSweep))
    swept.agg(
        (count(lit(1)) / 2).cast("long").as("zones_total"),
        max("depth").as("max_overlap_depth"),
        sum(when(col("delta") === 1L && col("depth") >= 2L, 1L).otherwise(0L))
          .as("zones_starting_inside_another"))
  }

  val overlapDepthSql: String =
    s"""WITH s AS (
       |  SELECT event_id // $ZoneRows AS zone, min(epoch_us(ts)) AS mn,
       |         max(epoch_us(ts)) AS mx
       |  FROM events GROUP BY 1),
       |b AS (SELECT zone, mn AS pos, 1 AS delta FROM s
       |      UNION ALL SELECT zone, mx + 1, -1 FROM s),
       |sw AS (SELECT zone, pos, delta,
       |              sum(delta) OVER (ORDER BY pos, delta DESC, zone) AS depth
       |       FROM b)
       |SELECT CAST(count(*) // 2 AS BIGINT) AS zones_total,
       |       CAST(max(depth) AS BIGINT) AS max_overlap_depth,
       |       CAST(sum(CASE WHEN delta = 1 AND depth >= 2 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS zones_starting_inside_another
       |FROM sw""".stripMargin

  private val OtEps = 4.0
  private val OtRounds = 3
  private val OtBins = 24

  /** SINKHORN ENTROPIC OPTIMAL TRANSPORT between the hour-of-day
    * profiles of clicks and purchases (Cuturi 2013) — the
    * distribution distance that knows 01:00 is CLOSE to 02:00 where
    * KL/JS ([[jsDivergence]]) treat bins as unordered and the exact
    * 1-D Wasserstein ([[wassersteinDrift]]) has no regularized
    * transport PLAN: cost = circular hour distance, Gibbs kernel
    * K = exp(−c/ε), [[OtRounds]] unrolled Sinkhorn scalings
    * v = b/(Kᵀu), u = a/(Kv). Output: the regularized transport cost
    * ⟨P, c⟩ and the row-marginal violation (how converged 3 rounds
    * got — reported, not hidden).
    *
    * Determinism: marginals are exact count ratios; every 24-term
    * kernel sum is fenced per term to 1e-12 integer units before the
    * BIGINT reduction (the betweenness rule) and u, v are fenced to
    * 9 dp per round, so both engines walk identical scaling vectors.
    * Scale shape: ONE corpus pass to the 24-bin histograms; the
    * iteration is 24×24-bounded arithmetic. */
  def sinkhornOt(spark: SparkSession, dir: String): DataFrame =
    sinkhornOtOf(Tables(spark, dir, "events"))

  private[graft] def sinkhornOtOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val hours = spark.range(OtBins).select(col("id").cast("int").as("h"))
    import org.apache.spark.sql.expressions.Window
    def marginal(tpe: String, nc: String, sc: String): DataFrame = {
      val cnt = events.filter(col("event_type") === tpe)
        .select(expr("(unix_timestamp(ts) div 3600) % 24").cast("int").as("h"))
        .groupBy("h").agg(count(lit(1)).as("n"))
      hours.join(cnt, Seq("h"), "left")
        .select(col("h"), coalesce(col("n"), lit(0L)).as(nc))
        .withColumn(sc, col(nc).cast("double")
          / sum(nc).over(org.apache.spark.sql.expressions.Window
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    }
    val a = marginal("click", "na", "pa").localCheckpoint()    // 24 rows
    val b = marginal("purchase", "nb", "pb").localCheckpoint() // 24 rows
    val k = hours.select(col("h").as("i"))
      .crossJoin(hours.select(col("h").as("j")))
      .withColumn("c", least(abs(col("i") - col("j")),
        lit(OtBins) - abs(col("i") - col("j"))).cast("double"))
      .withColumn("kv", exp(-col("c") / OtEps))
      .localCheckpoint() // 576 rows
    var u = a.select(col("h").as("i"), lit(1.0).as("u"))
    var v: DataFrame = null
    for (_ <- 1 to OtRounds) {
      val ktu = k.join(u, Seq("i"))
        .groupBy(col("j"))
        .agg((sum(Det.units(col("kv") * col("u"), 12)).cast("double") / 1e12)
          .as("ktu"))
      v = b.select(col("h").as("j"), col("pb"))
        .join(ktu, Seq("j"))
        .select(col("j"), Det.rnd(col("pb") / col("ktu"), 9).as("v"))
        .localCheckpoint() // 24 rows
      val kv2 = k.join(v, Seq("j"))
        .groupBy(col("i"))
        .agg((sum(Det.units(col("kv") * col("v"), 12)).cast("double") / 1e12)
          .as("kv2"))
      u = a.select(col("h").as("i"), col("pa"))
        .join(kv2, Seq("i"))
        .select(col("i"), Det.rnd(col("pa") / col("kv2"), 9).as("u"))
        .localCheckpoint() // 24 rows
    }
    val plan = k.join(u, Seq("i")).join(v, Seq("j"))
      .select(col("i"), col("c"),
        (col("u") * col("kv") * col("v")).as("pij"))
    val rowMass = plan.groupBy("i")
      .agg((sum(Det.units(col("pij"), 12)).cast("double") / 1e12).as("pi"))
      .join(a.select(col("h").as("i"), col("pa")), Seq("i"))
    val cost = plan.agg(
      (sum(Det.units(col("pij") * col("c"), 12)).cast("double") / 1e12).as("costRaw"))
    val err = rowMass.agg(
      (sum(Det.units(abs(col("pi") - col("pa")), 12)).cast("double") / 1e12)
        .as("errRaw"))
    a.agg(sum("na").as("n_clicks"))
      .crossJoin(b.agg(sum("nb").as("n_purchases")))
      .crossJoin(broadcast(cost))
      .crossJoin(broadcast(err))
      .select(col("n_clicks"), col("n_purchases"),
        Det.rnd(col("costRaw"), 6).as("sinkhorn_cost"),
        Det.rnd(col("errRaw"), 6).as("row_marginal_err"))
  }

  val sinkhornOtSql: String = {
    val rounds = (1 to OtRounds).map { r =>
      val ktu = s"CAST((SELECT sum(${Det.unitsSql("k.kv * u.u", 12)}) " +
        s"FROM k JOIN u${r - 1} u ON u.i = k.i WHERE k.j = b.j) AS DOUBLE) / 1e12"
      val kvv = s"CAST((SELECT sum(${Det.unitsSql("k.kv * v.v", 12)}) " +
        s"FROM k JOIN v$r v ON v.j = k.j WHERE k.i = a.i) AS DOUBLE) / 1e12"
      s"""v$r AS MATERIALIZED (
         |  SELECT b.j, ${Det.rndSql(s"b.pb / ($ktu)", 9)} AS v
         |  FROM b),
         |u$r AS MATERIALIZED (
         |  SELECT a.i, ${Det.rndSql(s"a.pa / ($kvv)", 9)} AS u
         |  FROM a)""".stripMargin
    }.mkString(",\n")
    s"""WITH grid AS (SELECT CAST(unnest(range($OtBins)) AS INTEGER) AS h),
       |ca AS (SELECT (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) % 24 AS h,
       |              count(*) AS n
       |       FROM events WHERE event_type = 'click' GROUP BY 1),
       |cb AS (SELECT (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) % 24 AS h,
       |              count(*) AS n
       |       FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |a AS MATERIALIZED (SELECT grid.h AS i, CAST(coalesce(ca.n, 0) AS BIGINT) AS na,
       |             CAST(coalesce(ca.n, 0) AS DOUBLE)
       |               / (SELECT sum(coalesce(ca2.n, 0)) FROM grid g2
       |                  LEFT JOIN ca ca2 ON ca2.h = g2.h) AS pa
       |      FROM grid LEFT JOIN ca ON ca.h = grid.h),
       |b AS MATERIALIZED (SELECT grid.h AS j, CAST(coalesce(cb.n, 0) AS BIGINT) AS nb,
       |             CAST(coalesce(cb.n, 0) AS DOUBLE)
       |               / (SELECT sum(coalesce(cb2.n, 0)) FROM grid g2
       |                  LEFT JOIN cb cb2 ON cb2.h = g2.h) AS pb
       |      FROM grid LEFT JOIN cb ON cb.h = grid.h),
       |k AS MATERIALIZED (SELECT ga.h AS i, gb.h AS j,
       |             CAST(least(abs(ga.h - gb.h), $OtBins - abs(ga.h - gb.h)) AS DOUBLE)
       |               AS c,
       |             exp(-CAST(least(abs(ga.h - gb.h), $OtBins - abs(ga.h - gb.h))
       |                 AS DOUBLE) / $OtEps) AS kv
       |      FROM grid ga CROSS JOIN grid gb),
       |u0 AS (SELECT i, 1.0 AS u FROM a),
       |$rounds,
       |pl AS (SELECT k.i, k.c, u.u * k.kv * v.v AS pij
       |       FROM k JOIN u$OtRounds u ON u.i = k.i
       |       JOIN v$OtRounds v ON v.j = k.j),
       |rm AS (SELECT pl.i,
       |              CAST(sum(${Det.unitsSql("pl.pij", 12)}) AS DOUBLE) / 1e12 AS pi
       |       FROM pl GROUP BY 1),
       |cost AS (SELECT CAST(sum(${Det.unitsSql("pij * c", 12)}) AS DOUBLE) / 1e12
       |                  AS costraw
       |         FROM pl),
       |err AS (SELECT CAST(sum(${Det.unitsSql("abs(rm.pi - a.pa)", 12)}) AS DOUBLE)
       |                 / 1e12 AS errraw
       |        FROM rm JOIN a ON a.i = rm.i)
       |SELECT (SELECT CAST(sum(na) AS BIGINT) FROM a) AS n_clicks,
       |       (SELECT CAST(sum(nb) AS BIGINT) FROM b) AS n_purchases,
       |       ${Det.rndSql("(SELECT costraw FROM cost)", 6)} AS sinkhorn_cost,
       |       ${Det.rndSql("(SELECT errraw FROM err)", 6)} AS row_marginal_err""".stripMargin
  }

  /** OFF-POLICY EVALUATION by inverse-propensity scoring — the
    * counterfactual serving question every recommender/ranker team
    * asks of its logs: "what value WOULD the new policy earn, judged
    * only from traffic the old policy logged?" Logged bandit feedback
    * = view events (action = the shown item `props.k`, reward = the
    * view's dollar value); behavior propensities μ(k) are the
    * empirical action shares; the target policy π is uniform over the
    * k < 10 slate. Reported: the IPS estimate
    * V̂ = (1/N)·Σ rᵢ·π(aᵢ)/μ(aᵢ) (unbiased, high variance), the
    * self-normalized SNIPS = Σ rw / Σ w (biased, low variance —
    * Swaminathan & Joachims 2015), and the on-slate direct mean for
    * reference.
    *
    * Determinism: rewards are exact cents; each importance weight and
    * each weighted reward is fenced to integer units PER ROW before
    * the sums (identical double products in both engines), so
    * partial-aggregation order cannot move either estimator.
    *
    * Scale shape: one action-share aggregation (item-bounded),
    * broadcast back over one pass of the log, one final aggregate —
    * no shuffle wider than the item dimension. */
  def ipsEval(spark: SparkSession, dir: String): DataFrame =
    ipsEvalOf(Tables(spark, dir, "events"))

  private[graft] def ipsEvalOf(events: DataFrame): DataFrame = {
    val logged = events.filter(col("event_type") === "view")
      .select(expr("CAST(get_json_object(props, '$.k') AS INT)").as("k"),
        Det.cents(col("value")).as("r_cents"))
    val mu = logged.groupBy("k").agg(count(lit(1)).as("nk"))
    val tot = logged.agg(count(lit(1)).as("n"))
    val w = logged.join(broadcast(mu), "k").crossJoin(broadcast(tot))
      .withColumn("target", (col("k") < 10).cast("long"))
      .withColumn("w9", Det.units(
        col("target") * col("n").cast("double") / (lit(10.0) * col("nk")), 9))
      .withColumn("rw6", Det.units(
        col("target") * (col("r_cents").cast("double") / 100.0)
          * col("n").cast("double") / (lit(10.0) * col("nk")), 6))
    w.agg(
      count(lit(1)).as("n_logged"),
      sum("target").as("n_on_slate"),
      Det.rnd(sum("rw6").cast("double") / 1e6 / max("n"), 6).as("ips_value"),
      Det.rnd(sum("rw6").cast("double") * 1e3 / sum("w9"), 6).as("snips_value"),
      Det.rnd(sum(col("target") * col("r_cents")).cast("double") / 100.0
        / sum("target"), 6).as("direct_value"))
  }

  val ipsEvalSql: String =
    s"""WITH lg AS (
       |  SELECT TRY_CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS INTEGER) AS k,
       |         ${Det.centsSql("value")} AS r_cents
       |  FROM events WHERE event_type = 'view'),
       |mu AS (SELECT k, count(*) AS nk FROM lg GROUP BY 1),
       |t AS (SELECT count(*) AS n FROM lg),
       |w AS (
       |  SELECT CASE WHEN lg.k < 10 THEN 1 ELSE 0 END AS target,
       |         r_cents, n, nk,
       |         ${Det.unitsSql(
      "CASE WHEN lg.k < 10 THEN 1 ELSE 0 END * CAST(n AS DOUBLE) / (10.0 * nk)", 9)} AS w9,
       |         ${Det.unitsSql(
      "CASE WHEN lg.k < 10 THEN 1 ELSE 0 END * (CAST(r_cents AS DOUBLE) / 100.0) " +
        "* CAST(n AS DOUBLE) / (10.0 * nk)", 6)} AS rw6
       |  FROM lg JOIN mu USING (k) CROSS JOIN t)
       |SELECT count(*) AS n_logged,
       |       CAST(sum(target) AS BIGINT) AS n_on_slate,
       |       ${Det.rndSql("CAST(sum(rw6) AS DOUBLE) / 1e6 / max(n)", 6)} AS ips_value,
       |       ${Det.rndSql("CAST(sum(rw6) AS DOUBLE) * 1e3 / sum(w9)", 6)} AS snips_value,
       |       ${Det.rndSql(
      "CAST(sum(target * r_cents) AS DOUBLE) / 100.0 / sum(target)", 6)} AS direct_value
       |FROM w""".stripMargin

  /** DP MEDIAN via the EXPONENTIAL MECHANISM (McSherry–Talwar 2007) —
    * the quantile-release twin of [[dpCounts]]' Laplace counts: the
    * purchase-amount median is released by sampling a DOLLAR BIN with
    * probability ∝ exp(ε·u/2), where the utility u(bin) is minus the
    * rank distance of the bin's center from n/2 (sensitivity 1). The
    * "sample" is the Gumbel-max trick — argmax of ε·u/2 + Gumbel —
    * with the per-bin Gumbel from the same deterministic golden-ratio
    * Weyl point as [[dpCounts]] (an auditable-replay demo, NOT a
    * secret-randomness DP deployment; swap the Weyl point for a real
    * PRG in production).
    *
    * Scale shape: one cents histogram (value-domain-bounded bins), a
    * bounded cumulative window over the bins, one argmax cut — the
    * full-rank formulation would window over every row; binning is
    * what makes the mechanism 100 TB-safe. Utility, ranks and the
    * 1e-9-fenced scores are integers; the only doubles are the two ln
    * calls on identical inputs. */
  def dpQuantile(spark: SparkSession, dir: String): DataFrame =
    dpQuantileOf(Tables(spark, dir, "events"))

  private[graft] def dpQuantileOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bins = events.filter(col("event_type") === "purchase")
      .select(Det.cents(col("value")).as("cents"))
      .groupBy(expr("cents div 100").as("bin")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = bins.agg(sum("cnt").as("n"))
    val scored = bins
      .withColumn("cum", sum("cnt").over(wCum))
      .crossJoin(broadcast(tot))
      .withColumn("u", -abs(lit(2L) * col("cum") - col("cnt") - col("n")))
      .withColumn("uw", expr(
        "((bin * 2654435761) % 4294967296 + 0.5) / 4294967296.0"))
      .withColumn("score9", Det.units(
        lit(0.5 * DpEpsilon.toDouble) * col("u") - log(-log(col("uw"))), 9))
    val dp = scored
      .withColumn("rn", row_number().over(
        Window.orderBy(desc("score9"), asc("bin"))))
      .filter(col("rn") === 1)
      .select((col("bin") * 100 + 50).as("dp_median_cents"))
    val med = scored.filter(col("cum") >= expr("(n + 1) div 2"))
      .orderBy("bin").limit(1)
      .select((col("bin") * 100 + 50).as("true_median_cents"), col("n"))
    med.crossJoin(broadcast(dp))
      .select(col("n"), col("true_median_cents"), col("dp_median_cents"),
        abs(col("dp_median_cents") - col("true_median_cents")).as("err_cents"),
        lit(DpEpsilon).cast("double").as("epsilon"))
  }

  val dpQuantileSql: String =
    s"""WITH b AS (
       |  SELECT ${Det.centsSql("value")} // 100 AS bin, count(*) AS cnt
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM b),
       |s AS (
       |  SELECT bin, cnt, n,
       |         sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
       |           AND CURRENT ROW) AS cum
       |  FROM b CROSS JOIN t),
       |sc AS (
       |  SELECT bin, cum, n,
       |         ${Det.unitsSql(
          s"0.5 * $DpEpsilon * (-abs(2 * cum - cnt - n)) " +
            "- ln(-ln(((bin * 2654435761) % 4294967296 + 0.5) / 4294967296.0))", 9)}
       |           AS score9
       |  FROM s),
       |dp AS (
       |  SELECT bin * 100 + 50 AS dp_median_cents FROM (
       |    SELECT bin, row_number() OVER (ORDER BY score9 DESC, bin) AS rn FROM sc)
       |  WHERE rn = 1),
       |md AS (
       |  SELECT bin * 100 + 50 AS true_median_cents, n FROM (
       |    SELECT bin, n, row_number() OVER (ORDER BY bin) AS rn
       |    FROM sc WHERE cum >= (n + 1) // 2)
       |  WHERE rn = 1)
       |SELECT CAST(n AS BIGINT) AS n,
       |       CAST(true_median_cents AS BIGINT) AS true_median_cents,
       |       CAST(dp_median_cents AS BIGINT) AS dp_median_cents,
       |       CAST(abs(dp_median_cents - true_median_cents) AS BIGINT) AS err_cents,
       |       CAST($DpEpsilon AS DOUBLE) AS epsilon
       |FROM md CROSS JOIN dp""".stripMargin

  private val AbsorbSteps = 4
  private val AbsorbState = "purchase"

  /** MARKOV ABSORPTION PROBABILITIES — the funnel question
    * [[markovTransitions]] sets up but doesn't answer: from each
    * behavioral state, what is the probability of reaching the
    * absorbing [[AbsorbState]] within k steps? The purchase row is
    * made absorbing (self-loop 1), and a(s, k+1) = Σ_d P(s,d)·a(d, k)
    * iterates [[AbsorbSteps]] unrolled rounds — the bounded-horizon
    * absorption profile per entry state (conversion propensity by
    * state, the number a growth team ranks acquisition flows by).
    *
    * Determinism: transition mass is exact integer 1e-12 units
    * (cnt·10¹² div row-total — rows under-sum by the truncation
    * remainder identically in both engines); the iterate is kept in
    * 1e-6 units so every product stays under 2⁶³ and the recurrence
    * is pure integer arithmetic.
    *
    * Scale shape: one user-partitioned lag window (the sessionize
    * exchange) collapses the corpus to a types²-bounded matrix;
    * every iteration is a join of two ≤ types²-row relations. */
  def absorbProb(spark: SparkSession, dir: String): DataFrame =
    absorbProbOf(Tables(spark, dir, "events"))

  private[graft] def absorbProbOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val counts = events
      .select(col("user_id"), col("event_type").as("dst"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      .withColumn("src", lag("dst", 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
    absorbFromCounts(counts)
  }

  /** The absorption iteration on an already-aggregated transition
    * count relation (src, dst, cnt) — factored out so the
    * [[graft.streaming.StreamJobs.transitionsStream]] state (whose
    * emitted transitions aggregate to the SAME counts) feeds the
    * identical finish: stream-built absorption probabilities are
    * bit-identical to the batch ones (StreamingSpec parity). */
  private[graft] def absorbFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = counts.filter(col("src") =!= AbsorbState)
      .withColumn("rt", sum("cnt").over(Window.partitionBy("src")))
      .select(col("src"), col("dst"), expr("cnt * 1000000000000L div rt").as("p12"))
      .unionByName(counts.sparkSession.range(1)
        .select(lit(AbsorbState).as("src"), lit(AbsorbState).as("dst"),
          lit(1000000000000L).as("p12")))
      .localCheckpoint() // types²-bounded matrix
    val states = p.select(col("src").as("state")).distinct()
    var a = states.select(col("state"),
      when(col("state") === AbsorbState, 1000000L).otherwise(0L).as("a6"))
      .localCheckpoint()
    val out = (1 to AbsorbSteps).map { k =>
      a = states
        .join(p.join(a.select(col("state").as("dst"), col("a6")), Seq("dst"))
            .groupBy("src").agg(expr("sum(p12 * a6) div 1000000000000L").as("n6")),
          col("state") === col("src"), "left")
        .select(col("state"), coalesce(col("n6"), lit(0L)).as("a6"))
        .localCheckpoint() // types-bounded
      a.select(col("state"), lit(k).as("step"), col("a6").as("p_absorb6"),
        graft.functions.Det.rnd(col("a6").cast("double") / 1e6, 6).as("p_absorb"))
    }
    out.reduce(_ unionAll _).orderBy("state", "step")
  }

  val absorbProbSql: String = {
    import graft.functions.Det
    val steps = (1 to AbsorbSteps).map { k =>
      s"""a$k AS (
         |  SELECT s.state,
         |         coalesce(n.n6, 0) AS a6
         |  FROM states s LEFT JOIN (
         |    SELECT p.src, CAST(sum(p.p12 * a.a6) AS BIGINT) // 1000000000000 AS n6
         |    FROM p JOIN a${k - 1} a ON a.state = p.dst
         |    GROUP BY 1) n ON n.src = s.state)""".stripMargin
    }.mkString(",\n")
    s"""WITH bi AS (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY epoch_us(ts), event_id) AS src,
       |         event_type AS dst
       |  FROM events),
       |c AS (SELECT src, dst, count(*) AS cnt FROM bi
       |      WHERE src IS NOT NULL GROUP BY 1, 2),
       |p AS (
       |  SELECT src, dst,
       |         cnt * 1000000000000 // CAST(sum(cnt) OVER (PARTITION BY src) AS BIGINT) AS p12
       |  FROM c WHERE src <> '$AbsorbState'
       |  UNION ALL
       |  SELECT '$AbsorbState', '$AbsorbState', 1000000000000),
       |states AS (SELECT DISTINCT src AS state FROM p),
       |a0 AS (SELECT state,
       |              CASE WHEN state = '$AbsorbState'
       |                   THEN CAST(1000000 AS BIGINT) ELSE 0 END AS a6
       |       FROM states),
       |$steps
       |SELECT state, step, p_absorb6,
       |       ${Det.rndSql("CAST(p_absorb6 AS DOUBLE) / 1e6", 6)} AS p_absorb
       |FROM (
       |${(1 to AbsorbSteps).map(k =>
          s"  SELECT state, $k AS step, CAST(a6 AS BIGINT) AS p_absorb6 FROM a$k")
         .mkString("\n  UNION ALL\n")}
       |)
       |ORDER BY state, step""".stripMargin
  }

  private val EsRounds = 8
  // Overflow fence (ADVICE r13): each round's per-src accumulator is
  // sum(p12 * e6) where Σ p12 = 1e12 exactly (row-stochastic in 1e-12
  // units) and e6 ≤ EsRounds·1e6 (e is a step count bounded by the
  // horizon), so the sum is ≤ EsRounds·1e18. At 2⁶³ ≈ 9.22e18 the
  // iteration is safe only for EsRounds ≤ 9 — beyond that Spark's
  // sum(LONG) wraps silently while DuckDB's sum(BIGINT) promotes to
  // HUGEINT, a silent cross-engine fork. Fail fast at class-load
  // instead of diverging at row 10^9.
  require(EsRounds.toLong * 1000000L <= Long.MaxValue / 1000000000000L,
    s"EsRounds=$EsRounds would overflow the 1e-12-unit Long accumulator " +
      "(sum(p12*e6) <= EsRounds*1e18 must stay under 2^63); max is 9")

  /** EXPECTED STEPS TO ABSORPTION (the fundamental-matrix readout,
    * horizon-truncated): [[absorbProb]] answers "does this state
    * convert within k hops"; this answers "how LONG does conversion
    * take" — e(s) = 1 + Σ_d P(s,d)·e(d) value-iterated [[EsRounds]]
    * unrolled rounds from e₀ = 0 with e(absorber) pinned at 0. The
    * truncation semantics are explicit and engine-shared: paths still
    * alive at the horizon (and mass entering dead-end states, which
    * have no outgoing row) contribute their steps SO FAR — the same
    * lost-mass convention as [[absorbProb]]'s sub-1 tails.
    *
    * Determinism: the same exact 1e-12-unit transition matrix as
    * [[absorbFromCounts]]; the iterate e is kept in 1e-6 units so
    * every product stays under 2⁶³ and the recurrence is pure integer
    * arithmetic.
    *
    * Scale shape: identical to the absorption iteration — one lag
    * exchange collapses the corpus, then types²-bounded joins. */
  def absorbSteps(spark: SparkSession, dir: String): DataFrame =
    absorbStepsOf(Tables(spark, dir, "events"))

  private[graft] def absorbStepsOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val counts = events
      .select(col("user_id"), col("event_type").as("dst"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      .withColumn("src", lag("dst", 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
    val p = counts.filter(col("src") =!= AbsorbState)
      .withColumn("rt", sum("cnt").over(Window.partitionBy("src")))
      .select(col("src"), col("dst"), expr("cnt * 1000000000000L div rt").as("p12"))
      .localCheckpoint() // transient rows only — the absorber stays at 0
    val states = p.select(col("src").as("state")).distinct()
    var e = states.select(col("state"), lit(0L).as("e6")).localCheckpoint()
    for (_ <- 1 to EsRounds) {
      e = states
        .join(p.join(e.select(col("state").as("dst"), col("e6")), Seq("dst"))
            .groupBy("src").agg(expr("sum(p12 * e6) div 1000000000000L").as("n6")),
          col("state") === col("src"), "left")
        .select(col("state"),
          (lit(1000000L) + coalesce(col("n6"), lit(0L))).as("e6"))
        .localCheckpoint() // types-bounded
    }
    e.unionByName(states.sparkSession.range(1)
        .select(lit(AbsorbState).as("state"), lit(0L).as("e6")))
      .select(col("state"), col("e6").as("e_steps6"),
        graft.functions.Det.rnd(col("e6").cast("double") / 1e6, 6).as("e_steps"))
      .orderBy("state")
  }

  val absorbStepsSql: String = {
    import graft.functions.Det
    val steps = (1 to EsRounds).map { k =>
      s"""e$k AS (
         |  SELECT s.state,
         |         1000000 + coalesce(n.n6, 0) AS e6
         |  FROM states s LEFT JOIN (
         |    SELECT p.src, CAST(sum(p.p12 * e.e6) AS BIGINT) // 1000000000000 AS n6
         |    FROM p JOIN e${k - 1} e ON e.state = p.dst
         |    GROUP BY 1) n ON n.src = s.state)""".stripMargin
    }.mkString(",\n")
    s"""WITH bi AS (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY epoch_us(ts), event_id) AS src,
       |         event_type AS dst
       |  FROM events),
       |c AS (SELECT src, dst, count(*) AS cnt FROM bi
       |      WHERE src IS NOT NULL GROUP BY 1, 2),
       |p AS (
       |  SELECT src, dst,
       |         cnt * 1000000000000 // CAST(sum(cnt) OVER (PARTITION BY src) AS BIGINT) AS p12
       |  FROM c WHERE src <> '$AbsorbState'),
       |states AS (SELECT DISTINCT src AS state FROM p),
       |e0 AS (SELECT state, CAST(0 AS BIGINT) AS e6 FROM states),
       |$steps
       |SELECT state, CAST(e6 AS BIGINT) AS e_steps6,
       |       ${Det.rndSql("CAST(e6 AS DOUBLE) / 1e6", 6)} AS e_steps
       |FROM (SELECT state, e6 FROM e$EsRounds
       |      UNION ALL SELECT '$AbsorbState', 0)
       |ORDER BY state""".stripMargin
  }

  private val JwTopK = 15

  /** FUZZY RECORD LINKAGE by JARO-WINKLER — the name-agreement tier
    * of the [[fellegiSunter]] family, powered by the repo's native
    * codegen'd [[graft.functions.JaroWinkler]] expression (Spark has
    * `levenshtein` but no JW; record linkage standardized on JW
    * because it rewards shared prefixes, exactly how entity names
    * drift). Candidate pairs are SORTED-NEIGHBORHOOD within the part
    * type shard (the [[sortedNeighborhood]] discipline — never
    * all-pairs); exact-equal names are excluded (they belong to exact
    * dedup); the [[JwTopK]] closest fuzzy pairs are reported.
    *
    * The oracle is DuckDB's OWN `jaro_winkler_similarity` — a fully
    * independent implementation of the metric, so the compare
    * cross-validates the custom expression on thousands of corpus
    * pairs against code this repo didn't write. Scores are 6-dp
    * fenced before the cut; ties break on the part key. */
  def jwLinkage(spark: SparkSession, dir: String): DataFrame =
    jwLinkageOf(Tables(spark, dir, "part"))

  private[graft] def jwLinkageOf(part: DataFrame): DataFrame = {
    import graft.functions.Det
    import org.apache.spark.sql.expressions.Window
    graft.functions.JaroWinkler.register(part.sparkSession)
    val w = Window.partitionBy("p_type").orderBy("p_name", "p_partkey")
    part.select(col("p_partkey"), col("p_type"), col("p_name"))
      .withColumn("name_a", lag("p_name", 1).over(w))
      .withColumn("key_a", lag("p_partkey", 1).over(w))
      .filter(col("name_a").isNotNull && col("name_a") =!= col("p_name"))
      .select(col("p_type"), col("key_a"),
        col("p_partkey").as("key_b"), col("name_a"),
        col("p_name").as("name_b"),
        Det.rnd(expr("jaro_winkler(name_a, p_name)"), 6).as("jw"))
      .orderBy(desc("jw"), asc("key_b")).limit(JwTopK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("jw"), asc("key_b"))))
      .select("rank", "p_type", "key_a", "key_b", "name_a", "name_b", "jw")
      .orderBy("rank")
  }

  val jwLinkageSql: String = {
    import graft.functions.Det
    s"""WITH srt AS (
       |  SELECT p_type, p_partkey, p_name,
       |         lag(p_name) OVER (PARTITION BY p_type
       |           ORDER BY p_name, p_partkey) AS name_a,
       |         lag(p_partkey) OVER (PARTITION BY p_type
       |           ORDER BY p_name, p_partkey) AS key_a
       |  FROM part),
       |f AS (
       |  SELECT p_type, key_a, p_partkey AS key_b, name_a,
       |         p_name AS name_b,
       |         ${Det.rndSql("jaro_winkler_similarity(name_a, p_name)", 6)} AS jw
       |  FROM srt WHERE name_a IS NOT NULL AND name_a <> p_name)
       |SELECT CAST(row_number() OVER (ORDER BY jw DESC, key_b) AS INTEGER) AS rank,
       |       p_type, key_a, key_b, name_a, name_b, jw
       |FROM f ORDER BY jw DESC, key_b LIMIT $JwTopK""".stripMargin
  }

  /** WEIBULL RELIABILITY FIT by median-rank regression (Benard's
    * approximation — the standard grouped-data estimator): order→
    * first-ship latency in whole days is the time-to-event, the
    * distinct-day histogram gives grouped median ranks
    * F = (cum − 0.3)/(n + 0.4), and OLS of ln(−ln(1−F)) on ln(t)
    * reads the shape k off the slope and the scale λ = e^(−b/k) off
    * the intercept — the lifetime model behind SLA sizing that
    * [[gevReturn]]/[[potGpd]] (extremes) and [[survivalKm]]
    * (nonparametric) bracket. Day-0 ships are excluded (ln 0; the
    * sub-day lane belongs to [[tailLatency]]), identically in both
    * engines.
    *
    * Determinism: latencies are exact integer days; the regression
    * runs on the DISTINCT-day relation (value-bounded — never a
    * corpus-wide rank window) with x/y fenced to 1e-9 integer units
    * before the exact integer moment sums (the [[olsTrend]] rule);
    * shape/scale are fixed double expressions of those sums.
    *
    * Scale shape: one join orders⋈lineitem on the natural key, one
    * per-order min, one day-histogram aggregate; the window runs on
    * the ≤ |distinct days| relation. */
  def weibullFit(spark: SparkSession, dir: String): DataFrame =
    weibullFitOf(Tables(spark, dir, "orders"), Tables(spark, dir, "lineitem"))

  private[graft] def weibullFitOf(orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    import graft.functions.Det
    import org.apache.spark.sql.expressions.Window
    val lat = orders.join(lineitem,
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(min("l_shipdate").as("ship"))
      .select(datediff(col("ship"), col("o_orderdate")).cast("long").as("t"))
      .filter(col("t") >= 1)
    val hist = lat.groupBy("t").agg(count(lit(1)).as("cnt"))
    val pts = hist
      .withColumn("cum", sum("cnt").over(Window.orderBy("t")))
      .withColumn("n", sum("cnt").over(
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(
        Det.units(log(col("t").cast("double")), 6).as("x6"),
        Det.units(log(-log(lit(1.0)
          - (col("cum").cast("double") - 0.3) / (col("n") + 0.4))), 6).as("y6"))
    val m = pts.agg(count(lit(1)).as("k"), sum("x6").as("sx"),
      sum("y6").as("sy"), sum(col("x6") * col("y6")).as("sxy"),
      sum(col("x6") * col("x6")).as("sxx"))
    val nOrders = lat.agg(count(lit(1)).as("n_orders"))
    // moment sums are exact integers; the normal-equation combination
    // runs in DOUBLE (k grows with distinct days — k·sxx overflows 2^63
    // at gate SF) — identical IEEE expressions in both engines
    val slope = (col("k").cast("double") * col("sxy")
      - col("sx").cast("double") * col("sy")) /
      (col("k").cast("double") * col("sxx")
        - col("sx").cast("double") * col("sx"))
    m.crossJoin(broadcast(nOrders))
      .select(col("n_orders"), col("k").as("n_points"),
        Det.rnd(slope, 4).as("shape"),
        Det.rnd(exp(-(
          (col("sy").cast("double") / col("k") / 1e6)
            - slope * (col("sx").cast("double") / col("k") / 1e6)) / slope), 2)
          .as("scale_days"))
  }

  val weibullFitSql: String = {
    import graft.functions.Det
    val slope = "((CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)" +
      " / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
    s"""WITH lat AS (
       |  SELECT CAST(datediff('day', o.o_orderdate, min(l.l_shipdate)) AS BIGINT) AS t
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |  GROUP BY o.o_orderkey, o.o_orderdate),
       |lt AS (SELECT t FROM lat WHERE t >= 1),
       |hist AS (SELECT t, count(*) AS cnt FROM lt GROUP BY 1),
       |pts AS (
       |  SELECT ${Det.unitsSql("ln(CAST(t AS DOUBLE))", 6)} AS x6,
       |         ${Det.unitsSql(
      "ln(-ln(1.0 - (CAST(cum AS DOUBLE) - 0.3) / (n + 0.4)))", 6)} AS y6
       |  FROM (SELECT t, sum(cnt) OVER (ORDER BY t) AS cum,
       |               sum(cnt) OVER () AS n
       |        FROM hist)),
       |m AS (SELECT count(*) AS k, CAST(sum(x6) AS BIGINT) AS sx,
       |             CAST(sum(y6) AS BIGINT) AS sy,
       |             CAST(sum(x6 * y6) AS BIGINT) AS sxy,
       |             CAST(sum(x6 * x6) AS BIGINT) AS sxx
       |      FROM pts),
       |no AS (SELECT count(*) AS n_orders FROM lt)
       |SELECT n_orders, k AS n_points,
       |       ${Det.rndSql(slope, 4)} AS shape,
       |       ${Det.rndSql(
      s"exp(-((CAST(sy AS DOUBLE) / k / 1e6) - $slope * (CAST(sx AS DOUBLE) / k / 1e6)) / $slope)",
      2)} AS scale_days
       |FROM m CROSS JOIN no""".stripMargin
  }

  private val BonNs = Seq(1, 4, 16)

  /** BEST-OF-N POLICY VALUE from logged rewards — the order-statistic
    * eval behind best-of-n sampling (and the value side of
    * [[ipsEval]]'s off-policy story): if a policy draws n i.i.d.
    * samples from the logged reward distribution and keeps the best,
    * its expected value is E[max] = Σ_v v·(F(v)ⁿ − F(v⁻)ⁿ) over the
    * EXACT empirical distribution — computed per event type for
    * n ∈ {${"1, 4, 16"}}. n = 1 reproduces the plain mean (the spec's
    * sanity anchor); the n-curve's flatness is the "is more sampling
    * still buying reward?" readout.
    *
    * Determinism: rewards are exact cents; F(v) and F(v⁻) are exact
    * integer rank ratios; each pow term is fenced to 1e-9 units
    * BEFORE the value-weighted sum, so summation order cannot move
    * the result; the final division is 4-dp-fenced.
    *
    * Scale shape: one (type, cents) count aggregation, a type-
    * partitioned cumulative window on the distinct-value relation
    * (value-bounded), and a per-n rollup — the corpus is read once. */
  def bestOfN(spark: SparkSession, dir: String): DataFrame =
    bestOfNOf(Tables(spark, dir, "events"))

  private[graft] def bestOfNOf(events: DataFrame): DataFrame =
    bonFinish(bonHist(events))

  /** The per-(type, cents) reward histogram — PURE COUNTS, so the
    * streaming twin ([[graft.streaming.StreamJobs.bonHistStream]])
    * maintains it additively and the order-statistic finish is
    * bit-identical to batch after any split. */
  private[graft] def bonHist(events: DataFrame): DataFrame = {
    import graft.functions.Det
    events.groupBy(col("event_type"), Det.cents(col("value")).as("vc"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The E[max of n] finish both batch and stream share. */
  private[graft] def bonFinish(hist: DataFrame): DataFrame = {
    import graft.functions.Det
    import org.apache.spark.sql.expressions.Window
    val d = hist
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("event_type").orderBy("vc")))
      .withColumn("tot", sum("cnt").over(Window.partitionBy("event_type")))
    val terms = d.crossJoin(
        hist.sparkSession.createDataFrame(BonNs.map(Tuple1(_)))
          .toDF("n"))
      .select(col("event_type"), col("n"),
        Det.units((col("vc").cast("double") / 100.0)
          * (pow(col("cum").cast("double") / col("tot"), col("n"))
            - pow((col("cum") - col("cnt")).cast("double") / col("tot"),
              col("n"))), 9).as("term9"))
    terms.groupBy("event_type", "n")
      .agg(Det.rnd(sum("term9").cast("double") / 1e9, 4).as("e_max"))
      .orderBy("event_type", "n")
  }

  val bestOfNSql: String = {
    import graft.functions.Det
    s"""WITH d AS (
       |  SELECT event_type, ${Det.centsSql("value")} AS vc, count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |c AS (
       |  SELECT event_type, vc, cnt,
       |         sum(cnt) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
       |         sum(cnt) OVER (PARTITION BY event_type) AS tot
       |  FROM d),
       |t AS (
       |  SELECT event_type, n,
       |         ${Det.unitsSql(
      "(CAST(vc AS DOUBLE) / 100.0)"
        + " * (pow(CAST(cum AS DOUBLE) / tot, n)"
        + "    - pow(CAST(cum - cnt AS DOUBLE) / tot, n))", 9)} AS term9
       |  FROM c CROSS JOIN (SELECT unnest([${BonNs.mkString(", ")}]) AS n))
       |SELECT event_type, CAST(n AS INTEGER) AS n,
       |       ${Det.rndSql("CAST(sum(term9) AS DOUBLE) / 1e9", 4)} AS e_max
       |FROM t GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  private val SsrTopK = 10

  /** SUPPLIER CONCENTRATION RISK from the shipment fact table: for
    * every part, the share of its flow riding its TOP supplier (and
    * the distinct-supplier count) — the [[SsrTopK]] most-concentrated
    * parts by revenue-weighted exposure are the supply-chain
    * resilience worklist (the TPC-H partsupp-less proxy: observed
    * shippers stand in for qualified suppliers). Ranked by top-share
    * then revenue so a fully-single-sourced cheap part doesn't bury a
    * nearly-single-sourced expensive one.
    *
    * Scale shape: one groupBy(part, supplier) with map-side partials,
    * one part-partitioned max/sum rollup — all on the fact table's
    * natural keys; shares are exact integer ppm of line counts,
    * revenue exact cents. */
  def singleSourceRisk(spark: SparkSession, dir: String): DataFrame =
    singleSourceRiskOf(Tables(spark, dir, "lineitem"))

  private[graft] def singleSourceRiskOf(lineitem: DataFrame): DataFrame = {
    import graft.functions.Det
    val ps = lineitem.groupBy("l_partkey", "l_suppkey")
      .agg(count(lit(1)).as("cnt"),
        sum(Det.cents(col("l_extendedprice"))).as("revc"))
    val parts = ps.groupBy("l_partkey")
      .agg(count(lit(1)).as("nsupp"), sum("cnt").as("n_lines"),
        max("cnt").as("top_cnt"), sum("revc").as("revc"))
      .select(col("l_partkey"), col("nsupp"), col("n_lines"),
        expr("top_cnt * 1000000 div n_lines").as("top_share_ppm"),
        (col("revc").cast("double") / 100.0).as("revenue"))
    parts.orderBy(desc("top_share_ppm"), desc("revenue"), asc("l_partkey"))
      .limit(SsrTopK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("top_share_ppm"), desc("revenue"), asc("l_partkey"))))
      .select("rank", "l_partkey", "nsupp", "n_lines", "top_share_ppm",
        "revenue")
      .orderBy("rank")
  }

  val singleSourceRiskSql: String = {
    import graft.functions.Det
    s"""WITH ps AS (
       |  SELECT l_partkey, l_suppkey, count(*) AS cnt,
       |         CAST(sum(${Det.centsSql("l_extendedprice")}) AS BIGINT) AS revc
       |  FROM lineitem GROUP BY 1, 2),
       |parts AS (
       |  SELECT l_partkey, count(*) AS nsupp,
       |         CAST(sum(cnt) AS BIGINT) AS n_lines,
       |         CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT) AS top_share_ppm,
       |         CAST(sum(revc) AS DOUBLE) / 100.0 AS revenue
       |  FROM ps GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY top_share_ppm DESC, revenue DESC,
       |                               l_partkey) AS INTEGER) AS rank,
       |       l_partkey, nsupp, n_lines, top_share_ppm, revenue
       |FROM parts
       |ORDER BY top_share_ppm DESC, revenue DESC, l_partkey
       |LIMIT $SsrTopK""".stripMargin
  }
}
