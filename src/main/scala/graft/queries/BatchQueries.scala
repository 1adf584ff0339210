package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Det

/** Batch relational surface of the reference (`Part_A_Q1.py`): scans,
  * projection/filter/regex/cast, dedup, joins, grouped aggregation,
  * z-score outliers, histograms, summary stats, top-k.
  *
  * Re-expressed Spark-first: every query is a single lazy DataFrame
  * expression — Catalyst pushes filters/prunes columns into the parquet
  * scan, picks broadcast-hash joins for the small dimensions, plans
  * partial+final hash aggregation and `TakeOrderedAndProject` for the
  * top-k patterns. At 100 TB the same plans hold: fact-fact joins
  * shuffle on their keys (sort-merge + AQE), dims stay broadcast.
  *
  * Determinism for the DuckDB oracle: every output is explicitly
  * ordered with unique tiebreakers, doubles are rounded, and
  * `stddev_samp` is used wherever the reference uses pandas `.std()`
  * (ddof=1). See FIXTURES.md determinism rules.
  */
object BatchQueries {

  /** M0 spine — ratings⋈books → groupBy → count → sort desc → head(k)
    * (reference `Part_A_Q1.py:49-78`): top-20 customers by lineitem
    * count through the orders join. Catalyst plans sort-merge on the
    * two fact tables (both huge at scale) and TakeOrderedAndProject
    * for the limit — no full sort, no driver collect. */
  def topkGroupCount(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables(spark, dir, "lineitem")
    val orders   = Tables(spark, dir, "orders")
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("o_custkey"))
      .limit(20)
  }

  val topkGroupCountSql: String =
    """SELECT o_custkey, count(*) AS cnt
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_custkey
      |ORDER BY cnt DESC, o_custkey ASC
      |LIMIT 20""".stripMargin

  /** Projection + strict range predicate (reference `Part_A_Q1.py:38-39`
    * keeps 15 < age < 80 STRICT; here c_acctbal plays age). Both the
    * filter and the 3-column projection reach the parquet scan
    * (PushedFilters / ReadSchema). */
  def projectFilter(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
      .filter(col("c_acctbal") > 1000.0 && col("c_acctbal") < 4000.0)
      .withColumn("c_acctbal", round(col("c_acctbal"), 2))
      .orderBy("c_custkey")

  val projectFilterSql: String =
    """SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
      |FROM customer
      |WHERE c_acctbal > 1000.0 AND c_acctbal < 4000.0
      |ORDER BY c_custkey""".stripMargin

  /** Regex validate + extract + cast (reference ISBN/year cleaning,
    * `Part_A_Q1.py:21-25`): keep parts whose name matches the shape
    * regex, extract the brand number and cast to int, range-filter the
    * casted value (`Part_A_Q1.py:28-29`). */
  def regexFilterCast(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "part")
      .filter(col("p_name").rlike("^\\w+ widget$"))
      .withColumn("brand_num",
        regexp_extract(col("p_brand"), "^Brand#(\\d+)$", 1).cast("int"))
      .filter(col("brand_num") >= 5 && col("brand_num") <= 40)
      .select("p_partkey", "p_name", "brand_num", "p_size")
      .orderBy("p_partkey")

  val regexFilterCastSql: String =
    """SELECT p_partkey, p_name,
      |       CAST(regexp_extract(p_brand, '^Brand#(\d+)$', 1) AS INTEGER) AS brand_num,
      |       p_size
      |FROM part
      |WHERE regexp_matches(p_name, '^\w+ widget$')
      |  AND CAST(regexp_extract(p_brand, '^Brand#(\d+)$', 1) AS INTEGER) BETWEEN 5 AND 40
      |ORDER BY p_partkey""".stripMargin

  /** Dedup by key (reference `drop_duplicates(subset="User-ID")`,
    * `Part_A_Q1.py:47`) with a DETERMINISTIC survivor (min o_orderkey
    * per customer) so the oracle can reproduce it — pandas keeps
    * "first", which has no stable meaning in a distributed engine.
    * Window + row_number is the scalable form: one shuffle on the
    * dedup key, no driver state. */
  def dedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    Tables(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_orderstatus")
      .orderBy("o_custkey")
  }

  val dedupSql: String =
    """SELECT o_custkey, o_orderkey, o_orderstatus
      |FROM (SELECT o_custkey, o_orderkey, o_orderstatus,
      |             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      |      FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  /** Z-score outliers (reference `Part_A_Q1.py:54-61`): global
    * mean/stddev_samp of o_totalprice, keep |z| > 1.5 (o_totalprice is
    * near-uniform — max |z| ≈ 1.73 — so the reference's 3σ cut would
    * select nothing; 1.5 keeps the operator observable). The stats come
    * from a 1-row aggregate cross-joined back (broadcast) — no second
    * scan shuffle, no collect; the pattern is identical at 100 TB. */
  def zscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val stats = orders.agg(
      avg("o_totalprice").as("m"),
      stddev_samp("o_totalprice").as("sd"))
    orders.crossJoin(broadcast(stats))
      .withColumn("z", (col("o_totalprice") - col("m")) / col("sd"))
      .filter(abs(col("z")) > 1.5)
      .select(col("o_orderkey"), round(col("z"), 4).as("z"))
      .orderBy("o_orderkey")
  }

  val zscoreOutliersSql: String =
    """WITH s AS (SELECT avg(o_totalprice) AS m, stddev_samp(o_totalprice) AS sd FROM orders)
      |SELECT o_orderkey, round((o_totalprice - m) / sd, 4) AS z
      |FROM orders, s
      |WHERE abs((o_totalprice - m) / sd) > 1.5
      |ORDER BY o_orderkey""".stripMargin

  /** Fixed-width histogram (reference `hist(...)`, `Part_A_Q1.py:34`):
    * bin o_totalprice by 25k, count per bin. A groupBy on the bin
    * expression — partial aggregation makes this one narrow shuffle of
    * at most #bins rows per task regardless of input size. */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(floor(col("o_totalprice") / 25000.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bin")

  val histogramSql: String =
    """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin, count(*) AS cnt
      |FROM orders
      |GROUP BY 1
      |ORDER BY bin""".stripMargin

  /** Summary stats (reference `describe()`, `Part_A_Q1.py:14-16`):
    * count/mean/std/min/max for the two main lineitem measures, one
    * row per column. Exact (no approx percentiles) so the oracle
    * matches bit-for-bit after rounding. */
  def summaryStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    // means go through exact integer units ([[Det]]): l_quantity is
    // integral, l_extendedprice is 2-dp money — both sum exactly. std is
    // left as stddev_samp+round: its true value is non-terminating, so
    // round-half ambiguity has measure zero.
    def statsOf(c: String, mean: org.apache.spark.sql.Column): DataFrame =
      li.agg(
        lit(c).as("col_name"),
        count(col(c)).as("cnt"),
        mean.as("mean"),
        round(stddev_samp(col(c)), 4).as("std"),
        round(min(col(c)), 4).as("min"),
        // exact percentiles (describe's 25/50/75): both engines use
        // linear interpolation, and frac ∈ {.25,.5,.75} lands 2-dp
        // inputs exactly on the 4-decimal grid → rounding is safe
        round(expr(s"percentile($c, 0.25)"), 4).as("p25"),
        round(expr(s"percentile($c, 0.5)"), 4).as("p50"),
        round(expr(s"percentile($c, 0.75)"), 4).as("p75"),
        round(max(col(c)), 4).as("max"))
        .select("col_name", "cnt", "mean", "std", "min", "p25", "p50", "p75", "max")
    statsOf("l_quantity",
        Det.rnd(sum("l_quantity") / count(col("l_quantity")), 4))
      .unionAll(statsOf("l_extendedprice", Det.moneyAvg(col("l_extendedprice"), 4)))
      .orderBy("col_name")
  }

  val summaryStatsSql: String =
    s"""SELECT * FROM (
       |  SELECT 'l_quantity' AS col_name, count(l_quantity) AS cnt,
       |         ${Det.rndSql("sum(l_quantity) / count(l_quantity)", 4)} AS mean,
       |         round(stddev_samp(l_quantity), 4) AS std,
       |         round(min(l_quantity), 4) AS min,
       |         round(quantile_cont(l_quantity, 0.25), 4) AS p25,
       |         round(quantile_cont(l_quantity, 0.5), 4) AS p50,
       |         round(quantile_cont(l_quantity, 0.75), 4) AS p75,
       |         round(max(l_quantity), 4) AS max
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'l_extendedprice', count(l_extendedprice),
       |         ${Det.moneyAvgSql("l_extendedprice", 4)},
       |         round(stddev_samp(l_extendedprice), 4),
       |         round(min(l_extendedprice), 4),
       |         round(quantile_cont(l_extendedprice, 0.25), 4),
       |         round(quantile_cont(l_extendedprice, 0.5), 4),
       |         round(quantile_cont(l_extendedprice, 0.75), 4),
       |         round(max(l_extendedprice), 4)
       |  FROM lineitem)
       |ORDER BY col_name""".stripMargin

  /** Inner equi-join + group count (reference ratings⋈books →
    * groupby(ISBN).count(), `Part_A_Q1.py:49-50`). `part` is a true
    * dimension: broadcast-hint it so the fact table never shuffles. */
  def joinGroupCount(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables(spark, dir, "lineitem")
    val part     = Tables(spark, dir, "part")
    lineitem
      .join(broadcast(part), lineitem("l_partkey") === part("p_partkey"))
      .groupBy("p_brand")
      // l_quantity is integral → the double sum is exact regardless of
      // order; explicit half-up division keeps both engines identical.
      .agg(count(lit(1)).as("cnt"),
        Det.rnd(sum("l_quantity") / count(col("l_quantity")), 4).as("avg_qty"))
      .orderBy("p_brand")
  }

  /** LEFT ANTI join — the unique-content census: documents whose
    * normalized fingerprint appears EXACTLY once, extracted with an
    * explicit `left_anti` against the duplicated-fingerprint set and
    * rolled up per source. This is the complement-set join the dedup
    * family needs ("everything NOT in the blocklist/dup set"), as the
    * plan Spark ships for it: one hash join that EMITS non-matches —
    * strictly cheaper than outer-join-then-IS NULL, which
    * materializes every match just to discard it. Oracled as NOT
    * EXISTS, DuckDB's anti-join spelling.
    *
    * Scale: the anti join shuffles (or broadcasts, AQE's call — the
    * dup-fp set is duplicate-bounded, usually tiny) exactly like the
    * inner equi-join on the same key — no new shuffle class; the
    * rollup is source-sized. Determinism: md5 + integer counting. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .withColumn("fp",
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
    val dupFps = docs.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("fp")
    docs.join(dupFps, Seq("fp"), "left_anti")
      .groupBy("source")
      .agg(count(lit(1)).as("n_unique"), sum("n_chars").as("unique_chars"))
      .orderBy("source")
  }

  val antiJoinSql: String =
    """WITH d AS (SELECT source, n_chars,
      |                  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |           FROM documents),
      |dup AS (SELECT fp FROM d GROUP BY fp HAVING count(*) > 1)
      |SELECT source, count(*) AS n_unique,
      |       CAST(sum(n_chars) AS BIGINT) AS unique_chars
      |FROM d
      |WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.fp = d.fp)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  val joinGroupCountSql: String =
    s"""SELECT p_brand, count(*) AS cnt,
       |       ${Det.rndSql("sum(l_quantity) / count(l_quantity)", 4)} AS avg_qty
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin

  /** Multi-hop join + aggregation by dimension (reference
    * ratings⋈users → groupby(Age), `Part_A_Q1.py:80-86`): revenue by
    * nation through lineitem⋈orders⋈customer⋈nation. nation is tiny →
    * broadcast; lineitem⋈orders is the real fact-fact shuffle and
    * orders⋈customer co-partitions on custkey. Revenue is summed in
    * EXACT integer ten-thousandths (2dp price × 2dp discount
    * complement) and half-up-rounded to cents in integer space — the
    * float-sum-then-round form is order-dependent and can flip the
    * cent between engines when a group total lands on a x.xx5
    * boundary (the Det.scala divergence class). */
  def joinAggByDim(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables(spark, dir, "lineitem")
    val orders   = Tables(spark, dir, "orders")
    val customer = Tables(spark, dir, "customer")
    val nation   = Tables(spark, dir, "nation")
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("cnt"),
        // exact integer ten-thousandths (price 2dp × discount-complement
        // 2dp), summed exactly and half-up-rounded IN INTEGER SPACE —
        // the float-sum form can land within summation noise of a
        // x.xx5 boundary and flip the cent between engines
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
          " * (100 - CAST(round(l_discount * 100) AS BIGINT))")).as("units"))
      .select(col("n_name"), col("cnt"),
        (expr("(units + 50) div 100").cast("double") / 100.0).as("revenue"))
      .orderBy("n_name")
  }

  val joinAggByDimSql: String =
    """SELECT n_name, count(*) AS cnt,
      |       CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) // 100 AS DOUBLE)
      |         / 100.0 AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** CSV sink + scan round-trip (reference S1/S2/S4: `;`-separated,
    * header, `Part_A_Q1.py:11-13`, `Part_A_Q2.py:64-71`). Writes
    * customer to `;`-CSV with an explicit schema read-back (never
    * inferSchema — determinism), DROPMALFORMED mode replicating
    * `error_bad_lines=False`, then aggregates the round-tripped rows.
    * Java's shortest-round-trip double formatting makes the write→read
    * cycle lossless. Both sides pin `encoding=ISO-8859-1` — the
    * reference reads latin-1 CSVs (`Part_A_Q1.py:11-13`,
    * `Part_A_Q2.py:75`); the driver corpus is ASCII-safe so the
    * latin-1 write→read cycle stays byte-identical while exercising
    * the last scan option of the reference surface. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"${Tables.scratchDir}/csv_roundtrip_customer"
    Tables(spark, dir, "customer")
      .write.mode("overwrite")
      .option("header", "true").option("sep", ";")
      .option("encoding", "ISO-8859-1")
      .csv(path)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    spark.read
      .option("header", "true").option("sep", ";")
      .option("mode", "DROPMALFORMED")
      .option("encoding", "ISO-8859-1")
      .schema(schema)
      .csv(path)
      .drop("c_nationkey") // P2 column drop (reference `del df[...]`, Part_A_Q1.py:69)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), Det.moneySum(col("c_acctbal")).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  val csvRoundtripSql: String =
    s"""SELECT c_mktsegment, count(*) AS cnt, ${Det.moneySumSql("c_acctbal")} AS total_bal
       |FROM customer
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** JSON-lines sink + scan round-trip with a NESTED struct payload —
    * the row-format twin of the CSV path exercising what CSV cannot:
    * a struct column written as a JSON object and read back through
    * an explicit nested schema (schema-on-read, `DROPMALFORMED`), the
    * shape of every log-shipping pipeline. The aggregate after
    * write→read must equal the direct-table aggregate (data
    * preservation is the verified property; DuckDB replays the flat
    * aggregate). `o_orderdate` is deliberately excluded: JSON
    * timestamp rendering is format-option territory, and the
    * streaming surface (`q_json_extract`) already covers timestamp
    * JSON parsing.
    *
    * Scale: sink + scan are both parallel (one file per partition, no
    * driver funnel); doubles survive the trip exactly (Spark writes
    * shortest-round-trip literals). Determinism: exact-cents money
    * sum. */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"${Tables.scratchDir}/json_roundtrip_orders"
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"),
        struct(col("o_custkey").as("id"), col("o_totalprice").as("price")).as("cust"),
        col("o_orderstatus"))
      .write.mode("overwrite")
      .json(path)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("cust", StructType(Seq(
        StructField("id", LongType),
        StructField("price", DoubleType)))),
      StructField("o_orderstatus", StringType)))
    spark.read
      .option("mode", "DROPMALFORMED")
      .schema(schema)
      .json(path)
      .select(col("o_orderstatus"), col("cust.price").as("price"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), Det.moneySum(col("price")).as("total_price"))
      .orderBy("o_orderstatus")
  }

  val jsonRoundtripSql: String =
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |       ${Det.moneySumSql("o_totalprice")} AS total_price
       |FROM orders
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** ORC sink + scan round-trip — the second columnar format of the
    * source surface (ORC ships in Spark core; the lakehouse twin of
    * the parquet path). Written with ZSTD compression and read back
    * through a FILTERED scan so the oracle additionally witnesses ORC
    * predicate pushdown (the filter reaches the ORC reader as a
    * search argument; `.explain` shows `PushedFilters`). ORC⇄Spark
    * type mapping is exact for the long/double/string columns used, so
    * the round-trip is lossless and the aggregate matches the
    * parquet-sourced oracle bit-for-bit. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${Tables.scratchDir}/orc_roundtrip_orders"
    Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
      .write.mode("overwrite")
      .option("compression", "zstd")
      .orc(path)
    spark.read.orc(path)
      .filter(col("o_totalprice") > 1000.0) // pushed to the ORC reader
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), Det.moneySum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
  }

  val orcRoundtripSql: String =
    s"""SELECT o_orderpriority, count(*) AS cnt, ${Det.moneySumSql("o_totalprice")} AS total_price
       |FROM orders
       |WHERE o_totalprice > 1000.0
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Schema-evolution scan — the lakehouse reality that a table's
    * files were written over months by different pipeline versions: an
    * OLD generation without a column and a NEW generation with it must
    * read back as ONE table (`mergeSchema=true` — per-file footers
    * reconciled by name, missing columns null-filled). Generations are
    * split by a deterministic key predicate so the oracle can replay
    * the layout on the source table with a CASE — and the aggregate
    * does per-generation null accounting over the evolved column, the
    * audit a migration runs to see backfill coverage.
    *
    * Scale note: schema merge reads every file FOOTER up front
    * (`mergeSchema` is a read-option cost, not a scan cost); at 100 TB
    * you set it per-evolved-table, not globally, and compact old
    * generations forward. Column pruning and predicate pushdown still
    * reach both generations' scans. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${Tables.scratchDir}/schema_evolution_orders"
    val orders = Tables(spark, dir, "orders")
    // gen1: even order keys, BEFORE o_orderpriority existed
    orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$path/gen=1")
    // gen2: odd order keys, with the evolved column
    orders.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$path/gen=2")
    spark.read.option("mergeSchema", "true").parquet(path)
      .groupBy("gen")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("o_orderpriority").isNull.cast("long")).as("n_missing_priority"),
        countDistinct("o_orderpriority").as("n_priorities"),
        Det.moneySum(col("o_totalprice")).as("total_price"))
      .orderBy("gen")
  }

  val schemaEvolutionSql: String =
    s"""SELECT CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS gen,
       |       count(*) AS cnt,
       |       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_priority,
       |       count(DISTINCT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS n_priorities,
       |       ${Det.moneySumSql("o_totalprice")} AS total_price
       |FROM orders
       |GROUP BY 1
       |ORDER BY gen""".stripMargin

  /** XML sink + scan round-trip — Spark 4's built-in XML data source
    * (the spark-xml module merged into core), exercising the
    * row-tag/schema machinery on the small nation dim: write 25 rows
    * as an XML document tree, read back with an explicit schema (no
    * inference — determinism), join to region and aggregate. */
  def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"${Tables.scratchDir}/xml_roundtrip_nation"
    Tables(spark, dir, "nation")
      .write.mode("overwrite")
      .option("rootTag", "nations").option("rowTag", "nation")
      .format("xml").save(path)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    val nation = spark.read
      .option("rowTag", "nation")
      .schema(schema)
      .format("xml").load(path)
    val region = Tables(spark, dir, "region")
    nation.join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"),
        min("n_name").as("first_nation"))
      .orderBy("r_name")
  }

  val xmlRoundtripSql: String =
    """SELECT r_name, count(*) AS n_nations, min(n_name) AS first_nation
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** DDL + catalog round-trip (reference MySQL `CREATE TABLE` + load,
    * `Part_A_Q2.py:16-61`): persist nation⋈region as a managed-path
    * parquet table in the session catalog, then query it back. PK/FK
    * are informational in Spark — the dedup/join queries carry the
    * constraint semantics. */
  def ddlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables(spark, dir, "nation")
    val region = Tables(spark, dir, "region")
    nation
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .select("n_nationkey", "n_name", "r_name")
      .write.mode("overwrite")
      .option("path", s"${Tables.scratchDir}/warehouse/graft_nation_region")
      .saveAsTable("graft_nation_region")
    spark.table("graft_nation_region")
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"))
      .orderBy("r_name")
  }

  val ddlRoundtripSql: String =
    """SELECT r_name, count(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** S3 (JDBC writer/reader leg) — SQL-database round-trip (reference
    * MySQL DDL + row inserts + read-back, `Part_A_Q2.py:16-61`):
    * `df.write.jdbc` runs the real JDBC write path — dialect-generated
    * DDL plus batched partition-parallel INSERTs — against embedded
    * Derby (shipped in the Spark distribution, so it works offline),
    * `spark.read.jdbc` loads the table back, and the aggregate over
    * the round-tripped rows is oracled directly against the source
    * parquet. Against a production RDBMS only the URL changes;
    * `numPartitions`/`batchsize` bound insert parallelism. The
    * round-tripped frame is an AGGREGATE (one row per priority), not
    * the fact table — at 100 TB the JDBC sink is for serving-layer
    * summaries; bulk facts stay columnar. */
  def jdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    System.setProperty("derby.stream.error.file", s"${Tables.scratchDir}/derby.log")
    val url = "jdbc:derby:memory:graftdb;create=true"
    val props = new java.util.Properties
    Tables(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), Det.moneySum(col("o_totalprice")).as("total_price"))
      .write.mode("overwrite").jdbc(url, "orders_summary", props)
    spark.read.jdbc(url, "orders_summary", props)
      .orderBy("o_orderpriority")
  }

  val jdbcRoundtripSql: String =
    s"""SELECT o_orderpriority, count(*) AS n_orders, ${Det.moneySumSql("o_totalprice")} AS total_price
       |FROM orders
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Partition pruning (the scan-elimination lever for predicate-heavy
    * workloads): events persisted once partitioned by `event_type`
    * (hive-style directory layout), then a single-type query reads
    * ONLY that partition's files — `.explain` shows the predicate
    * under `PartitionFilters` with the other partitions never listed,
    * let alone scanned. At 100 TB this is the difference between
    * touching 1/k of the data and all of it; the partition column
    * should be low-cardinality and filter-aligned (event_type here;
    * date is the classic choice for time-series). Oracled against the
    * plain filtered aggregate — the layout must not change results.
    * The write is one-time per corpus dir (same guard as
    * [[ExtensionQueries.bucketedJoin]]); steady-state runs only read. */
  def partitionedScan(spark: SparkSession, dir: String): DataFrame =
    eventsByType(spark, dir)
      .filter(col("event_type") === "purchase")
      .agg(
        count(lit(1)).as("n_events"),
        Det.moneySum(col("value")).as("total_value"),
        countDistinct("user_id").as("n_users"))

  /** The events copy partitioned by `event_type` that [[partitionedScan]]
    * and [[dppPrune]] read, written once per corpus dir. */
  private def eventsByType(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${Tables.scratchDir}/events_by_type"
    if (spark.conf.getOption("graft.partitioned.dir").forall(_ != dir)) {
      Tables(spark, dir, "events")
        .write.mode("overwrite").partitionBy("event_type").parquet(path)
      spark.conf.set("graft.partitioned.dir", dir)
    }
    spark.read.parquet(path)
  }

  val partitionedScanSql: String =
    s"""SELECT count(*) AS n_events, ${Det.moneySumSql("value")} AS total_value,
       |       count(DISTINCT user_id) AS n_users
       |FROM events
       |WHERE event_type = 'purchase'""".stripMargin

  /** Star-schema join (the TPC-H Q5 shape): revenue by nation for one
    * region and a two-year order window, with the LOCAL-SUPPLIER
    * correlation (c_nationkey = s_nationkey) that makes Q5 the classic
    * optimizer benchmark — the customer-side and supplier-side
    * nationkeys meet only after both fact joins.
    *
    * Scale shape: region (1 row after the filter) and nation (25) are
    * broadcast — they never shuffle; the date filter is pushed into
    * the orders scan so the two fact-fact shuffles (lineitem⋈orders on
    * orderkey, then ⋈customer on custkey) run on the pre-filtered ~30%
    * of orders; supplier joins on suppkey with the nationkey equality
    * as a post-join residual, exactly where a distributed planner
    * wants it (it is not an equi-key until both sides carry nations).
    * Revenue uses the exact integer ten-thousandths convention of
    * [[joinAggByDim]] — order-independent, cross-engine cent-exact. */
  def starJoin(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables(spark, dir, "lineitem")
    val orders   = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val customer = Tables(spark, dir, "customer")
    val supplier = Tables(spark, dir, "supplier")
    val nation   = Tables(spark, dir, "nation")
    val region   = Tables(spark, dir, "region").filter(col("r_name") === "ASIA")
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(supplier, lineitem("l_suppkey") === supplier("s_suppkey") &&
        customer("c_nationkey") === supplier("s_nationkey"))
      .join(broadcast(nation), supplier("s_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("cnt"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
          " * (100 - CAST(round(l_discount * 100) AS BIGINT))")).as("units"))
      .select(col("n_name"), col("cnt"),
        (expr("(units + 50) div 100").cast("double") / 100.0).as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  val starJoinSql: String =
    """SELECT n_name, count(*) AS cnt,
      |       CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) // 100 AS DOUBLE)
      |         / 100.0 AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name ASC""".stripMargin

  /** TPC-H Q1 (pricing summary report), faithful aggregate set: per
    * (returnflag, linestatus) over shipped-by-cutoff rows — sum qty,
    * base price, discounted price extprice·(1−disc), charge
    * extprice·(1−disc)·(1+tax), the three averages, and the row
    * count. The canonical one-pass scan-heavy aggregation every
    * engine benchmarks first.
    *
    * Exactness: all money flows as integer ten-thousandth/millionth
    * units — cents × (100−disc%) and cents × (100−disc%) × (100+tax%)
    * — summed as DECIMAL(38,0) (a 100 TB row count would overflow
    * BIGINT's 9.2e18 at the charge width: 1e11/row × 1e10 rows), then
    * ONE half-up division at output. Averages divide two exact
    * integers. The date cutoff prunes at the scan. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    pricingSummaryOf(Tables(spark, dir, "lineitem"))

  private[graft] def pricingSummaryOf(lineitem: DataFrame): DataFrame = {
    val cents = expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    val disc = expr("100 - CAST(round(l_discount * 100) AS BIGINT)")
    val tax = expr("100 + CAST(round(l_tax * 100) AS BIGINT)")
    lineitem
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents).as("base_cents"),
        sum((cents * disc).cast("decimal(38,0)")).as("disc_units"),
        sum((cents * disc * tax).cast("decimal(38,0)")).as("charge_units"),
        sum(expr("CAST(round(l_discount * 100) AS BIGINT)")).as("disc_pct_sum"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        (col("base_cents").cast("double") / 100.0).as("sum_base_price"),
        ((col("disc_units") + 50).cast("decimal(38,0)") / 100).cast("long")
          .cast("double").divide(100.0).as("sum_disc_price"),
        ((col("charge_units") + 5000).cast("decimal(38,0)") / 10000).cast("long")
          .cast("double").divide(100.0).as("sum_charge"),
        Det.rnd(col("sum_qty").cast("double") / col("count_order"), 6).as("avg_qty"),
        Det.rnd(col("base_cents").cast("double") / (col("count_order") * 100), 6)
          .as("avg_price"),
        Det.rnd(col("disc_pct_sum").cast("double") / (col("count_order") * 100), 6)
          .as("avg_disc"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val pricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       |       CAST(sum(c) AS DOUBLE) / 100.0 AS sum_base_price,
       |       CAST(CAST((sum(CAST(c * d AS HUGEINT)) + 50) // 100 AS BIGINT) AS DOUBLE)
       |         / 100.0 AS sum_disc_price,
       |       CAST(CAST((sum(CAST(c * d * t AS HUGEINT)) + 5000) // 10000 AS BIGINT) AS DOUBLE)
       |         / 100.0 AS sum_charge,
       |       ${Det.rndSql("CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*)", 6)} AS avg_qty,
       |       ${Det.rndSql("CAST(sum(c) AS DOUBLE) / (count(*) * 100)", 6)} AS avg_price,
       |       ${Det.rndSql("CAST(sum(dp) AS DOUBLE) / (count(*) * 100)", 6)} AS avg_disc,
       |       count(*) AS count_order
       |FROM (SELECT l_returnflag, l_linestatus, l_quantity,
       |             CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
       |             100 - CAST(round(l_discount * 100) AS BIGINT) AS d,
       |             100 + CAST(round(l_tax * 100) AS BIGINT) AS t,
       |             CAST(round(l_discount * 100) AS BIGINT) AS dp
       |      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01')
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 (shipping priority, adapted to this schema's
    * `o_orderpriority`): the 10 highest-revenue orders in the BUILDING
    * segment that were placed before the cutoff date but still have
    * line items shipping after it — the "booked but not yet fully
    * shipped" backlog a fulfilment planner drains first.
    *
    * Scale shape: the customer⨝orders join shuffles on custkey, the
    * orders⨝lineitem join on orderkey — both equi-joins Catalyst plans
    * as sort-merge (AQE may elect broadcast for the filtered customer
    * side). The segment filter and both date predicates reach the
    * parquet scans as pushed filters; the final top-10 is a
    * `TakeOrderedAndProject` (per-partition heap, no global sort).
    * Revenue is summed in integer 1/10000-dollar units (cents ×
    * residual-discount-pct) inside `decimal(38,0)` so partitioning
    * never reorders a float sum, then rounded half-up to cents. */
  def tpchQ3(spark: SparkSession, dir: String): DataFrame =
    tpchQ3Of(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"),
      Tables(spark, dir, "lineitem"))

  private[graft] def tpchQ3Of(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val cut = lit("1998-06-15").cast("timestamp")
    val units = expr(
      "CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))")
    customer.filter(col("c_mktsegment") === "BUILDING")
      .join(orders.filter(col("o_orderdate") < cut),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem.filter(col("l_shipdate") > cut),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(units.cast("decimal(38,0)")).as("units"))
      .select(col("l_orderkey"),
        (((col("units") + 50).cast("decimal(38,0)") / 100).cast("long")
          .cast("double") / 100.0).as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
      .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
      .limit(10)
  }

  val tpchQ3Sql: String =
    """SELECT l_orderkey,
      |       CAST(CAST((sum(CAST(u AS HUGEINT)) + 50) // 100 AS BIGINT) AS DOUBLE)
      |         / 100.0 AS revenue,
      |       o_orderdate, o_orderpriority
      |FROM (SELECT l_orderkey, o_orderdate, o_orderpriority,
      |             CAST(round(l_extendedprice * 100) AS BIGINT)
      |               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
      |      FROM customer, orders, lineitem
      |      WHERE c_mktsegment = 'BUILDING'
      |        AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |        AND o_orderdate < TIMESTAMP '1998-06-15'
      |        AND l_shipdate > TIMESTAMP '1998-06-15')
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5 (local supplier volume): revenue per nation from orders
    * where the customer and the line's supplier share that nation,
    * restricted to one region and one order year — the classic
    * "how much commerce stays domestic" rollup.
    *
    * Scale shape: nation⨝region collapses to a broadcast list of
    * regional nationkeys; customer and supplier join the fact chain on
    * their own keys (shuffles on custkey / suppkey / orderkey — the
    * unavoidable fact-side exchanges); the `c_nationkey = s_nationkey`
    * locality predicate is applied as a post-join filter so it never
    * forces a theta-join. One final nation-count-sized aggregation. */
  def tpchQ5(spark: SparkSession, dir: String): DataFrame =
    tpchQ5Of(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"),
      Tables(spark, dir, "lineitem"), Tables(spark, dir, "supplier"),
      Tables(spark, dir, "nation"), Tables(spark, dir, "region"))

  private[graft] def tpchQ5Of(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      supplier: DataFrame, nation: DataFrame, region: DataFrame): DataFrame = {
    val regionalNations = nation.join(
        broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val units = expr(
      "CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))")
    orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(regionalNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(units.cast("decimal(38,0)")).as("units"))
      .select(col("n_name"),
        (((col("units") + 50).cast("decimal(38,0)") / 100).cast("long")
          .cast("double") / 100.0).as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  val tpchQ5Sql: String =
    """SELECT n_name,
      |       CAST(CAST((sum(CAST(u AS HUGEINT)) + 50) // 100 AS BIGINT) AS DOUBLE)
      |         / 100.0 AS revenue
      |FROM (SELECT n_name,
      |             CAST(round(l_extendedprice * 100) AS BIGINT)
      |               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
      |      FROM customer, orders, lineitem, supplier, nation, region
      |      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |        AND r_name = 'ASIA'
      |        AND o_orderdate >= TIMESTAMP '1996-01-01'
      |        AND o_orderdate < TIMESTAMP '1997-01-01')
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q6 (forecast revenue change): the discount revenue that
    * would be recovered by eliminating mid-band discounts on
    * small-quantity lines shipped in one year — a single filtered
    * scan-and-sum with no join at all.
    *
    * Scale shape: all four predicates push into the parquet scan
    * (shipdate range prunes row groups via min/max stats); the sum
    * rides integer 1/10000-dollar units through the partial+final
    * aggregate, so the answer is bit-identical under any
    * partitioning. The discount band compares against the exact
    * hundredth via `round(×100)` — no float-literal epsilon games. */
  def tpchQ6(spark: SparkSession, dir: String): DataFrame =
    tpchQ6Of(Tables(spark, dir, "lineitem"))

  private[graft] def tpchQ6Of(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        expr("CAST(round(l_discount * 100) AS BIGINT)").between(5, 7) &&
        col("l_quantity") < 24)
      .agg(sum(expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT)" +
          " * CAST(round(l_discount * 100) AS BIGINT)").cast("decimal(38,0)"))
        .as("units"))
      .select(
        (((col("units") + 50).cast("decimal(38,0)") / 100).cast("long")
          .cast("double") / 100.0).as("revenue"))

  val tpchQ6Sql: String =
    """SELECT CAST(CAST((sum(CAST(u AS HUGEINT)) + 50) // 100 AS BIGINT) AS DOUBLE)
      |         / 100.0 AS revenue
      |FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
      |               * CAST(round(l_discount * 100) AS BIGINT) AS u
      |      FROM lineitem
      |      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |        AND l_shipdate < TIMESTAMP '1997-01-01'
      |        AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      |        AND l_quantity < 24)""".stripMargin

  private val Q18MinQty = 200L

  /** TPC-H Q18 (large-volume customers): the top-100 orders whose
    * total line quantity exceeds [[Q18MinQty]], with their customer —
    * the classic group-by-HAVING semi-join pattern.
    *
    * Scale shape: the HAVING aggregate runs FIRST on lineitem alone
    * (map-side partial sums on the already-clustered orderkey), and
    * only qualifying orderkeys — a tiny fraction of orders — flow
    * into the joins; at 100 TB, AQE sees the filtered cardinality at
    * runtime and broadcasts the survivor side into orders/customer
    * rather than shuffling the full fact chain. Quantities are
    * integral doubles summed as exact longs; the final cut is
    * TakeOrderedAndProject on (o_totalprice desc, o_orderdate,
    * o_orderkey) with the orderkey tiebreak pinning cross-engine
    * order. */
  def tpchQ18(spark: SparkSession, dir: String): DataFrame =
    tpchQ18Of(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"),
      Tables(spark, dir, "lineitem"))

  private[graft] def tpchQ18Of(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val bigOrders = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > Q18MinQty)
    orders.join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderdate"), asc("o_orderkey"))
      .limit(100)
  }

  val tpchQ18Sql: String =
    s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
       |FROM (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
       |      FROM lineitem GROUP BY 1
       |      HAVING sum(CAST(l_quantity AS BIGINT)) > $Q18MinQty) b
       |JOIN orders ON o_orderkey = b.l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
       |LIMIT 100""".stripMargin

  /** TPC-H Q4 (order-priority checking, adapted: "late" = a line item
    * shipped more than 90 days after the order date, since this
    * schema carries no commit/receipt dates): per priority, how many
    * orders placed in one quarter had at least one late line — the
    * classic correlated-EXISTS semi-join.
    *
    * Scale shape: the quarter filter prunes the orders scan to ~1/28
    * of row groups before any join; the EXISTS plans as a LEFT SEMI
    * join on orderkey (first match short-circuits — no line fan-out,
    * no dedup), with the correlated date predicate evaluated inside
    * the join. Output is priority-cardinality-sized. */
  def tpchQ4(spark: SparkSession, dir: String): DataFrame =
    tpchQ4Of(Tables(spark, dir, "orders"), Tables(spark, dir, "lineitem"))

  private[graft] def tpchQ4Of(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .join(lineitem,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  val tpchQ4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q14 (promotion effect): the share of one month's revenue
    * earned by PROMO-type parts — a single conditional aggregation
    * over the lineitem⨝part join.
    *
    * Scale shape: the shipdate range prunes the lineitem scan via
    * row-group stats; part joins on its key (AQE broadcasts the
    * 2-column part projection when it fits, shuffles otherwise); the
    * CASE rides the same integer 1/10000-dollar units as every other
    * revenue query, so numerator and denominator are exact and the
    * one division is fenced. */
  def tpchQ14(spark: SparkSession, dir: String): DataFrame =
    tpchQ14Of(Tables(spark, dir, "lineitem"), Tables(spark, dir, "part"))

  private[graft] def tpchQ14Of(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val units = expr(
      "CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))")
    lineitem
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .join(part.select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", units).otherwise(0L)
          .cast("decimal(38,0)")).as("promo_units"),
        sum(units.cast("decimal(38,0)")).as("all_units"))
      .select(
        Det.rnd(col("promo_units").cast("double") * 100.0
          / col("all_units").cast("double"), 6).as("promo_revenue_pct"),
        (((col("all_units") + 50).cast("decimal(38,0)") / 100).cast("long")
          .cast("double") / 100.0).as("total_revenue"))
  }

  val tpchQ14Sql: String =
    s"""SELECT ${Det.rndSql(
          "CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(u AS HUGEINT) ELSE 0 END) AS DOUBLE)" +
            " * 100.0 / CAST(sum(CAST(u AS HUGEINT)) AS DOUBLE)", 6)}
       |         AS promo_revenue_pct,
       |       CAST(CAST((sum(CAST(u AS HUGEINT)) + 50) // 100 AS BIGINT) AS DOUBLE)
       |         / 100.0 AS total_revenue
       |FROM (SELECT p_type,
       |             CAST(round(l_extendedprice * 100) AS BIGINT)
       |               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
       |      FROM lineitem JOIN part ON l_partkey = p_partkey
       |      WHERE l_shipdate >= TIMESTAMP '1996-09-01'
       |        AND l_shipdate < TIMESTAMP '1996-10-01')""".stripMargin

  /** TPC-H Q22 (global sales opportunity, adapted: nation key in place
    * of the schema-absent phone country code; "recently inactive" =
    * no order since 2000): per nation, the count and total balance of
    * customers whose balance beats the global positive-balance mean
    * but who have stopped ordering — the scalar-subquery + anti-join
    * classic.
    *
    * Scale shape: the mean is ONE scalar aggregate broadcast into the
    * filter (never a per-row correlated subquery); the inactivity
    * test is a LEFT ANTI join against the date-pruned recent-orders
    * projection (first match eliminates — no fan-out); balances sum
    * in exact cents. */
  def tpchQ22(spark: SparkSession, dir: String): DataFrame =
    tpchQ22Of(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"))

  private[graft] def tpchQ22Of(customer: DataFrame, orders: DataFrame): DataFrame = {
    val avgBal = customer.filter(col("c_acctbal") > 0)
      .agg((sum(Det.cents(col("c_acctbal"))).cast("double")
        / (count(lit(1)) * 100)).as("avg_bal"))
    val recent = orders
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    customer.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        Det.moneySum(col("c_acctbal")).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  val tpchQ22Sql: String =
    s"""WITH ab AS (SELECT CAST(sum(${Det.centsSql("c_acctbal")}) AS DOUBLE)
       |                     / (count(*) * 100) AS avg_bal
       |            FROM customer WHERE c_acctbal > 0),
       |recent AS (SELECT o_custkey FROM orders
       |           WHERE o_orderdate >= TIMESTAMP '2000-01-01')
       |SELECT c_nationkey, count(*) AS numcust,
       |       ${Det.moneySumSql("c_acctbal")} AS totacctbal
       |FROM customer CROSS JOIN ab
       |WHERE c_acctbal > avg_bal
       |  AND NOT EXISTS (SELECT 1 FROM recent WHERE o_custkey = c_custkey)
       |GROUP BY c_nationkey
       |ORDER BY c_nationkey""".stripMargin

  /** TPC-H Q13 (customer order-count distribution, adapted: the
    * "special requests" comment filter becomes an order-priority
    * exclusion since this schema carries no comment column): how many
    * customers placed 0, 1, 2, … non-urgent orders — the left-outer
    * join whose JOIN-CONDITION filter (not a WHERE) keeps zero-order
    * customers in the histogram.
    *
    * Scale shape: one shuffle joins customer to the priority-filtered
    * orders on custkey (both huge at 100 TB → sort-merge; AQE
    * re-plans if the filter collapses one side); the per-customer
    * count is a partial-aggregated groupBy on the SAME custkey — the
    * join's output partitioning is reused, no second exchange — and
    * the final histogram aggregates the customer-sized relation down
    * to the distinct-count cardinality. Counts are exact integers;
    * (custdist desc, c_count desc) is a unique deterministic order. */
  def tpchQ13(spark: SparkSession, dir: String): DataFrame =
    tpchQ13Of(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"))

  private[graft] def tpchQ13Of(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders,
        col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "1-URGENT",
        "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))

  val tpchQ13Sql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q17 (small-quantity-order revenue): average yearly revenue
    * lost if one brand's small orders (quantity below 20% of that
    * part's mean order quantity) were no longer taken — the
    * correlated-average classic.
    *
    * Scale shape: the per-part mean is ONE partial-aggregated groupBy
    * on partkey joined back on the same key (never a per-row
    * correlated subquery rescanning lineitem); the brand filter
    * prunes part to a ~1/19 sliver that AQE broadcasts into both the
    * fact scan and the stats join. The 20%-of-mean cut is EXACT
    * integer algebra — q < 0.2·(sum/cnt) ⟺ 5·q·cnt < sum on integral
    * quantities — so no float threshold can flip a row between
    * engines; revenue sums in exact cents with one fenced division. */
  def tpchQ17(spark: SparkSession, dir: String): DataFrame =
    tpchQ17Of(Tables(spark, dir, "lineitem"), Tables(spark, dir, "part"))

  private[graft] def tpchQ17Of(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val perPart = lineitem
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_q"),
        count(lit(1)).as("cnt_q"))
    lineitem
      .join(part.filter(col("p_brand") === "Brand#4").select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("pk"))
      .filter(col("l_quantity").cast("long") * 5 * col("cnt_q") < col("sum_q"))
      .agg(Det.rnd(sum(Det.cents(col("l_extendedprice"))).cast("double") / 700.0, 4)
        .as("avg_yearly"))
  }

  val tpchQ17Sql: String =
    s"""WITH pp AS (SELECT l_partkey AS pk,
       |                   sum(CAST(l_quantity AS BIGINT)) AS sum_q,
       |                   count(*) AS cnt_q
       |            FROM lineitem GROUP BY 1)
       |SELECT ${Det.rndSql(s"CAST(sum(${Det.centsSql("l_extendedprice")}) AS DOUBLE) / 700.0", 4)}
       |         AS avg_yearly
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#4'
       |JOIN pp ON l_partkey = pk
       |WHERE CAST(l_quantity AS BIGINT) * 5 * cnt_q < sum_q""".stripMargin

  /** TPC-H Q21 (suppliers who kept orders waiting, adapted: "late" =
    * shipped more than 90 days after the order date, the Q4
    * convention, since this schema has no commit/receipt dates): per
    * supplier, how many finished multi-supplier orders were held up
    * by THAT supplier alone — the classic EXISTS + NOT-EXISTS
    * double-correlation, re-expressed as ONE per-order aggregation.
    *
    * Scale shape: instead of three correlated lineitem scans (l1 ⋈
    * EXISTS l2 ⋈ NOT EXISTS l3), the order-status-filtered lineitem
    * relation is aggregated ONCE on orderkey into (distinct
    * suppliers, distinct late suppliers); the blame test `n_supp > 1
    * AND n_late_supp = 1` then joins back the late (order, supplier)
    * pairs on the same key — two shuffles total on the natural key,
    * both partial-aggregated, no correlated rescans. Output is
    * supplier-cardinality-sized; (numwait desc, s_name) is unique. */
  def tpchQ21(spark: SparkSession, dir: String): DataFrame =
    tpchQ21Of(Tables(spark, dir, "supplier"), Tables(spark, dir, "lineitem"),
      Tables(spark, dir, "orders"))

  private[graft] def tpchQ21Of(
      supplier: DataFrame, lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val li = lineitem
      .join(orders.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
          .as("late"))
    val stats = li.groupBy(col("l_orderkey").as("ok"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
    li.filter(col("late")).select(col("l_orderkey"), col("l_suppkey")).distinct()
      .join(stats.filter(col("n_supp") > 1 && col("n_late_supp") === 1),
        col("l_orderkey") === col("ok"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
      .limit(100)
  }

  val tpchQ21Sql: String =
    """WITH li AS (SELECT l_orderkey, l_suppkey,
      |                   l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
      |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |            WHERE o_orderstatus = 'F'),
      |st AS (SELECT l_orderkey AS ok, count(DISTINCT l_suppkey) AS n_supp,
      |              count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
      |       FROM li GROUP BY 1)
      |SELECT s_name, count(*) AS numwait
      |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late) w
      |JOIN st ON w.l_orderkey = st.ok AND n_supp > 1 AND n_late_supp = 1
      |JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  /** DYNAMIC PARTITION PRUNING: aggregate only the event-type
    * partitions that a runtime-filtered dimension selects — the
    * companion lever to [[partitionedScan]] (whose pruning predicate
    * is a STATIC literal): here the qualifying types are only known
    * after filtering the type-dimension relation, and Catalyst's DPP
    * rule turns the broadcast dim into a runtime `dynamicpruning`
    * subquery on the fact scan's partition column.
    *
    * Scale shape: at 100 TB the fact copy is partitioned by type, so
    * the scan reads ONLY the selected partitions' files — the
    * non-qualifying majority is never opened, which a post-scan join
    * filter cannot achieve. The dim is a one-time scratch parquet
    * (type-cardinality rows); the selection threshold (mean type
    * share) is a driver-side loop literal, so the dim filter is a
    * pushable literal predicate and DPP stays eligible. */
  def dppPrune(spark: SparkSession, dir: String): DataFrame = {
    val fact = eventsByType(spark, dir)
    val dimPath = s"${Tables.scratchDir}/event_type_dim"
    if (spark.conf.getOption("graft.typedim.dir").forall(_ != dir)) {
      Tables(spark, dir, "events")
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .coalesce(1).write.mode("overwrite").parquet(dimPath)
      spark.conf.set("graft.typedim.dir", dir)
    }
    // loop literal (the ipfRaking precedent): one scalar to the driver
    val thresh = Tables(spark, dir, "events").count() / 5
    val dim = spark.read.parquet(dimPath)
      .filter(col("cnt") >= thresh).select("event_type")
    fact.join(dim, Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        Det.moneySum(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  /** TPC-H Q19 (discounted revenue, adapted to this schema's
    * brand/size/quantity columns): revenue from three DISJOINT
    * brand × size × quantity bands OR'd together — the classic
    * disjunctive-predicate plan test: Catalyst must push the
    * extractable part-side disjunction (brand ∈ {…} ∧ size bands)
    * into the part scan AND keep the cross-table residual
    * (brand↔quantity correlation) as the join filter, instead of
    * evaluating the whole OR post-join.
    *
    * Scale shape: the pushed disjunction prunes part row-groups
    * before the join (PushedFilters shows the Or tree); the surviving
    * part sliver broadcasts; lineitem carries only the quantity range
    * filter l_quantity ≤ 30 (the union of the bands) pushed to its
    * scan. Revenue rides the exact integer 1/10⁴-dollar units of
    * [[tpchQ14]]. */
  def tpchQ19(spark: SparkSession, dir: String): DataFrame =
    tpchQ19Of(Tables(spark, dir, "lineitem"), Tables(spark, dir, "part"))

  private[graft] def tpchQ19Of(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val units = expr(
      "CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))")
    val band = (col("p_brand") === "Brand#1" &&
      col("p_size").between(1, 5) && col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#2" &&
        col("p_size").between(1, 10) && col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" &&
        col("p_size").between(1, 15) && col("l_quantity").between(20, 30))
    lineitem
      .join(part.select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(band)
      .agg(count(lit(1)).as("n_items"),
        (((sum(units.cast("decimal(38,0)")) + 50).cast("decimal(38,0)") / 100)
          .cast("long").cast("double") / 100.0).as("revenue"))
  }

  val tpchQ19Sql: String =
    """SELECT count(*) AS n_items,
      |       CAST(CAST((sum(CAST(u AS HUGEINT)) + 50) // 100 AS BIGINT) AS DOUBLE)
      |         / 100.0 AS revenue
      |FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
      |               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
      |      FROM lineitem JOIN part ON l_partkey = p_partkey
      |      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
      |             AND l_quantity BETWEEN 1 AND 11)
      |         OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
      |             AND l_quantity BETWEEN 10 AND 20)
      |         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |             AND l_quantity BETWEEN 20 AND 30))""".stripMargin

  /** TPC-H Q15 (top supplier): the supplier(s) whose one-quarter
    * revenue equals the GLOBAL maximum — the "HAVING = scalar max"
    * view pattern, which must keep ties (unlike a top-1 LIMIT) and
    * therefore compares against a 1-row aggregate instead of sorting.
    *
    * Scale shape: one date-pruned pass builds per-supplier revenue in
    * exact integer 1/10⁴-dollar units (map-side partials on suppkey);
    * the max is a 1-row broadcast cross — never a global sort — and
    * the equality test is EXACT INTEGER, so ties survive identically
    * in both engines (a float-revenue comparison could drop one side
    * of a tie per engine). Supplier is dimension-sized → broadcast. */
  def tpchQ15(spark: SparkSession, dir: String): DataFrame =
    tpchQ15Of(Tables(spark, dir, "supplier"), Tables(spark, dir, "lineitem"))

  private[graft] def tpchQ15Of(supplier: DataFrame, lineitem: DataFrame): DataFrame = {
    val units = expr(
      "CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))")
    val rev = lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(units.cast("decimal(38,0)")).as("uu"))
    val top = rev.agg(max("uu").as("mx"))
    rev.crossJoin(broadcast(top))
      .filter(col("uu") === col("mx"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (((col("uu") + 50).cast("decimal(38,0)") / 100).cast("long")
          .cast("double") / 100.0).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  val tpchQ15Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                  * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS HUGEINT)) AS uu
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name,
      |       CAST(CAST((uu + 50) // 100 AS BIGINT) AS DOUBLE) / 100.0 AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE uu = (SELECT max(uu) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q7 (volume shipping): bilateral trade between two nations
    * by year — the SYMMETRIC-PAIR disjunction ((n1,n2) ∨ (n2,n1))
    * evaluated across the supplier-side and customer-side nation
    * joins, which only becomes a testable predicate after BOTH fact
    * joins resolve.
    *
    * Scale shape: nation is broadcast twice (supplier side, customer
    * side — 25 rows each); the shipdate window prunes the lineitem
    * scan; the two fact-fact joins shuffle on their natural keys and
    * the nation-pair disjunction runs as a residual filter on the
    * joined stream, exactly where a distributed planner needs it.
    * Revenue in exact integer units; (n1, n2, year) ordering unique. */
  def tpchQ7(spark: SparkSession, dir: String): DataFrame =
    tpchQ7Of(Tables(spark, dir, "lineitem"), Tables(spark, dir, "orders"),
      Tables(spark, dir, "customer"), Tables(spark, dir, "supplier"),
      Tables(spark, dir, "nation"))

  private[graft] def tpchQ7Of(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, nation: DataFrame): DataFrame = {
    val units = expr(
      "CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))")
    val n1 = nation.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val n2 = nation.select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
    lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("snk"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("cnk"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg((((sum(units.cast("decimal(38,0)")) + 50).cast("decimal(38,0)") / 100)
        .cast("long").cast("double") / 100.0).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val tpchQ7Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |       CAST(CAST((sum(CAST(u AS HUGEINT)) + 50) // 100 AS BIGINT) AS DOUBLE)
      |         / 100.0 AS revenue
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |             year(l_shipdate) AS l_year,
      |             CAST(round(l_extendedprice * 100) AS BIGINT)
      |               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
      |      FROM lineitem
      |      JOIN supplier ON l_suppkey = s_suppkey
      |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |      JOIN orders ON l_orderkey = o_orderkey
      |      JOIN customer ON o_custkey = c_custkey
      |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |        AND l_shipdate < TIMESTAMP '1998-01-01'
      |        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  /** TPC-H Q8 (national market share): one nation's share of a
    * region's yearly revenue in one part type — the conditional-
    * aggregation-after-wide-join classic: the numerator is a CASE
    * inside the same sum as the denominator, so the 7-relation join
    * runs ONCE.
    *
    * Scale shape: part (type filter), both nation hops and region are
    * broadcast slivers; the fact chain shuffles once per natural key;
    * numerator/denominator ride one exact-integer aggregation and
    * divide once, fenced — never two scans, never a float sum. */
  def tpchQ8(spark: SparkSession, dir: String): DataFrame =
    tpchQ8Of(Tables(spark, dir, "lineitem"), Tables(spark, dir, "orders"),
      Tables(spark, dir, "customer"), Tables(spark, dir, "supplier"),
      Tables(spark, dir, "nation"), Tables(spark, dir, "region"),
      Tables(spark, dir, "part"))

  private[graft] def tpchQ8Of(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, nation: DataFrame,
      region: DataFrame, part: DataFrame): DataFrame = {
    val units = expr(
      "CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))")
    val cregion = nation
      .join(broadcast(region.filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cnk"))
    lineitem
      .join(broadcast(part.filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(orders.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(cregion), col("c_nationkey") === col("cnk"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("s_nationkey") === 3, units).otherwise(0L)
          .cast("decimal(38,0)")).as("nation_u"),
        sum(units.cast("decimal(38,0)")).as("all_u"))
      .select(col("o_year"),
        Det.rnd(col("nation_u").cast("double") / col("all_u").cast("double"), 6)
          .as("mkt_share"))
      .orderBy("o_year")
  }

  val tpchQ8Sql: String =
    s"""SELECT o_year,
       |       ${Det.rndSql(
          "CAST(sum(CASE WHEN s_nationkey = 3 THEN CAST(u AS HUGEINT) ELSE 0 END) AS DOUBLE)" +
            " / CAST(sum(CAST(u AS HUGEINT)) AS DOUBLE)", 6)} AS mkt_share
       |FROM (SELECT year(o_orderdate) AS o_year, s_nationkey,
       |             CAST(round(l_extendedprice * 100) AS BIGINT)
       |               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
       |      FROM lineitem
       |      JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
       |      JOIN orders ON l_orderkey = o_orderkey
       |      JOIN customer ON o_custkey = c_custkey
       |      JOIN nation ON c_nationkey = n_nationkey
       |      JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
       |      JOIN supplier ON l_suppkey = s_suppkey
       |      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
       |        AND o_orderdate < TIMESTAMP '1998-01-01')
       |GROUP BY o_year
       |ORDER BY o_year""".stripMargin

  /** TPC-H Q9 (product-type profit, adapted: unit cost =
    * p_retailprice since this schema has no partsupp): per supplier
    * nation and order year, profit = discounted revenue − retail cost
    * of the quantities shipped, over parts matching a name substring
    * — the signed-amount aggregation whose NEGATIVE sums make
    * truncate-vs-floor rounding diverge (handled by the fenced
    * double division, not integer div).
    *
    * Scale shape: the LIKE filter prunes part before its broadcast;
    * amounts stay exact integer 1/10⁴-dollar units through the sum
    * (revenue cents·(100−d) minus cost cents·qty·100); the single
    * division is Det-fenced so the sign never hits an
    * engine-specific floor. */
  def tpchQ9(spark: SparkSession, dir: String): DataFrame =
    tpchQ9Of(Tables(spark, dir, "lineitem"), Tables(spark, dir, "orders"),
      Tables(spark, dir, "supplier"), Tables(spark, dir, "nation"),
      Tables(spark, dir, "part"))

  private[graft] def tpchQ9Of(lineitem: DataFrame, orders: DataFrame,
      supplier: DataFrame, nation: DataFrame, part: DataFrame): DataFrame = {
    val amount = expr(
      "CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))" +
        " - CAST(round(p_retailprice * 100) AS BIGINT)" +
        " * CAST(round(l_quantity) AS BIGINT) * 100")
    lineitem
      .join(broadcast(part.filter(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(Det.rnd(sum(amount.cast("decimal(38,0)")).cast("double") / 10000.0, 2)
        .as("sum_profit"))
      .orderBy(asc("nation"), desc("o_year"))
  }

  val tpchQ9Sql: String =
    s"""SELECT nation, o_year,
       |       ${Det.rndSql("CAST(sum(CAST(a AS HUGEINT)) AS DOUBLE) / 10000.0", 2)}
       |         AS sum_profit
       |FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
       |             CAST(round(l_extendedprice * 100) AS BIGINT)
       |               * (100 - CAST(round(l_discount * 100) AS BIGINT))
       |             - CAST(round(p_retailprice * 100) AS BIGINT)
       |               * CAST(round(l_quantity) AS BIGINT) * 100 AS a
       |      FROM lineitem
       |      JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
       |      JOIN orders ON l_orderkey = o_orderkey
       |      JOIN supplier ON l_suppkey = s_suppkey
       |      JOIN nation ON s_nationkey = n_nationkey)
       |GROUP BY 1, 2
       |ORDER BY nation, o_year DESC""".stripMargin

  /** TPC-H Q12 (shipping-priority audit, adapted: l_returnflag stands
    * in for the schema-absent shipmode): per flag, how many lines
    * shipped in one year belong to urgent/high-priority orders vs the
    * rest — the two-way conditional count whose CASE pair rides one
    * aggregation.
    *
    * Scale shape: the year filter prunes the lineitem scan; orders
    * joins on its key (AQE broadcasts the 2-column projection when it
    * fits); both counts are exact integers in a single pass. */
  def tpchQ12(spark: SparkSession, dir: String): DataFrame =
    tpchQ12Of(Tables(spark, dir, "lineitem"), Tables(spark, dir, "orders"))

  private[graft] def tpchQ12Of(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(orders.select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")

  val tpchQ12Sql: String =
    """SELECT l_returnflag,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** TPC-H Q10 (returned-item reporting): revenue lost to returned
    * lines per customer for one order quarter — who returned the most,
    * top 20 (reference relational surface; TPC-H spec 2.13, columns
    * adapted: this schema has no c_phone/c_address/c_comment).
    *
    * Scale shape: the quarter filter prunes orders and `l_returnflag =
    * 'R'` prunes lineitem AT THE SCAN (both land in PushedFilters);
    * customer⨝orders and orders⨝lineitem shuffle on their keys (the
    * unavoidable fact exchanges — sort-merge + AQE at 100 TB); nation
    * is a broadcast dim stitched on AFTER the per-customer aggregation
    * so the wide c_name/n_name strings never ride the big shuffle.
    * Top-20 is TakeOrderedAndProject — no global sort. Revenue is
    * exact integer cents·(100−disc) with one half-up fenced division;
    * (revenue desc, c_custkey) is a unique deterministic order. */
  def tpchQ10(spark: SparkSession, dir: String): DataFrame =
    tpchQ10Of(Tables(spark, dir, "customer"), Tables(spark, dir, "orders"),
      Tables(spark, dir, "lineitem"), Tables(spark, dir, "nation"))

  private[graft] def tpchQ10Of(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      nation: DataFrame): DataFrame = {
    val units = expr(
      "CAST(round(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))")
    customer
      .join(orders.filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem.filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_nationkey"))
      .agg(sum(units.cast("decimal(38,0)")).as("units"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"),
        (((col("units") + 50).cast("decimal(38,0)") / 100).cast("long")
          .cast("double") / 100.0).as("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  val tpchQ10Sql: String =
    """SELECT c_custkey, c_name,
      |       CAST(CAST((sum(CAST(u AS HUGEINT)) + 50) // 100 AS BIGINT) AS DOUBLE)
      |         / 100.0 AS revenue,
      |       c_acctbal, n_name
      |FROM (SELECT c_custkey, c_name, c_acctbal, c_nationkey,
      |             CAST(round(l_extendedprice * 100) AS BIGINT)
      |               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
      |      FROM customer, orders, lineitem
      |      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |        AND o_orderdate >= TIMESTAMP '1996-01-01'
      |        AND o_orderdate < TIMESTAMP '1996-04-01'
      |        AND l_returnflag = 'R')
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q2 (minimum-cost supplier, adapted: this schema has no
    * partsupp, so the part–supplier relation is DERIVED from lineitem —
    * supply cost per (part, supplier) = the minimum observed unit price
    * in exact cents, `cents div quantity` on integral quantities): for
    * every PROMO part supplied into EUROPE, which supplier(s) hit the
    * regional minimum cost — the correlated-min classic.
    *
    * Scale shape: the derived partsupp is ONE partial-aggregated
    * groupBy on (partkey, suppkey) over the pruned 4-column lineitem
    * projection; supplier⨝nation⨝region collapses to a broadcast
    * supplier sliver (suppliers are dim-sized at any SF), and the
    * p_type filter prunes part before its key join. The regional
    * per-part minimum is a groupBy on partkey joined back on the SAME
    * key — partitioning reused, never a per-row rescan. Cost stays an
    * exact BIGINT through the min and the equality; both engines
    * truncate integer division toward zero on these positive cents
    * (Round15Spec pins the semantics). (s_acctbal desc, n_name,
    * s_name, p_partkey) is a unique deterministic order. */
  def tpchQ2(spark: SparkSession, dir: String): DataFrame =
    tpchQ2Of(Tables(spark, dir, "part"), Tables(spark, dir, "supplier"),
      Tables(spark, dir, "lineitem"), Tables(spark, dir, "nation"),
      Tables(spark, dir, "region"))

  private[graft] def tpchQ2Of(
      part: DataFrame, supplier: DataFrame, lineitem: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val ps = lineitem
      .select(col("l_partkey"), col("l_suppkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
          " div CAST(l_quantity AS BIGINT)").as("unit_c"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("unit_c")).as("cost_c"))
    val regionSupp = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val cand = ps
      .join(part.filter(col("p_type") === "PROMO")
        .select(col("p_partkey"), col("p_name")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(regionSupp), col("l_suppkey") === col("s_suppkey"))
    val minCost = cand.groupBy(col("p_partkey").as("mk"))
      .agg(min(col("cost_c")).as("min_c"))
    cand.join(minCost,
        col("p_partkey") === col("mk") && col("cost_c") === col("min_c"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"),
        (col("cost_c").cast("double") / 100.0).as("supplycost"))
      .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"),
        asc("p_partkey"))
      .limit(100)
  }

  val tpchQ2Sql: String =
    """WITH ps AS (SELECT l_partkey, l_suppkey,
      |                   min(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                       // CAST(l_quantity AS BIGINT)) AS cost_c
      |            FROM lineitem GROUP BY 1, 2),
      |cand AS (SELECT p_partkey, p_name, s_acctbal, s_name, n_name, cost_c
      |         FROM ps, part, supplier, nation, region
      |         WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
      |           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |           AND r_name = 'EUROPE' AND p_type = 'PROMO'),
      |mn AS (SELECT p_partkey AS mk, min(cost_c) AS min_c
      |       FROM cand GROUP BY 1)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
      |       CAST(cost_c AS DOUBLE) / 100.0 AS supplycost
      |FROM cand JOIN mn ON p_partkey = mk AND cost_c = min_c
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q11 (important stock identification, adapted: no partsupp →
    * per-part "stock value" = exact-cents extendedprice shipped by
    * ASIA-region suppliers; no availqty·supplycost): which parts carry
    * more than TWICE the mean per-part value — the global-scalar-
    * threshold classic. (Spec uses fraction 0.0001/SF — a fixed
    * fraction is not scale-free across this corpus's SF dirs, so the
    * adapted cut is mean-relative, which is.)
    *
    * Scale shape: supplier⨝nation collapses to a broadcast set of
    * regional suppkeys filtering the lineitem scan; the per-part value
    * is one partial-aggregated groupBy on partkey; the grand total is
    * a 1-row aggregate of THAT part-sized relation (never a second
    * fact pass) cross-joined back as a broadcast scalar. The threshold
    * compares exact BIGINT cents — `value > (2·total) div count` —
    * both engines truncate `div`/`//` toward zero on these positives
    * (Round15Spec pins the semantics); 100 TB headroom: 2·total fits
    * int64 up to ~4.6e18 total cents. (value desc, partkey) is a
    * unique deterministic order. */
  def tpchQ11(spark: SparkSession, dir: String): DataFrame =
    tpchQ11Of(Tables(spark, dir, "lineitem"), Tables(spark, dir, "supplier"),
      Tables(spark, dir, "nation"))

  private[graft] def tpchQ11Of(
      lineitem: DataFrame, supplier: DataFrame, nation: DataFrame): DataFrame = {
    val asiaSupp = supplier
      .join(broadcast(nation.filter(col("n_regionkey") === 2)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = lineitem
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("value_c"))
    val total = value.agg(sum(col("value_c")).as("total_c"),
      count(lit(1)).as("cnt_parts"))
    value.crossJoin(broadcast(total))
      .filter(col("value_c") > expr("(2 * total_c) div cnt_parts"))
      .select(col("l_partkey"),
        (col("value_c").cast("double") / 100.0).as("value"))
      .orderBy(desc("value"), asc("l_partkey"))
  }

  val tpchQ11Sql: String =
    """WITH v AS (SELECT l_partkey,
      |                  sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |                    AS value_c
      |           FROM lineitem, supplier, nation
      |           WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |             AND n_regionkey = 2
      |           GROUP BY 1),
      |t AS (SELECT sum(value_c) AS total_c, count(*) AS cnt_parts FROM v)
      |SELECT l_partkey, CAST(value_c AS DOUBLE) / 100.0 AS value
      |FROM v CROSS JOIN t
      |WHERE value_c > (2 * total_c) // cnt_parts
      |ORDER BY value DESC, l_partkey""".stripMargin

  /** TPC-H Q16 (parts/supplier relationship, adapted: the supplier-
    * complaint comment exclusion becomes an acctbal floor since this
    * schema carries no comment column; part–supplier pairs derive from
    * distinct lineitem): how many distinct reputable suppliers can
    * deliver each surveyed (brand, type, size) combination.
    *
    * Scale shape: the pair relation is a partial-aggregated DISTINCT
    * over the 2-column lineitem projection (the only fact pass); the
    * brand/type/size survey prunes part before its broadcast-friendly
    * key join, and the acctbal floor prunes the dim-sized supplier
    * sliver. count(DISTINCT suppkey) expands to Spark's two-phase
    * distinct-aggregate — partials combine map-side. Counts are exact;
    * (cnt desc, brand, type, size) is a unique deterministic order. */
  def tpchQ16(spark: SparkSession, dir: String): DataFrame =
    tpchQ16Of(Tables(spark, dir, "part"), Tables(spark, dir, "supplier"),
      Tables(spark, dir, "lineitem"))

  private[graft] def tpchQ16Of(
      part: DataFrame, supplier: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(part.filter(col("p_brand") =!= "Brand#1" &&
          col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier.filter(col("s_acctbal") >= 1000)
        .select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"),
        asc("p_size"))

  val tpchQ16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |     part, supplier
      |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
      |  AND s_acctbal >= 1000
      |  AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q20 (potential part promotion, adapted: no partsupp
    * availqty → a supplier qualifies when it shipped MORE THAN HALF of
    * a blue part's total 1996 quantity, i.e. it dominates that part's
    * supply): AMERICA-region suppliers dominating at least one blue
    * part — the nested semijoin-chain classic.
    *
    * Scale shape: the color LIKE prunes part into a broadcast sliver
    * semi-filtering the year-pruned lineitem scan; per-(part, supplier)
    * quantity is one partial-aggregated groupBy; the per-part total
    * reaggregates THAT relation on its own partkey (partitioning
    * reused, no second fact pass). The dominance cut is exact long
    * algebra (2·sq > tq — integral quantities), the qualifying
    * suppkeys collapse to a distinct dim-sized set, and supplier joins
    * it left_semi with nation broadcast. s_name is a unique order. */
  def tpchQ20(spark: SparkSession, dir: String): DataFrame =
    tpchQ20Of(Tables(spark, dir, "supplier"), Tables(spark, dir, "nation"),
      Tables(spark, dir, "part"), Tables(spark, dir, "lineitem"))

  private[graft] def tpchQ20Of(
      supplier: DataFrame, nation: DataFrame, part: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val bluePart = part.filter(col("p_name").like("blue%"))
      .select(col("p_partkey"))
    val qty = lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(bluePart), col("l_partkey") === col("p_partkey"),
        "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sq"))
    val tot = qty.groupBy(col("l_partkey").as("tk"))
      .agg(sum(col("sq")).as("tq"))
    val dominant = qty.join(tot, col("l_partkey") === col("tk"))
      .filter(col("sq") * 2 > col("tq"))
      .select(col("l_suppkey")).distinct()
    supplier
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(nation.filter(col("n_regionkey") === 1)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"))
      .orderBy("s_name")
  }

  val tpchQ20Sql: String =
    """WITH q AS (SELECT l_partkey, l_suppkey,
      |                  sum(CAST(l_quantity AS BIGINT)) AS sq
      |           FROM lineitem, part
      |           WHERE l_partkey = p_partkey AND p_name LIKE 'blue%'
      |             AND l_shipdate >= TIMESTAMP '1996-01-01'
      |             AND l_shipdate < TIMESTAMP '1997-01-01'
      |           GROUP BY 1, 2),
      |t AS (SELECT l_partkey AS tk, sum(sq) AS tq FROM q GROUP BY 1)
      |SELECT s_name, n_name
      |FROM supplier, nation
      |WHERE s_nationkey = n_nationkey AND n_regionkey = 1
      |  AND s_suppkey IN (SELECT l_suppkey FROM q JOIN t ON l_partkey = tk
      |                    WHERE 2 * sq > tq)
      |ORDER BY s_name""".stripMargin

  val dppPruneSql: String =
    s"""WITH sel AS (SELECT event_type FROM events GROUP BY 1
       |             HAVING count(*) >= (SELECT count(*) // 5 FROM events))
       |SELECT event_type, count(*) AS n_events,
       |       ${Det.moneySumSql("value")} AS total_value
       |FROM events JOIN sel USING (event_type)
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin
}
