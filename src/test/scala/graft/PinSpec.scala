package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.DedupQueries

/** The transient-pin path: [[Tables.scratchPin]] and [[Tables.PinChain]]
  * start only their write's jobs and hand back a read with the written
  * frame's schema, and [[DedupQueries.components]] keeps all of its
  * round state on that path. A corpus read through [[Tables.apply]]
  * infers a table's schema once per file version. */
class PinSpec extends SparkSpec {

  private def pinRoot = s"${Tables.scratchDir}/pins/${Tables.sessionToken(spark)}"

  /** A frame with non-null, array, struct, decimal and date columns. */
  private def mixed: DataFrame = spark.range(0, 50, 1, 2).select(
    col("id"), // non-null bigint
    array(col("id"), col("id") * 2).as("arr"),
    struct(col("id").cast("int").as("a"), lit("x").as("b")).as("st"),
    (col("id") / 7).cast(DecimalType(12, 3)).as("dec"),
    date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("day"),
    col("id").cast("byte").as("tiny"))

  private def checkPin(pin: DataFrame => DataFrame, path: => String): Unit = {
    val src = mixed
    assert(!src.schema("id").nullable, "fixture must carry a non-null column")
    val (pinned, writeJobs) = jobsDuring(pin(src))
    assert(writeJobs >= 1, "the write must run")
    val (_, readJobs) = jobsDuring {
      pinned.schema
      pinned.queryExecution.executedPlan
    }
    assert(readJobs == 0, s"reading and planning the pin started $readJobs job(s)")
    assert(pinned.schema == spark.read.parquet(path).schema)
    assert(pinned.orderBy("id").collect().toSeq == src.orderBy("id").collect().toSeq)
  }

  test("scratchPin starts only its write's jobs and reads back with the inferred schema") {
    checkPin(Tables.scratchPin(_, "pinspec-one"), s"$pinRoot/pinspec-one.parquet")
  }

  test("PinChain.next starts only its write's jobs and reads back with the inferred schema") {
    val pc = new Tables.PinChain("pinspec-chain")
    pc.next(spark.range(3).toDF("id"))
    checkPin(pc.next, s"$pinRoot/pinspec-chain-l2.parquet")
  }

  test("a corpus read infers a table's schema once, and again after the file is rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("corpus-memo").toFile
    try {
      val path = s"$dir/t.parquet"
      spark.range(3).select(col("id").as("a")).write.parquet(path)
      Tables(spark, dir.toString, "t") // first read: infers
      val (first, jobs) = jobsDuring(Tables(spark, dir.toString, "t"))
      assert(jobs == 0, s"a second read of a known table started $jobs job(s)")
      assert(first.columns.toSeq == Seq("a"))
      spark.range(3).select(col("id").cast("string").as("b"), col("id").as("c"))
        .write.mode("overwrite").parquet(path)
      val second = Tables(spark, dir.toString, "t")
      assert(second.schema.map(f => f.name -> f.dataType) == Seq("b" -> StringType, "c" -> LongType))
      assert(second.count() == 3)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("components keeps its round state under pins/<token> and gives the min labels") {
    val s = spark
    import s.implicits._
    val chain = (0L until 63L).map(i => (i, i + 1))
    val clique = for (a <- 100L to 105L; b <- (a + 1) to 105L) yield (a, b)
    val tri = Seq((201L, 200L), (200L, 202L))
    val pairs = (chain ++ clique ++ tri).toDF("d1", "d2")

    val root = new java.io.File(Tables.scratchDir)
    def files: Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(root).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = files
    val got = DedupQueries.components(pairs, "pinspec-cc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val touched = files.filter { case (p, t) => !before.get(p).contains(t) }.keys

    // the labels: each node's component minimum, from a plain union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (chain ++ clique ++ tri).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert(got == parent.keys.map(n => n -> find(n)).toMap)

    assert(touched.nonEmpty)
    assert(touched.forall(_.startsWith(s"$pinRoot/pinspec-cc-l")),
      s"components wrote outside its pin chain: ${touched.filterNot(_.startsWith(pinRoot))}")
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "a checkpoint dir was set")
    assert(!touched.exists(_.contains("/checkpoints/")))
  }
}
