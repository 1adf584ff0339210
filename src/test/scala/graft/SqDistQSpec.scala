package graft

import org.apache.spark.sql.functions._
import graft.functions.SqDistQ

/** The codegen'd integer squared-distance expression (r16): value
  * identity against the interpreted HOF form it replaced in
  * [[queries.SimilarityQueries.submodularSelectOf]], plain-Scala
  * correctness, type checking, and codegen/interpreted agreement. */
class SqDistQSpec extends SparkSpec {

  private val hofD2 = "aggregate(zip_with(qe, ce, (a, b) -> " +
    "CAST(round(CAST(a AS DOUBLE) * 1000) AS BIGINT) - " +
    "CAST(round(CAST(b AS DOUBLE) * 1000) AS BIGINT)), " +
    "0L, (acc, x) -> acc + x * x)"
  private val q3 = "transform(%s, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))"

  test("quantize-then-sqdist_q is bit-identical to the HOF round-then-diff form on corpus pairs") {
    SqDistQ.register(spark)
    val emb = Tables(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 16).limit(16)
      .select(col("vec_id").as("cid"), col("embedding").as("qe"))
    val c = emb.limit(200).select(col("vec_id").as("vid"), col("embedding").as("ce"))
    val both = broadcast(q).crossJoin(c)
      .select(col("cid"), col("vid"),
        expr(hofD2).as("hof"),
        expr(s"sqdist_q(${q3.format("qe")}, ${q3.format("ce")})").as("gen"))
    assert(both.filter(col("hof") =!= col("gen")).isEmpty,
      "codegen'd sqdist_q diverged from the HOF form")
    assert(both.count() > 0)
  }

  test("sqdist_q matches a plain-Scala computation") {
    val s = spark
    import s.implicits._
    SqDistQ.register(spark)
    val a = Array(3L, -5L, 0L, 7L)
    val b = Array(1L, 2L, -4L, 7L)
    val got = Seq((a, b)).toDF("x", "y")
      .select(expr("sqdist_q(x, y)")).head().getLong(0)
    val want = a.zip(b).map { case (p, q) => (p - q) * (p - q) }.sum
    assert(got == want)
  }

  test("sqdist_q rejects non-long-array arguments at analysis") {
    val s = spark
    import s.implicits._
    SqDistQ.register(spark)
    val err = intercept[Exception] {
      Seq((Array(1.0f), Array(2.0f))).toDF("x", "y")
        .select(expr("sqdist_q(x, y)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array"), err.getMessage)
  }

  test("interpreted eval path agrees with codegen (wholestage off)") {
    val s = spark
    import s.implicits._
    SqDistQ.register(spark)
    val df = Tables(spark, sfDir, "embeddings").limit(50)
      .select(col("vec_id"),
        expr(s"sqdist_q(${q3.format("embedding")}, ${q3.format("reverse(embedding)")})").as("d"))
    val on = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(on == off)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("a NULL element makes sqdist_q NULL, as in the HOF form, codegen'd and interpreted") {
    SqDistQ.register(spark)
    // spark.range keeps the arrays out of constant folding, so the
    // projection really runs the generated (or interpreted) code
    val df = spark.range(6).select(col("id"),
      expr("array(id, IF(id % 2 = 0, NULL, id), 3L)").as("x"),
      expr("array(1L, 2L, IF(id = 3, NULL, id))").as("y"))
      .select(col("id"), expr("sqdist_q(x, y)").as("gen"),
        expr("aggregate(zip_with(x, y, (a, b) -> a - b), 0L, " +
          "(acc, d) -> acc + d * d)").as("hof"))
    assert(df.schema("gen").nullable)
    def rows() = df.orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    val want = Seq(0L -> None, 1L -> Some(5L), 2L -> None, 3L -> None,
      4L -> None, 5L -> Some(29L))
    val codegen = rows()
    assert(codegen.map(r => r._1 -> r._2) === want)
    assert(codegen.forall(r => r._2 == r._3), "codegen'd sqdist_q diverged from the HOF form")
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(rows() === codegen, "interpreted sqdist_q diverged from codegen")
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // arrays that cannot hold NULL keep the expression non-nullable
    assert(!spark.range(1).select(expr("sqdist_q(array(id), array(id))").as("d"))
      .schema("d").nullable)
  }
}
