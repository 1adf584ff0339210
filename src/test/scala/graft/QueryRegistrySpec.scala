package graft

/** The declared query surface is one list, and every harness session is
  * built by [[GraftSession]]: these pin both. */
class QueryRegistrySpec extends SparkSpec {

  test("registry declares 550 distinct, well-formed keys") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 550)
    assert(names.distinct.size == names.size)
    val bad = names.filterNot(_.matches("q_[a-z0-9_]+"))
    assert(bad.isEmpty, s"malformed keys: $bad")
  }

  test("queries and oracleSql are views of the same key set") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == SparkEntry.registry.map(_.name).toSet)
  }

  test("a duplicate name makes the registry guard throw") {
    val build = SparkEntry.queries("q_topk_group_count")
    val q = SparkEntry.Q("q_dup", build, "SELECT 1")
    val e = intercept[IllegalArgumentException](SparkEntry.distinctNames(Seq(q, q)))
    assert(e.getMessage.contains("q_dup"))
    assert(SparkEntry.distinctNames(Seq(q, q.copy(name = "q_other"))).size == 2)
  }

  test("the setup list is the ten trunks in bench order") {
    assert(Bench.setups.map(_._1) == Seq("dedup_trunk", "postings_trunk", "graph_adj",
      "semclust", "seeded_bfs", "setsim", "lr_feats", "media_pairs", "km_fit", "baskets"))
  }

  test("the shared test session carries the GraftSession config") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
  }
}
