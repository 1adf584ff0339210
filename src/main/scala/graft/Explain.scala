package graft

import org.apache.spark.sql.execution.LogicalRDD

/** Plan auditor: prints the formatted physical plan of selected queries
  * so scan pushdown (PushedFilters/ReadSchema), join strategy
  * (BroadcastHashJoin vs SortMergeJoin), top-k (TakeOrderedAndProject)
  * and codegen spans can be reviewed. A plan that reads an RDD (a
  * `Scan ExistingRDD` leaf, e.g. the message-passing graph fixpoints)
  * also prints that RDD's lineage, where its rounds live. Usage:
  * `runMain graft.Explain [queryName ...]` (default: a representative set).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(4)
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q_topk_group_count", "q_project_filter", "q_join_agg_by_dim",
        "q_stream_topk", "q_cosine_topk", "q_semijoin_active",
        "q_media_neardup", "q_ann_ivf_seeded", "q_dedup_incremental",
        "q_textrank", "q_ann_quantized", "q_kmv_intersect", "q_split_audit",
        "q_hybrid_retrieve", "q_semantic_decon", "q_substring_dedup",
        "q_ann_eval", "q_rolling_anomaly", "q_tfidf_topterms",
        "q_knn_graph", "q_bootstrap_ci", "q_star_join", "q_frequent_pairs",
        "q_semantic_clusters", "q_equidepth_hist", "q_decile_lift",
        "q_target_encode", "q_epoch_shuffle", "q_cusum_changepoint",
        "q_theil_sen", "q_ref_integrity", "q_roc_auc", "q_pagerank",
        "q_label_prop", "q_ivm_join", "q_link_predict",
        "q_trailing_window", "q_ann_pq", "q_ann_pq_rerank",
        "q_cascade_delete")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
      df.explain("formatted")
      df.queryExecution.optimizedPlan.collectWithSubqueries { case l: LogicalRDD => l.rdd }
        .foreach(rdd => println(s"Scan ExistingRDD lineage:\n${rdd.toDebugString}"))
    }
    spark.stop()
  }
}
