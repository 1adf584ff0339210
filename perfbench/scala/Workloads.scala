package perfbench

import org.apache.spark.sql.SparkSession

import graft.queries.SimilarityQueries

/** The benchmark's workloads. A batch workload is a list of
  * `SparkEntry.queries` keys plus the `materialize*` trunk builders its
  * set-up must run so that no key builds a trunk lazily inside a pass. */
object Workloads {

  final case class Batch(
      name: String,
      trunks: Seq[(String, (SparkSession, String) => Unit)],
      keys: Seq[String])

  /** Graph fixpoints over the shared adjacency trunk: job-heavy, with
    * most of their time in construction-time eager work (pins,
    * checkpoints, collects). */
  val iterative: Batch = Batch("iterative",
    Seq("graph_adj" -> ((s, d) => SimilarityQueries.materializeGraphAdj(s, d))),
    Seq("q_kcore", "q_label_prop", "q_pagerank"))

  val batch: Map[String, Batch] = Map(iterative.name -> iterative)

  val Stream = "stream"

  val names: Seq[String] = Seq(iterative.name, Stream)
}
