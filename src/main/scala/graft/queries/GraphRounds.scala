package graft.queries

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{Aggregator, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** The message-passing kernel under the graph fixpoints of
  * [[SimilarityQueries]] (PageRank, personalized PageRank, label
  * propagation, k-core): a Pregel-style [[step]] over a flat edge list
  * and a per-node state, both hash-partitioned by node on one
  * partitioner.
  *
  * One round is one shuffle. The edge partitions zip with the state
  * partitions narrowly, each node's message goes out along its edges,
  * the messages combine map-side into one value per target, and the
  * inbox zips back into the state narrowly. No `join`, `cogroup` or
  * `combineByKey` is involved, and a fixpoint of any number of rounds
  * stays one RDD lineage that runs as one Spark job. Since the edges
  * stream past a hash map of the partition's states, a hub costs one
  * state record, not a buffered row group: the per-partition state and
  * inbox maps are O(|V|/P), GraphX's vertex-partition model.
  *
  * Every closure handed to an RDD operation is defined here, on
  * purpose. Spark's `ClosureCleaner` re-reads and parses the whole
  * class file that defines a closure each time the closure is passed
  * to an operator, so keeping them out of the large query objects
  * keeps a fixpoint's construction cheap. `GraphIterationSpec` guards
  * this class's size. */
object GraphRounds {

  /** Flat edges `(v, u)` hash-partitioned by `v` with `part`, the
    * partitioner every node state of a fixpoint over them sits on. */
  final class Edges(val rdd: RDD[(Long, Long)], val part: Partitioner)

  /** The `(src, dst)` rows of `df`, or with `both` each row in both
    * orientations, hash-partitioned by the first node. The partition
    * count is `defaultPartitioner`'s, so it follows the input splits.
    *
    * `df` is read through its own `queryExecution`; over a plan with no
    * exchange (a trunk read, a local frame) that starts no job, while
    * over a plan with one AQE runs the exchange's stages eagerly. */
  def edges(df: DataFrame, both: Boolean = false): Edges = {
    val pairs = rows(df.select(df("src").cast("long"), df("dst").cast("long"))) { r =>
      (r.getLong(0), r.getLong(1))
    }
    val flat = if (both) pairs.mapPartitions(_.flatMap { case (a, b) => Iterator((a, b), (b, a)) }) else pairs
    val part = Partitioner.defaultPartitioner(flat)
    new Edges(new ShuffledRDD[Long, Long, Long](flat, part), part)
  }

  /** The rows of `df` mapped by `f`; the internal rows are reused, so
    * `f` must copy out what it keeps. */
  def rows[T: ClassTag](df: DataFrame)(f: InternalRow => T): RDD[T] =
    df.queryExecution.toRdd.mapPartitions(_.map(f))

  /** Each source node of `e` with its edge count (duplicates count),
    * on `e.part` with no further shuffle. */
  def degree(e: Edges): RDD[(Long, Int)] =
    e.rdd.mapPartitions({ es =>
      val d = mutable.HashMap.empty[Long, Int]
      es.foreach { case (v, _) => d(v) = d.getOrElse(v, 0) + 1 }
      d.iterator
    }, preservesPartitioning = true)

  /** `nodes` moved onto `e.part`, the fixpoint's one state shuffle. */
  def partition[S: ClassTag](e: Edges, nodes: RDD[(Long, S)]): RDD[(Long, S)] =
    new ShuffledRDD[Long, S, S](nodes, e.part)

  /** `f(v, a)` for every node of `state`, on the same partitioning. */
  def mapState[A, S: ClassTag](state: RDD[(Long, A)])(f: (Long, A) => S): RDD[(Long, S)] =
    state.mapPartitions(_.map { case (v, a) => (v, f(v, a)) }, preservesPartitioning = true)

  /** The `n` smallest node ids of `state`: a bounded top-`n` per
    * partition, then a merge on the driver. One job. */
  def smallest[A](state: RDD[(Long, A)], n: Int): Set[Long] =
    state.mapPartitions(_.map(_._1)).takeOrdered(n).toSet

  /** One round: every node `v` with `send(s) = Some(m)` sends `m` along
    * each of its edges `(v, u)`; the messages to a node merge with
    * `merge` (map-side first), and every node then takes
    * `update(v, s, inbox)`. A message to a node with no state is
    * dropped, and a node with no state sends nothing. `state` must sit
    * on `e.part`; the result does too. */
  def step[S: ClassTag, M: ClassTag](e: Edges, state: RDD[(Long, S)])(
      send: S => Option[M], merge: (M, M) => M, update: (Long, S, Option[M]) => S): RDD[(Long, S)] = {
    val msgs = e.rdd.zipPartitions(state) { (es, ss) =>
      val out = mutable.HashMap.empty[Long, M]
      ss.foreach { case (v, s) => send(s).foreach(out(v) = _) }
      es.flatMap { case (v, u) => out.get(v).map((u, _)) }
    }
    val inbox = new ShuffledRDD[Long, M, M](msgs, e.part)
      .setAggregator(Aggregator[Long, M, M]((m: M) => m, merge, merge))
      .setMapSideCombine(true)
    state.zipPartitions(inbox, preservesPartitioning = true) { (ss, in) =>
      val got = mutable.HashMap.empty[Long, M] ++= in
      ss.map { case (v, s) => (v, update(v, s, got.get(v))) }
    }
  }

  /** `rounds` [[step]]s from `state`. */
  def iterate[S: ClassTag, M: ClassTag](e: Edges, state: RDD[(Long, S)], rounds: Int)(
      send: S => Option[M], merge: (M, M) => M, update: (Long, S, Option[M]) => S): RDD[(Long, S)] =
    (1 to rounds).foldLeft(state)((s, _) => step(e, s)(send, merge, update))

  /** The final states as a DataFrame of `schema`: `row(v, s)` per node,
    * nodes mapped to `None` left out. Construction starts no job. */
  def frame[S](df: DataFrame, state: RDD[(Long, S)], schema: StructType)(
      row: (Long, S) => Option[Row]): DataFrame =
    df.sparkSession.createDataFrame(state.mapPartitions(_.flatMap { case (v, s) => row(v, s) }), schema)
}
