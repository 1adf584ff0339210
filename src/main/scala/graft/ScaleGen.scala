package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

/** sf1 generator for the scale rehearsal: derive a
  * ~10× corpus from the driver's sf0.1 parquet WITHOUT touching
  * /root/testdata (read-only), so the trunk families' wall-time
  * scaling can be measured instead of argued from plan shape.
  *
  * Replication semantics — chosen so growth stresses the engine the
  * way real corpus growth does, not the way naive row duplication
  * does:
  *
  *  - `documents`: replica r remaps doc_id (+r·10⁷) and applies a
  *    per-replica Caesar rotation of the letters (a bijective
  *    `translate`, length-preserving), making replica texts disjoint
  *    at the CHARACTER-SHINGLE level. Real growth brings new sources
  *    with new vocabulary; dup/near-dup clusters replicate
  *    within-replica. The first rehearsal used an `r<r>_` token
  *    prefix instead — and measured the lesson: prefixed tokens share
  *    most character shingles, so every base doc became a genuine
  *    10-clique of cross-replica near-dups (1.6M candidate pairs =
  *    100× at 10× docs — output-proportional cost manufactured by the
  *    data, not a plan defect; PERF.md round 14). Verbatim copies are
  *    worse still (9 exact twins per doc). Replica 0 is the original
  *    bytes.
  *  - `embeddings`: vec_id remaps; each replica's vectors get a small
  *    deterministic per-dimension jitter (±0.03, keyed on (r, dim)) so
  *    points are distinct — verbatim copies would put 10 zero-distance
  *    twins at every point and degenerate the kNN graph into replica
  *    cliques. Replica 0 is the original bytes.
  *  - every other table is byte-copied (the rehearsal families read
  *    only documents/embeddings; Bench's warmup reads region, and the
  *    events TIMESTAMP(NANOS) physical layout must survive verbatim —
  *    a Spark rewrite under nanosAsLong would silently retype it).
  *
  * Deterministic end to end: no randomness, replica transforms are
  * pure column expressions. Idempotent: skips generation if the out
  * dir already holds documents.parquet. */
object ScaleGen {

  private def copyTree(src: Path, dst: Path): Unit = {
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "target/sf1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10").toInt
    if (Files.exists(Paths.get(s"$out/documents.parquet"))) {
      println(s"[scalegen] $out already generated, skipping")
      return
    }
    val spark = GraftSession(32)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    (0 until reps).map { r =>
      val text =
        if (r == 0) col("text")
        else translate(col("text"),
          lower + upper,
          lower.drop(r) + lower.take(r) + upper.drop(r) + upper.take(r))
      docs.select(
        (col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until reps).map { r =>
      val vec =
        if (r == 0) col("embedding")
        else transform(col("embedding"), (x, i) =>
          (x + (pmod(lit(r) * 31 + i, lit(7)) - lit(3)).cast("float") * lit(0.01f))
            .cast("float"))
      emb.select(
        (col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    spark.stop()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach { t =>
      val s = Paths.get(s"$src/$t.parquet")
      if (Files.exists(s)) copyTree(s, Paths.get(s"$out/$t.parquet"))
    }
    println(s"[scalegen] wrote $out (reps=$reps from $src)")
  }
}
