package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: media payloads as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * The corpus has no real image/audio tables, so the media payload is
  * manufactured deterministically (UTF-8 bytes of `documents.text`) and
  * the DECODE step is a clearly-marked stub — the Spark-side contract
  * (schema, partition-batched processing, feature shape) is real and
  * tested. On a real corpus only [[MultimodalQueries.decodeStub]]
  * changes (swap in an image/audio codec); the plan shape — scan →
  * mapPartitions batch decode → relational feature columns — is the
  * 100 TB design: decode cost is embarrassingly parallel, feature
  * output is columnar, and nothing ever routes through the driver.
  */
object MultimodalQueries {

  /** Typed media record: binary payload + metadata, the schema a real
    * multimodal table would carry. */
  case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte], n_bytes: Long)

  /** Extracted feature row (fixed shape, columnar-friendly). */
  case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long,
      first_byte: Int, byte_sum_mod: Long, feature: Array[Float])

  /** STUB — deterministic fake decode for the generic feature-extract
    * shell. A real deployment replaces this body with an image/audio
    * decoder (the libs are not in this container); signature and batch
    * usage stay identical. The repo now ALSO carries a genuine
    * byte-level decoder over valid containers — [[decodeBmp]] /
    * [[mediaDecode]] (r13): real header parse, bpp/size validation,
    * row-level malformed lane — for the oracled decode path. */
  def decodeStub(payload: Array[Byte]): Array[Float] = {
    val dim = 8
    val out = new Array[Float](dim)
    var i = 0
    while (i < payload.length) { out(i % dim) += (payload(i) & 0xff) / 255.0f; i += 1 }
    out
  }

  /** The media "table": documents.text as UTF-8 payloads. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    val s = spark
    import s.implicits._
    Tables(spark, dir, "documents")
      .select(
        col("doc_id").as("media_id"),
        lit("text/utf-8").as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .as[MediaRecord]
  }

  /** Batch feature extraction: mapPartitions so a real decoder can
    * amortize per-batch init (model load, codec context) exactly like
    * `mapInPandas` batches — one init per partition, streamed rows. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { it =>
      // per-partition init of the (stubbed) decoder happens here
      it.map { r =>
        val feat = decodeStub(r.payload)
        val sum = r.payload.foldLeft(0L)((a, b) => a + (b & 0xff))
        MediaFeatures(r.media_id, r.kind, r.n_bytes,
          if (r.payload.nonEmpty) r.payload(0) & 0xff else -1,
          sum % 1000003L, feat)
      }
    }
  }

  /** Oracled slice of the pipeline: the byte-level features the stub
    * derives deterministically (payload length, first byte, content
    * fingerprint) — DuckDB reproduces them from the text column. The
    * float feature vector itself is exercised in ScalaTest. */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaTable(spark, dir)).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("first_byte"), col("byte_sum_mod"))
      .orderBy("media_id")

  val multimodalFeaturesSql: String =
    """SELECT doc_id AS media_id, 'text/utf-8' AS kind,
      |       CAST(strlen(text) AS BIGINT) AS n_bytes,
      |       ascii(substr(text, 1, 1)) AS first_byte,
      |       CAST(list_sum(list_transform(range(strlen(text)),
      |              i -> ascii(substr(text, CAST(i + 1 AS INTEGER), 1)))) % 1000003 AS BIGINT) AS byte_sum_mod
      |FROM documents
      |ORDER BY media_id""".stripMargin

  private val FrameBytes = 32
  private val Stride     = 4

  /** Frame sampling + resize (the video-shaped ops of the multimodal
    * surface): the payload is treated as a sequence of fixed-size
    * frames; every Stride-th complete frame is SAMPLED (explode over a
    * strided `sequence` — one output row per kept frame, no UDF), the
    * frame is sliced out of the binary payload, and its bytes are
    * RESIZED by 4:1 bin-sum pooling (the integer twin of average-pool
    * downsampling; a real pipeline swaps the byte arithmetic for pixel
    * arithmetic, the plan shape is identical). Frame indexing,
    * sampling and pooling are exact integer ops — fully oracled; the
    * corpus text is ASCII, so byte and character arithmetic agree
    * across engines (same equivalence `q_multimodal_features` relies
    * on). At 100 TB: one narrow scan, per-row explode bounded by
    * frames-per-media, no shuffle until a consumer aggregates. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    val binSum = (b: Int) =>
      expr(s"aggregate(transform(sequence(1, ${FrameBytes / 4}), j -> " +
        s"ascii(substring(text, frame_idx * $FrameBytes + $b * ${FrameBytes / 4} + j, 1))), 0, (a, v) -> a + v)")
        .as(s"bin$b")
    Tables(spark, dir, "documents")
      .select(col("doc_id").as("media_id"), col("text"),
        encode(col("text"), "UTF-8").as("payload"),
        floor(octet_length(col("text")) / FrameBytes).cast("int").as("n_frames"))
      .filter(col("n_frames") > 0)
      .withColumn("frame_idx", explode(expr(s"sequence(0, n_frames - 1, $Stride)")))
      .withColumn("frame", expr(s"substring(payload, frame_idx * $FrameBytes + 1, $FrameBytes)"))
      .select(
        Seq(col("media_id"), col("frame_idx"),
          octet_length(col("frame")).as("frame_bytes")) ++ (0 until 4).map(binSum): _*)
      .orderBy("media_id", "frame_idx")
  }

  private val SceneJump = 320 // ~p90 of consecutive-frame L1 jumps

  /** SCENE-CUT DETECTION (temporal segmentation of the frame stream):
    * consecutive [[FrameBytes]]-byte frames (stride 1 — segmentation
    * needs every boundary, unlike [[frameSample]]'s strided probe)
    * are pooled to the same 4-bin signatures, and a CUT fires where
    * the L1 jump between adjacent frame signatures exceeds
    * [[SceneJump]] — the classic histogram-difference shot-boundary
    * detector; a real pipeline swaps byte bins for color histograms,
    * the plan shape is identical. Per media: frame count, cut count,
    * the largest jump, and the mean scene length.
    *
    * Scale shape: one narrow scan, per-row frame explode bounded by
    * payload size, ONE window lag partitioned by media_id (the key
    * the exploded rows already carry), one groupBy finish. Bin sums
    * and L1 jumps are exact integers; the only division is the
    * fenced mean scene length. */
  def sceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binExpr = (b: Int) =>
      expr(s"aggregate(transform(sequence(1, ${FrameBytes / 4}), j -> " +
        s"ascii(substring(text, frame_idx * $FrameBytes + $b * ${FrameBytes / 4} + j, 1))), 0, (a, v) -> a + v)")
        .as(s"bin$b")
    val frames = Tables(spark, dir, "documents")
      .select(col("doc_id").as("media_id"), col("text"),
        floor(octet_length(col("text")) / FrameBytes).cast("int").as("n_frames"))
      .filter(col("n_frames") > 0)
      .withColumn("frame_idx", explode(expr("sequence(0, n_frames - 1, 1)")))
      .select(Seq(col("media_id"), col("frame_idx")) ++ (0 until 4).map(binExpr): _*)
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
    val jumps = frames
      .select(col("media_id"),
        (0 until 4).map(b =>
          abs(col(s"bin$b") - lag(s"bin$b", 1).over(w))).reduce(_ + _).as("l1"))
    jumps.groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("l1") > SceneJump, 1L).otherwise(0L)).as("n_cuts"),
        coalesce(max("l1"), lit(0)).cast("long").as("max_jump"))
      .filter(col("n_frames") > 1)
      .select(col("media_id"), col("n_frames"), col("n_cuts"), col("max_jump"),
        graft.functions.Det.rnd(col("n_frames").cast("double")
          / (col("n_cuts") + 1), 4).as("avg_scene_len"))
      .orderBy("media_id")
  }

  val sceneCutsSql: String = {
    val binSql = (b: Int) =>
      s"CAST(list_sum(list_transform(range(${FrameBytes / 4}), j -> " +
        s"ascii(substr(text, CAST(frame_idx * $FrameBytes + $b * ${FrameBytes / 4} + j + 1 AS INTEGER), 1)))) AS INTEGER) AS bin$b"
    val l1 = (0 until 4).map(b =>
      s"abs(bin$b - lag(bin$b) OVER w)").mkString(" + ")
    s"""WITH fr AS (
       |  SELECT media_id, frame_idx,
       |         ${(0 until 4).map(binSql).mkString(",\n         ")}
       |  FROM (SELECT doc_id AS media_id, text,
       |               unnest(range(0, CAST(floor(strlen(text) / $FrameBytes) AS BIGINT), 1)) AS frame_idx
       |        FROM documents WHERE strlen(text) >= $FrameBytes)),
       |j AS (
       |  SELECT media_id, $l1 AS l1
       |  FROM fr WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)),
       |g AS (
       |  SELECT media_id, count(*) AS n_frames,
       |         CAST(sum(CASE WHEN l1 > $SceneJump THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       |         CAST(coalesce(max(l1), 0) AS BIGINT) AS max_jump
       |  FROM j GROUP BY 1)
       |SELECT media_id, n_frames, n_cuts, max_jump,
       |       ${graft.functions.Det.rndSql(
            "CAST(n_frames AS DOUBLE) / (n_cuts + 1)", 4)} AS avg_scene_len
       |FROM g WHERE n_frames > 1
       |ORDER BY media_id""".stripMargin
  }

  /** Signature Hamming radius for [[mediaNeardup]] — strictly inside
    * the banding's deterministic radius 11 (see below), so candidate
    * generation provably reaches every pair the signature filter
    * accepts: recall 1.0 by pigeonhole, not by probability. Measured
    * corpus margin: true near-dup pairs sit at Hamming ≤ 6 of 128,
    * random pairs at mean 41.6. */
  private val HamThreshold = 10

  /** Exact-verification cut: relative L1 distance between the full
    * 129-bin window histograms ≤ 1/[[L1Denom]], evaluated in exact
    * integer form `Σ|h1ₖ·n2 − h2ₖ·n1| ≤ (n1·n2) div L1Denom` (nᵢ =
    * window count; floor-division is equivalent to the cross-multiplied
    * inequality for integer left sides, and avoids multiplying the L1
    * sum — which can reach 2·n1·n2 — by L1Denom, keeping every
    * intermediate under 2·len² i.e. ANSI-safe to ~2 GB payloads).
    * Measured margin: true pairs ≤ 0.15, random pairs ≥ 0.25 — the
    * cut at 0.2 splits the gap. */
  private val L1Denom = 5

  /** Perceptual-signature near-duplicate MEDIA pairs (VERDICT r4 #2) —
    * the multimodal analog of [[DedupQueries.simhashPairs]], over the
    * opaque binary payload: all media pairs whose content-window
    * histograms ([[graft.functions.MediaSig]]) agree to relative L1 ≤
    * 1/[[L1Denom]] AND whose 128-bit gradient signatures are within
    * Hamming [[HamThreshold]].
    *
    * Pipeline (the multimodal twin of the text dedup layout):
    *   1. exact collapse — md5 of the PAYLOAD groups byte-identical
    *      media to one representative (a 10⁶-copy image costs O(10⁶)
    *      here, never a quadratic bucket);
    *   2. feature per representative — the 129-bin window histogram,
    *      one codegen'd pass per payload, plus its aHash/dHash-style
    *      128-bit gradient compaction (bit i = [hist(i) < hist(i+1)],
    *      packed into two longs);
    *   3. banded Hamming candidates on the signature — 4 bands × 32
    *      bits with symmetric 1-flip probes: two signatures collide
    *      on a band iff that band differs in ≤ 2 bits, so by
    *      pigeonhole any pair within Hamming 11 collides somewhere
    *      (4 bands × 3 errors each would need ≥ 12) — DETERMINISTIC
    *      radius-11 recall, covering the ≤ [[HamThreshold]] = 10
    *      filter entirely; oversized buckets are salt-sharded, not
    *      dropped ([[DedupQueries.bucketJoinPairs]]). 32-bit bands
    *      keep a random pair's band-collision odds under 1e-3 even
    *      though unrelated same-language docs agree on ~2/3 of
    *      gradient bits — the 64-bit form admitted ~20% of ALL pairs
    *      (measured: 25M → 1.1M join rows at sf0.1, see
    *      [[graft.functions.MediaSig]]);
    *   4. verify — exact signature Hamming ≤ 10, then exact integer
    *      L1 over the FULL histograms (the byte-level feature
    *      distance; kills any random pair that slips the signature
    *      filter — measured: their L1 ≥ 0.25 vs true pairs ≤ 0.15);
    *   5. expand — member pairs through the exact-payload groups
    *      (identical payload ⇒ identical histogram: intra-group
    *      Hamming is 0, inter-group pairs inherit the
    *      representatives').
    *
    * Every stage is integer-deterministic, so DuckDB replays the WHOLE
    * contract semantically (brute-force all-pairs over the same
    * histogram definition) and the driver hash-checks the result —
    * same oracle pattern as q_ann_lsh. At 100 TB: linear feature pass,
    * Σ bucket² candidate work, histograms joined only for surviving
    * candidates, no all-pairs stage. */
  def mediaNeardup(spark: SparkSession, dir: String): DataFrame =
    mediaPairsScratch(spark, dir).orderBy("m1", "m2")

  /** One-time keyed pin of the verified perceptual near-dup pairs —
    * the dedup-trunk pattern (r15 optimization): [[mediaNeardup]] (the
    * pair audit) and [[mediaClusters]] (components over the same
    * pairs) each re-ran the full hist→signature→band→verify pipeline
    * per invocation; now the first caller materializes the pair
    * relation once per (session, dir) and the other does a columnar
    * read. The re-sort after the read is the only re-done work (the
    * relation is output-sized). */
  private[graft] def mediaPairsScratch(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.pinKeyed(spark, "media-pairs", dir)(
      mediaNeardupOn(mediaTable(spark, dir).toDF()))

  /** Eager materialization of the media pair trunk — the
    * `_setup_media_pairs` bench label ([[graft.Bench]]): whichever of
    * the two consumers runs first must not absorb the one-time
    * pipeline cost by bench-order luck (the `_setup_dedup_trunk`
    * discipline). */
  def materializeMediaPairs(spark: SparkSession, dir: String): Unit = {
    mediaPairsScratch(spark, dir)
    ()
  }

  /** Feature + signature in one narrow projection per media row
    * (media_id, feat, n, ph0, ph1); n = window count. The 128 gradient
    * bits pack into TWO longs: bit 63 of each lands as Long.MIN_VALUE,
    * and because each power of two is added once, no partial sum ever
    * leaves the long range (ANSI-safe). Shared by [[mediaNeardupOn]]
    * (over representatives) and [[mediaIncremental]] (over both ingest
    * sides). */
  private def sigsOf(media: DataFrame): DataFrame = {
    graft.functions.MediaHist.register(media.sparkSession)
    def packBits(lo: Int): String =
      s"aggregate(sequence($lo, ${lo + 63}), 0L, (acc, i) -> " +
        s"acc + IF(element_at(feat, i + 1) < element_at(feat, i + 2), shiftleft(1L, i - $lo), 0L))"
    media
      .select(col("media_id"), expr("media_hist(payload)").as("feat"),
        greatest(octet_length(col("payload")) - (graft.functions.MediaSig.Win - 1), lit(0))
          .cast("long").as("n"))
      .withColumn("ph0", expr(packBits(0)))
      .withColumn("ph1", expr(packBits(64)))
  }

  /** Same pipeline on an arbitrary (media_id, payload) frame — the
    * ScalaTest entry for planted near-dup fixtures. */
  private[graft] def mediaNeardupOn(media: DataFrame): DataFrame = {
    val groups = media
      .select(col("media_id"), md5(col("payload")).as("fp"))
      .withColumn("rep", min("media_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .select("media_id", "rep")
      .transform(graft.Tables.scratchPin(_, "media-groups")) // media-corpus-linear — durable pin (r11)
    val reps = media.join(
      groups.filter(col("media_id") === col("rep")).select("media_id"), "media_id")
    val sig = sigsOf(reps)
      .transform(graft.Tables.scratchPin(_, "media-sigs")) // one 129-long array/rep, rep-linear — durable pin (r11)
    val nBands = 4
    val bandBits = 32
    val bandCols = (0 until nBands).map { b =>
      val src = if (b < 2) col("ph0") else col("ph1")
      struct(lit(b).as("band"),
        shiftright(src, (b % 2) * bandBits).bitwiseAND((1L << bandBits) - 1).as("bh"))
    }
    val banded = sig.select(col("media_id").as("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val cand = DedupQueries.bucketJoinPairs(
      banded.select(col("doc_id"), col("band"),
        explode(expr(s"concat(array(bh), transform(sequence(0, ${bandBits - 1}), b -> bh ^ shiftleft(1L, b)))"))
          .as("pv")),
      Seq("band", "pv"))
    // two-phase verify (r16, guide §2.3 — shuffle metadata, attach the
    // payload after): the banded candidate stream is ~1M pairs at
    // sf0.1 while Hamming survivors are output-proportional, so the
    // Hamming phase joins only the NARROW (ph0, ph1, n) columns — the
    // 129-long histogram arrays used to ride both joins for every
    // candidate — and the exact-L1 phase re-joins `feat` for the few
    // survivors. Same predicates on the same pairs, value-identical.
    val l1x = expr("aggregate(zip_with(f1, f2, (a, b) -> abs(a * n2 - b * n1)), 0L, (acc, v) -> acc + v)")
    val sigN = sig.select(col("media_id"), col("ph0"), col("ph1"), col("n"))
    val ham = cand
      .join(sigN.select(col("media_id").as("d1"),
        col("ph0").as("h01"), col("ph1").as("h11"), col("n").as("n1")), "d1")
      .join(sigN.select(col("media_id").as("d2"),
        col("ph0").as("h02"), col("ph1").as("h12"), col("n").as("n2")), "d2")
      .withColumn("hamming", bit_count(col("h01").bitwiseXOR(col("h02")))
        + bit_count(col("h11").bitwiseXOR(col("h12"))))
      .filter(col("hamming") <= HamThreshold)
      .select("d1", "d2", "hamming", "n1", "n2")
    val verified = ham
      .join(sig.select(col("media_id").as("d1"), col("feat").as("f1")), "d1")
      .join(sig.select(col("media_id").as("d2"), col("feat").as("f2")), "d2")
      .filter(l1x <= expr(s"(n1 * n2) div $L1Denom"))
      .select("d1", "d2", "hamming")
      .distinct()
    val members = groups.select(col("rep"), col("media_id").as("m"))
    val inter = verified
      .join(members.select(col("rep").as("d1"), col("m").as("m1")), "d1")
      .join(members.select(col("rep").as("d2"), col("m").as("m2")), "d2")
      .select(least(col("m1"), col("m2")).as("m1"),
        greatest(col("m1"), col("m2")).as("m2"), col("hamming"))
    val intra = members.alias("a")
      .join(members.alias("b"), "rep")
      .filter(col("a.m") < col("b.m"))
      .select(col("a.m").as("m1"), col("b.m").as("m2"),
        lit(0).cast("int").as("hamming"))
    inter.unionByName(intra).orderBy("m1", "m2")
  }

  /** The histogram/bits/n CTE prefix of the media oracles — 4-byte
    * windows hashed with the ·31 rolling hash in the 31-bit ring into
    * 129 bins, gradient bits compared per-index (no BIGINT packing,
    * so bit 63 needs no signed-overflow care). The corpus payload is
    * the UTF-8 bytes of ASCII text, so `ascii(substr(..))` enumerates
    * payload bytes exactly (the equivalence [[multimodalFeaturesSql]]
    * already relies on). Shared by [[mediaNeardupSql]] and
    * [[mediaIncrementalSql]]. */
  private val mediaHistCteSql: String = {
    val bins = graft.functions.MediaSig.Bins
    def byte(k: Int) = s"ascii(substr(text, CAST(i + $k AS INTEGER), 1))"
    s"""pos AS (
       |  SELECT doc_id, text, unnest(range(greatest(strlen(text) - 3, 0))) AS i
       |  FROM documents),
       |w AS (
       |  SELECT doc_id,
       |         ((((((${byte(1)} * 31 + ${byte(2)}) & 2147483647) * 31
       |            + ${byte(3)}) & 2147483647) * 31
       |            + ${byte(4)}) & 2147483647) % $bins AS bin
       |  FROM pos),
       |hist AS (SELECT doc_id, bin, count(*) AS c FROM w GROUP BY 1, 2),
       |grid AS (
       |  SELECT d.doc_id, g.bin, coalesce(h.c, 0) AS c
       |  FROM (SELECT doc_id FROM documents) d
       |  CROSS JOIN (SELECT unnest(range($bins)) AS bin) g
       |  LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.bin = g.bin),
       |n AS (SELECT doc_id, greatest(strlen(text) - 3, 0) AS n FROM documents),
       |bits AS (
       |  SELECT a.doc_id, a.bin AS bit,
       |         CASE WHEN a.c < b.c THEN 1 ELSE 0 END AS bv
       |  FROM grid a JOIN grid b ON b.doc_id = a.doc_id AND b.bin = a.bin + 1
       |  WHERE a.bin < 128)""".stripMargin
  }

  /** The verified all-pairs CTE suffix (ham + l1 + `pairs`) of the
    * media oracles — brute-force all-pairs over the SAME integer
    * definitions, histogram L1 in the cross-multiplied integer form.
    * Running it over ALL docs (not representatives) is equivalent to
    * the engine's collapse+expand: identical payloads have identical
    * histograms. Shared verbatim by [[mediaNeardupSql]] and
    * [[mediaClustersSql]] so the two cannot drift. */
  private val mediaPairsCteSql: String =
    s"""ham AS (
       |  SELECT a.doc_id AS m1, b.doc_id AS m2,
       |         sum(CASE WHEN a.bv <> b.bv THEN 1 ELSE 0 END) AS h
       |  FROM bits a JOIN bits b ON a.bit = b.bit AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |l1 AS (
       |  SELECT a.doc_id AS m1, b.doc_id AS m2,
       |         sum(abs(a.c * n2.n - b.c * n1.n)) AS l1x,
       |         max(n1.n) AS n1, max(n2.n) AS n2
       |  FROM grid a JOIN grid b ON a.bin = b.bin AND a.doc_id < b.doc_id
       |  JOIN n n1 ON n1.doc_id = a.doc_id
       |  JOIN n n2 ON n2.doc_id = b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT ham.m1, ham.m2, CAST(ham.h AS INTEGER) AS hamming
       |  FROM ham JOIN l1 ON l1.m1 = ham.m1 AND l1.m2 = ham.m2
       |  WHERE ham.h <= $HamThreshold AND l1.l1x <= (l1.n1 * l1.n2) // $L1Denom)""".stripMargin

  val mediaNeardupSql: String =
    s"""WITH $mediaHistCteSql,
       |$mediaPairsCteSql
       |SELECT m1, m2, hamming FROM pairs
       |ORDER BY m1, m2""".stripMargin

  /** Media dedup CLUSTERS — connected components over the verified
    * perceptual near-dup pairs ([[mediaNeardup]]), completing the
    * multimodal family the same way [[DedupQueries.dedupClustersFull]]
    * completes the text family: pairs are the verification contract,
    * the (member → canonical, is_canonical) decision is what a
    * pipeline actually materializes. Reuses the min-label fixpoint
    * ([[DedupQueries.components]] — path-halving, observed-count
    * convergence), so the scale argument is inherited: the label table
    * is one row per media item IN a near-dup relation, not per corpus
    * row, and rounds are O(log diameter). Output covers exactly the
    * media ids that appear in some pair (singletons are their own
    * canonical trivially and are omitted, matching the text clusters
    * contract). */
  def mediaClusters(spark: SparkSession, dir: String): DataFrame =
    DedupQueries.components(
        mediaPairsScratch(spark, dir).select(col("m1").as("d1"), col("m2").as("d2")),
        "cc-media")
      .select(col("doc").as("media_id"), col("root").as("canonical_id"),
        (col("doc") === col("root")).as("is_canonical"))
      .orderBy("media_id")

  /** DuckDB twin of [[mediaClusters]]: the [[mediaNeardupSql]] pair
    * query feeding a recursive transitive closure + min-label root
    * (the [[TextQueries.dedupClustersSql]] pattern). */
  val mediaClustersSql: String =
    s"""WITH RECURSIVE $mediaHistCteSql,
       |$mediaPairsCteSql,
       |ed AS (SELECT m1 AS d1, m2 AS d2 FROM pairs UNION ALL SELECT m2, m1 FROM pairs),
       |tc AS (
       |  SELECT d1 AS a, d2 AS b FROM ed
       |  UNION
       |  SELECT tc.a, ed.d2 FROM tc JOIN ed ON tc.b = ed.d1 WHERE tc.a <> ed.d2
       |)
       |SELECT media_id, canonical_id, media_id = canonical_id AS is_canonical FROM (
       |  SELECT a AS media_id, least(a, min(b)) AS canonical_id FROM tc GROUP BY a)
       |ORDER BY media_id""".stripMargin

  /** INCREMENTAL media ingest dedup — the multimodal twin of
    * [[DedupQueries.dedupIncremental]]: perceptual near-dups of the
    * NEW media batch (media_id ≡ 7 mod 10, the text family's split
    * convention) against the EXISTING corpus, cross pairs only. The
    * corpus side is signed and indexed under its PLAIN band values
    * (in production this banded signature index persists across
    * batches); only the batch side fans out, and because Hamming
    * banding cannot probe symmetrically from one side, the batch
    * probes each 32-bit band's ≤ 2-bit flips (1 + 32 + 496 = 529
    * rows/band — batch-proportional, corpus-independent). Pigeonhole:
    * a pair within Hamming 11 has SOME band differing in ≤ 2 bits
    * (4 bands × ≥ 3 would need ≥ 12), so asymmetric 2-flip probing
    * deterministically covers the ≤ [[HamThreshold]] = 10 verify cut —
    * same recall-by-construction contract as [[mediaNeardup]], at the
    * honest asymmetric fan-out cost. Hot index buckets are
    * salt-sharded ([[DedupQueries.asymBucketJoinPairs]]); verification
    * is the exact signature Hamming + integer-L1 cut. Output:
    * (existing_id, new_id, hamming). */
  def mediaIncremental(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(spark, dir).toDF()
    val corpus = sigsOf(media.filter(pmod(col("media_id"), lit(10)) =!= 7))
      .transform(graft.Tables.scratchPin(_, "mediainc-corpus")) // index side, media-linear — durable pin (r11)
    val batch = sigsOf(media.filter(pmod(col("media_id"), lit(10)) === 7))
      .transform(graft.Tables.scratchPin(_, "mediainc-batch")) // probe side, batch-linear — durable pin (r11)
    val nBands = 4
    val bandBits = 32
    def bandCols(src0: String, src1: String) = (0 until nBands).map { b =>
      val src = if (b < 2) col(src0) else col(src1)
      struct(lit(b).as("band"),
        shiftright(src, (b % 2) * bandBits).bitwiseAND((1L << bandBits) - 1).as("bh"))
    }
    val indexBanded = corpus
      .select(col("media_id").as("doc_id"), explode(array(bandCols("ph0", "ph1"): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("pv"))
    // ≤2-flip probe fan-out: the band value, every 1-flip, every 2-flip
    val flips =
      s"""concat(array(bh),
         |  transform(sequence(0, ${bandBits - 1}), i -> bh ^ shiftleft(1L, i)),
         |  flatten(transform(sequence(0, ${bandBits - 2}), i ->
         |    transform(sequence(i + 1, ${bandBits - 1}), j ->
         |      bh ^ shiftleft(1L, i) ^ shiftleft(1L, j)))))""".stripMargin
    val probeBanded = batch
      .select(col("media_id").as("doc_id"), explode(array(bandCols("ph0", "ph1"): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
      .select(col("doc_id"), col("band"), explode(expr(flips)).as("pv"))
    val cand = DedupQueries.asymBucketJoinPairs(indexBanded, probeBanded, Seq("band", "pv"))
      .distinct()
    // NOTE (r16 optimization pass): the mediaNeardupOn two-phase
    // verify (narrow Hamming join first, arrays only for survivors)
    // was tried HERE too and MEASURED SLOWER (1.77 → ~2.1s at matched
    // canary): the asymmetric candidate stream is batch-proportional —
    // small enough that the second join's fixed cost exceeds the
    // array-shuffle saving. Left single-phase on purpose; the
    // symmetric all-pairs path (~1M candidates) keeps the two-phase
    // shape.
    val l1x = expr("aggregate(zip_with(f1, f2, (a, b) -> abs(a * n2 - b * n1)), 0L, (acc, v) -> acc + v)")
    cand
      .join(corpus.select(col("media_id").as("d1"), col("feat").as("f1"),
        col("ph0").as("h01"), col("ph1").as("h11"), col("n").as("n1")), "d1")
      .join(batch.select(col("media_id").as("d2"), col("feat").as("f2"),
        col("ph0").as("h02"), col("ph1").as("h12"), col("n").as("n2")), "d2")
      .withColumn("hamming", bit_count(col("h01").bitwiseXOR(col("h02")))
        + bit_count(col("h11").bitwiseXOR(col("h12"))))
      .filter(col("hamming") <= HamThreshold)
      .filter(l1x <= expr(s"(n1 * n2) div $L1Denom"))
      .select(col("d1").as("existing_id"), col("d2").as("new_id"),
        col("hamming").cast("int").as("hamming"))
      .orderBy("existing_id", "new_id")
  }

  /** DuckDB oracle of [[mediaIncremental]]: the brute-force CROSS-pair
    * restriction of [[mediaNeardupSql]] (corpus side = media_id ≢ 7,
    * batch side = ≡ 7 mod 10). */
  val mediaIncrementalSql: String =
    s"""WITH $mediaHistCteSql,
       |ham AS (
       |  SELECT a.doc_id AS m1, b.doc_id AS m2,
       |         sum(CASE WHEN a.bv <> b.bv THEN 1 ELSE 0 END) AS h
       |  FROM bits a JOIN bits b ON a.bit = b.bit
       |  WHERE a.doc_id % 10 <> 7 AND b.doc_id % 10 = 7
       |  GROUP BY 1, 2),
       |l1 AS (
       |  SELECT a.doc_id AS m1, b.doc_id AS m2,
       |         sum(abs(a.c * n2.n - b.c * n1.n)) AS l1x,
       |         max(n1.n) AS n1, max(n2.n) AS n2
       |  FROM grid a JOIN grid b ON a.bin = b.bin
       |  JOIN n n1 ON n1.doc_id = a.doc_id
       |  JOIN n n2 ON n2.doc_id = b.doc_id
       |  WHERE a.doc_id % 10 <> 7 AND b.doc_id % 10 = 7
       |  GROUP BY 1, 2)
       |SELECT ham.m1 AS existing_id, ham.m2 AS new_id,
       |       CAST(ham.h AS INTEGER) AS hamming
       |FROM ham JOIN l1 ON l1.m1 = ham.m1 AND l1.m2 = ham.m2
       |WHERE ham.h <= $HamThreshold AND l1.l1x <= (l1.n1 * l1.n2) // $L1Denom
       |ORDER BY existing_id, new_id""".stripMargin

  val frameSampleSql: String = {
    val binSum = (b: Int) =>
      s"CAST(list_sum(list_transform(range(${FrameBytes / 4}), j -> " +
        s"ascii(substr(text, CAST(frame_idx * $FrameBytes + $b * ${FrameBytes / 4} + j + 1 AS INTEGER), 1)))) AS INTEGER) AS bin$b"
    s"""SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx, $FrameBytes AS frame_bytes,
       |       ${(0 until 4).map(binSum).mkString(",\n       ")}
       |FROM (SELECT doc_id AS media_id, text,
       |             unnest(range(0, CAST(floor(strlen(text) / $FrameBytes) AS BIGINT), $Stride)) AS frame_idx
       |      FROM documents
       |      WHERE strlen(text) >= $FrameBytes)
       |ORDER BY media_id, frame_idx""".stripMargin
  }

  private val FrameDupL1 = 80 // Σ|Δbin| cut; ~p5 of the gate corpus's deltas, so the flag path exercises (a real video corpus sits near 0)

  /** Within-media duplicate-FRAME detection — the static-scene drop a
    * video ingest runs before paying decode/embedding cost per frame:
    * each sampled frame's 4-bin signature compares against the
    * PREVIOUS sampled frame (lag inside a per-media window); an L1
    * delta ≤ [[FrameDupL1]] marks a static frame. Emits the per-media
    * census (frames, static frames, static share, longest static
    * run — the run via the gaps-and-islands rank trick on the frame
    * sequence). Exact integers; windows media-partitioned. */
  def frameDedup(spark: SparkSession, dir: String): DataFrame =
    frameDedupOn(Tables(spark, dir, "documents"))

  private[graft] def frameDedupOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binSum = (b: Int) =>
      expr(s"aggregate(transform(sequence(1, ${FrameBytes / 4}), j -> " +
        s"ascii(substring(text, frame_idx * $FrameBytes + $b * ${FrameBytes / 4} + j, 1))), 0, (a, v) -> a + v)")
        .as(s"bin$b")
    val frames = docs
      .select(col("doc_id").as("media_id"), col("text"),
        floor(octet_length(col("text")) / FrameBytes).cast("int").as("n_frames"))
      .filter(col("n_frames") > 0)
      .withColumn("frame_idx", explode(expr(s"sequence(0, n_frames - 1, $Stride)")))
      .select(Seq(col("media_id"), col("frame_idx")) ++ (0 until 4).map(binSum): _*)
    val byMedia = Window.partitionBy("media_id").orderBy("frame_idx")
    val l1 = (0 until 4).map(b =>
      abs(col(s"bin$b") - lag(s"bin$b", 1).over(byMedia))).reduce(_ + _)
    val flagged = frames
      .withColumn("l1", l1)
      .withColumn("static", when(col("l1") <= FrameDupL1, 1L).otherwise(0L))
      .withColumn("rn", row_number().over(byMedia))
    // longest static run: rank-minus-rank islands over static rows
    val runs = flagged.filter(col("static") === 1L)
      .withColumn("grp", col("rn") -
        row_number().over(Window.partitionBy("media_id").orderBy("rn")))
      .groupBy("media_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("media_id").agg(max("len").as("longest_static_run"))
    flagged.groupBy("media_id")
      .agg(count(lit(1)).as("n_sampled"), sum("static").as("n_static"))
      .join(runs, Seq("media_id"), "left")
      .select(col("media_id"), col("n_sampled"), col("n_static"),
        graft.functions.Det.rnd(
          col("n_static").cast("double") / col("n_sampled"), 6).as("static_share"),
        coalesce(col("longest_static_run"), lit(0L)).as("longest_static_run"))
      .filter(col("n_static") > 0)
      .orderBy("media_id")
  }

  val frameDedupSql: String = {
    val binSum = (b: Int) =>
      s"CAST(list_sum(list_transform(range(${FrameBytes / 4}), j -> " +
        s"ascii(substr(text, CAST(frame_idx * $FrameBytes + $b * ${FrameBytes / 4} + j + 1 AS INTEGER), 1)))) AS INTEGER) AS bin$b"
    s"""WITH frames AS (
       |  SELECT media_id, frame_idx, ${(0 until 4).map(binSum).mkString(", ")}
       |  FROM (SELECT doc_id AS media_id, text,
       |               unnest(range(0, CAST(floor(strlen(text) / $FrameBytes) AS BIGINT), $Stride)) AS frame_idx
       |        FROM documents
       |        WHERE strlen(text) >= $FrameBytes)),
       |lagd AS (
       |  SELECT media_id, frame_idx,
       |         ${(0 until 4).map(b => s"abs(bin$b - lag(bin$b) OVER w)").mkString(" + ")} AS l1,
       |         row_number() OVER w AS rn
       |  FROM frames WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)),
       |flagged AS (
       |  SELECT media_id, rn,
       |         CASE WHEN l1 <= $FrameDupL1 THEN 1 ELSE 0 END AS static
       |  FROM lagd),
       |runs AS (
       |  SELECT media_id, CAST(max(len) AS BIGINT) AS longest_static_run FROM (
       |    SELECT media_id, grp, count(*) AS len FROM (
       |      SELECT media_id, rn,
       |             rn - row_number() OVER (PARTITION BY media_id ORDER BY rn) AS grp
       |      FROM flagged WHERE static = 1)
       |    GROUP BY media_id, grp)
       |  GROUP BY media_id),
       |census AS (
       |  SELECT media_id, count(*) AS n_sampled,
       |         CAST(sum(static) AS BIGINT) AS n_static
       |  FROM flagged GROUP BY media_id)
       |SELECT c.media_id, c.n_sampled, c.n_static,
       |       ${graft.functions.Det.rndSql("CAST(c.n_static AS DOUBLE) / c.n_sampled", 6)} AS static_share,
       |       coalesce(r.longest_static_run, 0) AS longest_static_run
       |FROM census c LEFT JOIN runs r USING (media_id)
       |WHERE c.n_static > 0
       |ORDER BY c.media_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // REAL byte-level media decode (VERDICT r12 #7): manufacture VALID
  // minimal BMP containers over the deterministic payload bytes, then
  // genuinely PARSE them — magic check, little-endian header fields,
  // bpp validation, pixel-stat pass, malformed-payload error lane —
  // in the same batched mapPartitions shell [[decodeStub]] documents.
  // The container build and the decode are separate passes on purpose:
  // the decoder never sees the builder's variables, only bytes.

  private val BmpWidth     = 4        // px; 4·3 B = 12 B rows, already 4-byte aligned
  private val BmpRowBytes  = BmpWidth * 3
  private val BmpHeaderLen = 54       // 14 file header + 40 BITMAPINFOHEADER

  /** Decoded BMP stats (or the error lane). `status` is `ok` or the
    * parse failure class; stats are null off the ok lane. */
  case class BmpDecoded(
      media_id: Long, status: String,
      width: Option[Int], height: Option[Int], bpp: Option[Int],
      n_px: Option[Long], px_sum: Option[Long],
      px_min: Option[Int], px_max: Option[Int])

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** A VALID 24-bpp bottom-up BMP whose pixel array is `pixels`
    * verbatim (length must be a multiple of [[BmpRowBytes]]). */
  private[graft] def buildBmp(pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length % BmpRowBytes == 0, "pixel array must be whole rows")
    val h = pixels.length / BmpRowBytes
    val out = java.nio.ByteBuffer.allocate(BmpHeaderLen + pixels.length)
    out.put('B'.toByte).put('M'.toByte)
      .put(le32(BmpHeaderLen + pixels.length)) // file size
      .put(le32(0))                            // reserved
      .put(le32(BmpHeaderLen))                 // pixel-array offset
      .put(le32(40))                           // info-header size
      .put(le32(BmpWidth)).put(le32(h))
      .put(le16(1))                            // planes
      .put(le16(24))                           // bpp
      .put(le32(0))                            // BI_RGB
      .put(le32(pixels.length))                // image size
      .put(le32(0)).put(le32(0))               // ppm x/y
      .put(le32(0)).put(le32(0))               // palette counts
      .put(pixels)
    out.array()
  }

  private def rdLe32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def rdLe16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** The genuine decoder: every branch is a real container check a
    * production codec performs, and each failure class is its own
    * error-lane status (row-level — one bad payload never poisons the
    * partition). */
  private[graft] def decodeBmp(id: Long, payload: Array[Byte]): BmpDecoded = {
    def bad(status: String) =
      BmpDecoded(id, status, None, None, None, None, None, None, None)
    if (payload.length < BmpHeaderLen) bad("too_short")
    else if (payload(0) != 'B'.toByte || payload(1) != 'M'.toByte) bad("bad_magic")
    else {
      val fileSize = rdLe32(payload, 2)
      val offset   = rdLe32(payload, 10)
      val width    = rdLe32(payload, 18)
      val height   = rdLe32(payload, 22)
      val bpp      = rdLe16(payload, 28)
      val rowBytes = ((width * 3 + 3) / 4) * 4
      val nBytes   = rowBytes.toLong * height
      if (bpp != 24) bad("unsupported_bpp")
      else if (fileSize != payload.length) bad("size_mismatch")
      else if (offset < BmpHeaderLen || offset + nBytes > payload.length)
        bad("truncated_pixels")
      else {
        var i = offset
        val end = offset + nBytes.toInt
        var sum = 0L; var mn = 255; var mx = 0
        while (i < end) {
          val v = payload(i) & 0xff
          sum += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          i += 1
        }
        BmpDecoded(id, "ok", Some(width), Some(height), Some(bpp),
          Some(width.toLong * height), Some(sum), Some(mn), Some(mx))
      }
    }
  }

  /** The BMP "camera roll": one container per document with ≥ 1 whole
    * pixel row of text bytes (ASCII corpus ⇒ byte == codepoint, the
    * equivalence every multimodal oracle rides). Docs with
    * `doc_id % 7 == 0` are CORRUPTED at the magic — the malformed
    * lane the decoder must absorb row-level. */
  def bmpContainers(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    val s = spark
    import s.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(octet_length(col("text")) >= BmpRowBytes)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          val rows = bytes.length / BmpRowBytes
          val bmp = buildBmp(bytes.take(rows * BmpRowBytes))
          if (id % 7 == 0) { bmp(0) = 'X'.toByte; bmp(1) = 'X'.toByte }
          MediaRecord(id, "image/bmp", bmp, bmp.length.toLong)
        }
      }
  }

  /** The oracled decode pass: scan → mapPartitions parse → columnar
    * stats + error lane, ordered by media id. DuckDB reproduces the
    * ok-lane stats from the text column by byte algebra (height =
    * strlen div 12, pixel stats over the first height·12 codepoints)
    * and the error lane from the corruption rule — so the oracle
    * checks the PARSER recovered exactly the fields the builder
    * encoded. At 100 TB: decode is embarrassingly parallel per
    * partition, output is columnar, nothing routes through the
    * driver. */
  def mediaDecode(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    bmpContainers(spark, dir)
      .mapPartitions { it =>
        // per-partition decoder init would go here (codec context)
        it.map(r => decodeBmp(r.media_id, r.payload))
      }
      .toDF()
      .select(col("media_id"), col("status"), col("width"), col("height"),
        col("bpp"), col("n_px"), col("px_sum"), col("px_min"), col("px_max"),
        graft.functions.Det.rnd(col("px_sum").cast("double") / col("n_px"), 6)
          .as("px_mean"))
      .orderBy("media_id")
  }

  val mediaDecodeSql: String = {
    val pxChars = s"CAST((strlen(text) // $BmpRowBytes) * $BmpRowBytes AS INTEGER)"
    s"""WITH px AS (
       |  SELECT doc_id AS media_id, doc_id % 7 = 0 AS corrupt,
       |         list_transform(range($pxChars),
       |           i -> ascii(substr(text, CAST(i + 1 AS INTEGER), 1))) AS b,
       |         CAST(strlen(text) // $BmpRowBytes AS INTEGER) AS h
       |  FROM documents WHERE strlen(text) >= $BmpRowBytes)
       |SELECT media_id,
       |       CASE WHEN corrupt THEN 'bad_magic' ELSE 'ok' END AS status,
       |       CASE WHEN corrupt THEN NULL ELSE $BmpWidth END AS width,
       |       CASE WHEN corrupt THEN NULL ELSE h END AS height,
       |       CASE WHEN corrupt THEN NULL ELSE 24 END AS bpp,
       |       CASE WHEN corrupt THEN NULL
       |            ELSE CAST($BmpWidth * h AS BIGINT) END AS n_px,
       |       CASE WHEN corrupt THEN NULL
       |            ELSE CAST(list_sum(b) AS BIGINT) END AS px_sum,
       |       CASE WHEN corrupt THEN NULL
       |            ELSE CAST(list_min(b) AS INTEGER) END AS px_min,
       |       CASE WHEN corrupt THEN NULL
       |            ELSE CAST(list_max(b) AS INTEGER) END AS px_max,
       |       CASE WHEN corrupt THEN NULL
       |            ELSE ${graft.functions.Det.rndSql(
                     s"CAST(list_sum(b) AS DOUBLE) / ($BmpWidth * h)", 6)}
       |       END AS px_mean
       |FROM px
       |ORDER BY media_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // WAV decode — the AUDIO twin of the BMP lane (r13): a RIFF/WAVE
  // container demands genuine CHUNK WALKING (fmt/data/unknown chunks
  // with even-padding), not just a fixed-offset header read — the
  // parse structure every real media demuxer has. Some containers get
  // a junk chunk inserted before `data` so the walk is actually
  // exercised on the happy path.

  /** Decoded WAV stats (or the error lane). */
  case class WavDecoded(
      media_id: Long, status: String,
      n_samples: Option[Long], s_min: Option[Int], s_max: Option[Int],
      s_sum: Option[Long])

  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** A VALID 16-bit mono PCM WAV whose data chunk is `data` verbatim
    * (length must be even); `withJunk` inserts an unknown 6-byte chunk
    * (odd size → pad byte) between fmt and data. */
  private[graft] def buildWav(data: Array[Byte], withJunk: Boolean): Array[Byte] = {
    require(data.length % 2 == 0, "PCM16 data must be whole samples")
    val junkLen = if (withJunk) 8 + 5 + 1 else 0 // hdr + odd size + pad
    val riffSize = 4 + 24 + junkLen + 8 + data.length
    val out = java.nio.ByteBuffer.allocate(8 + riffSize)
    out.put(fourcc("RIFF")).put(le32(riffSize)).put(fourcc("WAVE"))
      .put(fourcc("fmt ")).put(le32(16))
      .put(le16(1))      // PCM
      .put(le16(1))      // mono
      .put(le32(8000))   // sample rate
      .put(le32(16000))  // byte rate
      .put(le16(2))      // block align
      .put(le16(16))     // bits per sample
    if (withJunk) {
      out.put(fourcc("junk")).put(le32(5))
        .put(Array.fill(5)(0x5a.toByte)).put(0.toByte) // odd size → pad byte
    }
    out.put(fourcc("data")).put(le32(data.length)).put(data)
    out.array()
  }

  private def cc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  /** The genuine demuxer: RIFF/WAVE validation, then a chunk WALK
    * (size-skipping unknown chunks with even padding) to locate fmt
    * and data; every failure class is its own row-level status. */
  /** RIFF/WAVE chunk walk shared by [[decodeWav]] and
    * [[audioFrames]] (factored r14 when the frame-feature pass
    * landed): Left(error status) or Right((dataOff, dataLen)) of a
    * validated PCM-16 data chunk — junk chunks skipped, odd sizes
    * even-padded, fmt validated before the data chunk is trusted. */
  private[graft] def wavDataSpan(
      payload: Array[Byte]): Either[String, (Int, Int)] = {
    if (payload.length < 12) Left("too_short")
    else if (cc(payload, 0) != "RIFF") Left("bad_magic")
    else if (cc(payload, 8) != "WAVE") Left("bad_wave")
    else {
      var off = 12
      var fmtOk = false
      var dataOff = -1
      var dataLen = -1
      var status: String = null
      while (status == null && dataOff < 0 && off + 8 <= payload.length) {
        val id4 = cc(payload, off)
        val size = rdLe32(payload, off + 4)
        if (size < 0 || off + 8 + size > payload.length) status = "truncated_chunk"
        else id4 match {
          case "fmt " =>
            val audioFormat = rdLe16(payload, off + 8)
            val bits = rdLe16(payload, off + 22)
            if (audioFormat != 1 || bits != 16) status = "unsupported_format"
            else { fmtOk = true; off += 8 + size + (size & 1) }
          case "data" => dataOff = off + 8; dataLen = size
          case _ => off += 8 + size + (size & 1) // skip unknown, even-pad
        }
      }
      if (status != null) Left(status)
      else if (dataOff < 0) Left("no_data_chunk")
      else if (!fmtOk) Left("no_fmt_chunk")
      else Right((dataOff, dataLen))
    }
  }

  private[graft] def decodeWav(id: Long, payload: Array[Byte]): WavDecoded =
    wavDataSpan(payload) match {
      case Left(status) => WavDecoded(id, status, None, None, None, None)
      case Right((dataOff, dataLen)) =>
        var i = dataOff
        val end = dataOff + dataLen
        var sum = 0L; var mn = 65536; var mx = -65536; var n = 0L
        while (i + 1 < end) {
          val raw = (payload(i) & 0xff) | ((payload(i + 1) & 0xff) << 8)
          val s = if (raw >= 32768) raw - 65536 else raw
          sum += s
          if (s < mn) mn = s
          if (s > mx) mx = s
          n += 1
          i += 2
        }
        WavDecoded(id, "ok", Some(n), Some(mn), Some(mx), Some(sum))
    }

  /** The WAV "tape archive": one container per document with ≥ 1 whole
    * 16-bit sample of text bytes; `doc_id % 5 == 0` containers carry a
    * junk chunk before data (the walk must skip it — same stats);
    * `doc_id % 11 == 0` are corrupted at the RIFF magic. */
  def wavContainers(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    val s = spark
    import s.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(octet_length(col("text")) >= 2)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          val data = bytes.take(bytes.length / 2 * 2)
          val wav = buildWav(data, withJunk = id % 5 == 0)
          if (id % 11 == 0) wav(0) = 'X'.toByte
          MediaRecord(id, "audio/wav", wav, wav.length.toLong)
        }
      }
  }

  /** Oracled WAV decode pass — plan shape identical to
    * [[mediaDecode]]; the oracle reproduces the ok-lane sample stats
    * from text-byte algebra (little-endian 16-bit pairs) and the
    * error lane from the corruption rule, so the compare checks the
    * chunk WALK landed on exactly the data the builder wrote (junk
    * chunk skipped, padding honored). */
  def wavDecode(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    wavContainers(spark, dir)
      .mapPartitions(it => it.map(r => decodeWav(r.media_id, r.payload)))
      .toDF()
      .select(col("media_id"), col("status"), col("n_samples"),
        col("s_min"), col("s_max"), col("s_sum"),
        graft.functions.Det.rnd(col("s_sum").cast("double") / col("n_samples"), 6)
          .as("amp_mean"))
      .orderBy("media_id")
  }

  val wavDecodeSql: String =
    s"""WITH sm AS (
       |  SELECT doc_id AS media_id, doc_id % 11 = 0 AS corrupt,
       |         CAST(strlen(text) // 2 AS BIGINT) AS n,
       |         list_transform(range(CAST(strlen(text) // 2 AS BIGINT)),
       |           i -> ascii(substr(text, CAST(2 * i + 1 AS INTEGER), 1))
       |              + 256 * ascii(substr(text, CAST(2 * i + 2 AS INTEGER), 1))) AS s
       |  FROM documents WHERE strlen(text) >= 2)
       |SELECT media_id,
       |       CASE WHEN corrupt THEN 'bad_magic' ELSE 'ok' END AS status,
       |       CASE WHEN corrupt THEN NULL ELSE n END AS n_samples,
       |       CASE WHEN corrupt THEN NULL ELSE CAST(list_min(s) AS INTEGER) END AS s_min,
       |       CASE WHEN corrupt THEN NULL ELSE CAST(list_max(s) AS INTEGER) END AS s_max,
       |       CASE WHEN corrupt THEN NULL ELSE CAST(list_sum(s) AS BIGINT) END AS s_sum,
       |       CASE WHEN corrupt THEN NULL
       |            ELSE ${graft.functions.Det.rndSql(
                     "CAST(list_sum(s) AS DOUBLE) / n", 6)}
       |       END AS amp_mean
       |FROM sm
       |ORDER BY media_id""".stripMargin

  // ----------------------------------- framed audio features (r14)

  /** Frame length of the audio-feature pass (samples per short-time
    * frame — the STFT hop of a real audio front-end). */
  private[graft] val AfFrameLen = 256

  case class WavFrames(media_id: Long, status: String,
      n_frames: Option[Long], mcr_total: Option[Long],
      v_sum: Option[Long], v_max: Option[Long], n_low: Option[Long])

  /** Per-frame feature extraction over a decoded PCM-16 stream — the
    * short-time analysis every audio pipeline runs before VAD /
    * silence trimming. All features are EXACT integers so the DuckDB
    * byte-algebra oracle reproduces them bit-for-bit:
    *   - mean-crossing count per frame: sign changes of s·n − Σs
    *     (crossings of the frame's own mean, compared as the integer
    *     cross-product s_i·n vs Σs — no division, no float; the
    *     classic zero-crossing rate is degenerate on this text-byte
    *     corpus, whose samples are all positive);
    *   - frame activity v = n·Σs² − (Σs)² (the variance numerator
    *     ×n² — 0 for constant frames);
    *   - low-activity frames: v·n_frames < Σv, i.e. strictly below
    *     the stream's mean frame activity (exact rational compare).
    * Long-range fence: v ≤ frameLen²·32768² ≈ 7.04e13, so v·n_frames
    * stays under 2⁶³ while n_frames ≤ 1.3e5 (~12 min at 44.1 kHz per
    * container) — far above any per-document payload here; longer
    * streams would rescale v before the compare. */
  private[graft] def audioFrames(id: Long, payload: Array[Byte]): WavFrames =
    wavDataSpan(payload) match {
      case Left(status) => WavFrames(id, status, None, None, None, None, None)
      case Right((dataOff, dataLen)) =>
        val nS = dataLen / 2
        val samples = new Array[Int](nS)
        var i = 0
        while (i < nS) {
          val o = dataOff + 2 * i
          val raw = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
          samples(i) = if (raw >= 32768) raw - 65536 else raw
          i += 1
        }
        val nF = (nS + AfFrameLen - 1) / AfFrameLen
        val vs = new Array[Long](nF)
        var mcr = 0L; var vSum = 0L; var vMax = 0L
        var f = 0
        while (f < nF) {
          val st = f * AfFrameLen
          val en = math.min(st + AfFrameLen, nS)
          val fn = (en - st).toLong
          var s = 0L; var sq = 0L
          var j = st
          while (j < en) {
            s += samples(j); sq += samples(j).toLong * samples(j); j += 1
          }
          val v = fn * sq - s * s
          vs(f) = v; vSum += v; if (v > vMax) vMax = v
          j = st + 1
          while (j < en) {
            if ((samples(j).toLong * fn > s) != (samples(j - 1).toLong * fn > s))
              mcr += 1
            j += 1
          }
          f += 1
        }
        var nLow = 0L
        f = 0
        while (f < nF) { if (vs(f) * nF < vSum) nLow += 1; f += 1 }
        WavFrames(id, "ok", Some(nF), Some(mcr), Some(vSum), Some(vMax),
          Some(nLow))
    }

  /** FRAMED AUDIO FEATURES over the WAV tape archive — plan shape
    * identical to [[wavDecode]] (one `mapPartitions` decode pass, no
    * sample rows ever materialized in the plan: the per-frame math
    * happens inside the decoder, so the engine moves one ROW per
    * container, not one per sample — the shape that survives 100 TB
    * of audio). The oracle re-derives every frame stat from text-byte
    * algebra with an explicit sample explode + frame window, checking
    * the decoder's framing, mean-crossing and activity math exactly.
    *
    * Oracle precondition (ADVICE r14, ENFORCED not assumed): the SQL
    * twin's `ascii(substr(text, …))` walks CHARACTERS and returns code
    * points, while the decoder sign-extends raw PCM-16 BYTES — the two
    * agree iff every corpus char is single-byte ASCII (< 0x80), which
    * also keeps every sample below the 0x8000 sign bit. Round15Spec
    * asserts `octet_length(text) = length(text)` over the shipped
    * corpus at both gate SFs, so a corpus change that would silently
    * skew the oracle fails a test instead. */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    wavContainers(spark, dir)
      .mapPartitions(it => it.map(r => audioFrames(r.media_id, r.payload)))
      .toDF()
      .orderBy("media_id")
  }

  val audioFeaturesSql: String =
    s"""WITH ex AS (
       |  SELECT doc_id AS media_id, CAST(u.i AS BIGINT) AS idx,
       |         CAST(ascii(substr(text, CAST(2 * u.i + 1 AS INTEGER), 1))
       |            + 256 * ascii(substr(text, CAST(2 * u.i + 2 AS INTEGER), 1))
       |              AS BIGINT) AS sv
       |  FROM documents,
       |       unnest(range(CAST(strlen(text) // 2 AS BIGINT))) AS u(i)
       |  WHERE strlen(text) >= 2 AND doc_id % 11 <> 0),
       |fr AS (SELECT media_id, idx // $AfFrameLen AS f, idx, sv FROM ex),
       |fs AS (SELECT media_id, f, count(*) AS fn,
       |              CAST(sum(sv) AS BIGINT) AS fsum,
       |              CAST(sum(sv * sv) AS BIGINT) AS fsq
       |       FROM fr GROUP BY 1, 2),
       |cr0 AS (SELECT media_id, f, sv,
       |          lag(sv) OVER (PARTITION BY media_id, f ORDER BY idx) AS pv
       |        FROM fr),
       |mc AS (SELECT c.media_id,
       |         CAST(sum(CASE WHEN c.pv IS NOT NULL
       |              AND ((c.sv * s.fn > s.fsum) <> (c.pv * s.fn > s.fsum))
       |              THEN 1 ELSE 0 END) AS BIGINT) AS mcr_total
       |       FROM cr0 c JOIN fs s USING (media_id, f) GROUP BY 1),
       |fv AS (SELECT media_id, f, fn * fsq - fsum * fsum AS v FROM fs),
       |mt AS (SELECT media_id, count(*) AS n_frames,
       |              CAST(sum(v) AS BIGINT) AS v_sum,
       |              CAST(max(v) AS BIGINT) AS v_max
       |       FROM fv GROUP BY 1),
       |lowc AS (SELECT fv.media_id,
       |           CAST(sum(CASE WHEN fv.v * mt.n_frames < mt.v_sum
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_low
       |         FROM fv JOIN mt USING (media_id) GROUP BY 1),
       |lanes AS (
       |  SELECT doc_id AS media_id, doc_id % 11 = 0 AS corrupt
       |  FROM documents WHERE strlen(text) >= 2)
       |SELECT l.media_id,
       |       CASE WHEN l.corrupt THEN 'bad_magic' ELSE 'ok' END AS status,
       |       CASE WHEN l.corrupt THEN NULL
       |            ELSE CAST(mt.n_frames AS BIGINT) END AS n_frames,
       |       CASE WHEN l.corrupt THEN NULL ELSE mc.mcr_total END AS mcr_total,
       |       CASE WHEN l.corrupt THEN NULL ELSE mt.v_sum END AS v_sum,
       |       CASE WHEN l.corrupt THEN NULL ELSE mt.v_max END AS v_max,
       |       CASE WHEN l.corrupt THEN NULL ELSE lowc.n_low END AS n_low
       |FROM lanes l
       |LEFT JOIN mt USING (media_id)
       |LEFT JOIN mc USING (media_id)
       |LEFT JOIN lowc USING (media_id)
       |ORDER BY media_id""".stripMargin
}
