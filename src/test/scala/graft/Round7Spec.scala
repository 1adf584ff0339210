package graft

import org.apache.spark.sql.functions._
import graft.queries.{SimilarityQueries, TextQueries}

/** Round-7 operators, each against a hand-computable fixture (the
  * oracle run covers the corpus; these pin semantics). */
class Round7Spec extends SparkSpec {
  import spark.implicits._

  test("hybrid retrieve: BM25 winner becomes the probe, shortlist reranks by exact cosine") {
    // doc 0 carries the rare term z (df=1, tf=3) → highest BM25 by idf
    // (the Round6Spec bm25 fixture's winning pattern); docs 1-4 share
    // common terms so all five make the shortlist.
    val docs = Seq(
      (0L, "z z z"),
      (1L, "x x y"),
      (2L, "x y"),
      (3L, "y x"),
      (4L, "x y x")).toDF("doc_id", "text")
    // probe (doc 0) = e1; cosines against it are hand-readable
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(2.0f, 0.0f), 0),   // cos  1.0 (scale-invariant)
      (2L, Array(0.6f, 0.8f), 0),   // cos  0.6
      (3L, Array(0.0f, 1.0f), 0),   // cos  0.0
      (4L, Array(-1.0f, 0.0f), 0)   // cos -1.0
    ).toDF("vec_id", "embedding", "label")

    val bm25 = TextQueries.bm25Of(docs).collect()
      .map(r => r.getLong(1) -> (r.getInt(0), r.getDouble(3))).toMap
    assert(bm25(0L)._1 == 1, s"fixture: doc 0 must win BM25, got $bm25")

    val out = SimilarityQueries.hybridRetrieveOn(docs, emb).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L, 4L),
      "rerank order must follow cosine, probe excluded")
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    val cos = out.map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(math.abs(cos(1L) - 1.0) < 1e-6)
    assert(math.abs(cos(2L) - 0.6) < 1e-6)
    assert(math.abs(cos(3L) - 0.0) < 1e-6)
    assert(math.abs(cos(4L) + 1.0) < 1e-6)
    // the lexical score rides along unchanged from the BM25 stage
    out.foreach { r =>
      assert(r.getDouble(2) == bm25(r.getLong(1))._2,
        s"bm25 column must equal the shortlist score for doc ${r.getLong(1)}")
    }
  }

  test("dedup scratch keys are session-scoped: concurrent sessions on one dir write disjoint paths") {
    val s2 = spark.newSession()
    val k1 = Tables.sessionKey(spark, sfDir)
    val k2 = Tables.sessionKey(s2, sfDir)
    assert(k1 != k2,
      "two sessions over the SAME dir must not share a scratch path (VERDICT r6 #5)")
    // stable within a session (the one-time-write guard depends on it)
    assert(k1 == Tables.sessionKey(spark, sfDir))
    assert(k2 == Tables.sessionKey(s2, sfDir))
    // still keyed by dir: different dirs stay disjoint within a session
    assert(k1 != Tables.sessionKey(spark, s"$sfDir-other"))
  }

  test("dup rate by source: accounting identity holds and totals cover the corpus") {
    val out = TextQueries.dupRateBySource(spark, sfDir).collect()
    assert(out.nonEmpty)
    var total = 0L
    out.foreach { r =>
      val (n, d, dups, rate) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(n == d + dups, s"${r.getString(0)}: $n != $d + $dups")
      assert(rate >= 0.0 && rate < 1.0)
      assert(math.abs(rate - math.floor(dups.toDouble / n * 1e4 + 0.5) / 1e4) < 1e-12)
      total += n
    }
    assert(total == Tables(spark, sfDir, "documents").count())
  }

  test("weighted sample: key matches the closed-form A-ES formula and ranks descending") {
    val out = TextQueries.weightedSample(spark, sfDir, 20).collect()
    assert(out.length == 20)
    val keys = out.map(_.getDouble(2))
    assert(keys.sameElements(keys.sorted.reverse), "es_key must be descending")
    out.foreach { r =>
      val (id, nc, key) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val m = 4294967296L
      val b = ((id % m) * 34283 % 65536 * 65536 + (id % m) * 51831) % m
      val expected = math.log((b + 0.5) / 4294967296.0) / nc
      val r9 = math.floor(expected * 1e9 + 0.5) / 1e9
      assert(key == r9, s"doc $id: $key != $r9")
      assert(key <= 0.0, "ln(u in (0,1)) / positive weight is negative")
    }
    // reproducible: a second run draws the identical sample
    val again = TextQueries.weightedSample(spark, sfDir, 20).collect()
    assert(out.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("quality classifier: logit equals the plain-Scala hashed-feature dot product") {
    val out = TextQueries.qualityClassifier(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == docs.keySet)
    docs.foreach { case (id, text) =>
      val logit = text.trim.split("\\s+").map { t =>
        // r13 full-string polynomial fold (corpus is ASCII: Char == cp)
        val feat = t.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000003) % 64
        ((feat + 1) * 2654435761L % 4294967296L) % 17 - 8
      }.sum
      assert(out(id)._1 == logit, s"doc $id: ${out(id)._1} != $logit")
      assert(out(id)._2 == (if (logit >= 0) 1 else 0))
    }
  }

  test("snapshot diff: statuses are consistent and 'same' rows never surface") {
    import graft.queries.ExtensionQueries
    val out = ExtensionQueries.snapshotDiff(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (o, n, st) = (r.getLong(1), r.getLong(2), r.getString(3))
      st match {
        case "added"   => assert(o == 0 && n > 0)
        case "removed" => assert(o > 0 && n == 0)
        case "changed" => assert(o > 0 && n > 0 && o != n)
        case other     => fail(s"unexpected status $other")
      }
    }
  }

  test("substring dedup: shared spans, runs, and short docs on a planted corpus") {
    val docs = Seq(
      (0L, "a b c d e f g h i j"),                      // 3 positions, all shared with doc 1
      (1L, "a b c d e f g h i j"),                      // identical twin
      (2L, "x x x x x x x x"),                          // 1 position, unique
      (3L, "z a b c d e f g h i w w w w w w w w w w"),  // 8+-token span shared at pos 2-3
      (4L, "q w e")                                     // shorter than k -> all zeros
    ).toDF("doc_id", "text")
    val out = TextQueries.substringDedupOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) == ((3L, 3L, 3L)))
    assert(out(1L) == ((3L, 3L, 3L)))
    assert(out(2L) == ((1L, 0L, 0L)))
    // doc 3: 20 tokens -> 13 positions; grams at pos 2 ("a..h") and
    // pos 3 ("b..i") also appear in docs 0/1 -> run of 2
    assert(out(3L) == ((13L, 2L, 2L)))
    assert(out(4L) == ((0L, 0L, 0L)))
  }

  test("ann eval: recall equals the hand-joined LSH-vs-exact intersection") {
    val out = SimilarityQueries.annEval(spark, sfDir).collect()
    assert(out.length == 10)
    val lsh = SimilarityQueries.annLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SimilarityQueries.cosineTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    out.foreach { r =>
      val (qid, k, hit, recall) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(k == 5)
      val expected = exact.filter(_._1 == qid).intersect(lsh.filter(_._1 == qid)).size
      assert(hit == expected, s"qid $qid: $hit != $expected")
      assert(recall == math.floor(hit.toDouble / k * 1e4 + 0.5) / 1e4)
    }
  }

  test("semantic decon: every pair crosses the split boundary at the documented threshold") {
    val out = SimilarityQueries.semanticDecon(spark, sfDir).collect()
    def bucket(id: Long): Long = {
      val m = 4294967296L
      ((id % m) * 40503 % 65536 * 65536 + (id % m) * 31153) % m % 100
    }
    val pairs = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet.size == pairs.length, "pairs must be distinct")
    out.foreach { r =>
      assert(bucket(r.getLong(0)) >= 90, s"test_id ${r.getLong(0)} not in test split")
      assert(bucket(r.getLong(1)) < 80, s"train_id ${r.getLong(1)} not in train split")
      assert(r.getDouble(2) >= 0.35)
    }
  }

  test("tokenize regex: piece classes follow the props template closed-form") {
    // every props payload is {"k": <digits>} -> pieces are exactly
    // {  "  k  "  :  <digit-run>  }  = 7 pieces: 1 alpha, 1 num, 5 punct
    val out = TextQueries.tokenizeRegex(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (ne, np, na, nn, npu) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(np == 7 * ne, s"${r.getString(0)}: $np != 7*$ne")
      assert(na == ne && nn == ne && npu == 5 * ne)
    }
  }

  test("rolling anomaly: flagged rows respect warmup, frame bounds, and the z threshold") {
    import graft.queries.ExtensionQueries
    val out = ExtensionQueries.rollingAnomaly(spark, sfDir).collect()
    assert(out.nonEmpty, "sf0.001 should surface at least one |z|>3 event")
    out.foreach { r =>
      val (n, z) = (r.getLong(3), r.getDouble(4))
      assert(n >= 20 && n <= 100, s"frame count $n outside [20, 100]")
      assert(math.abs(z) >= 3.0 - 1e-4, s"|z| $z below threshold")
    }
    val again = ExtensionQueries.rollingAnomaly(spark, sfDir).collect()
    assert(out.map(_.getLong(1)).toSeq == again.map(_.getLong(1)).toSeq)
  }

  test("watermark sizing: planted out-of-order events yield the closed-form disorder stats") {
    import graft.queries.ExtensionQueries
    import java.sql.Timestamp
    def t(s: Long) = Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + s))
    // arrival order = event_id; event times jump back by known amounts
    val ev = Seq(
      (1L, t(100), "a"),  // disorder 0 (running max 100)
      (2L, t(50),  "a"),  // 50 behind
      (3L, t(120), "a"),  // new max
      (4L, t(110), "a"),  // 10 behind
      (5L, t(120), "a"),  // 0 (ties the max)
      (6L, t(10),  "b"),  // 0
      (7L, t(5),   "b")   // 5 behind
    ).toDF("event_id", "ts", "event_type")
    val out = ExtensionQueries.watermarkSizingOf(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // a: n=5, late=2, max=50; sorted disorders (0,0,0,10,50), p95 rank
    // = ceil(.95*5)=5 -> 50
    assert(out("a") == ((5L, 2L, 50L, 50L)))
    // b: n=2, late=1, max=5; p95 rank = ceil(1.9)=2 -> 5
    assert(out("b") == ((2L, 1L, 5L, 5L)))
    // the driver corpus is in-order: all-zero disorder is the correct read
    val corpus = ExtensionQueries.watermarkSizing(spark, sfDir).collect()
    corpus.foreach(r => assert(r.getLong(2) == 0 && r.getLong(3) == 0))
  }

  test("incremental agg: merged partials equal the full recompute on every type") {
    import graft.queries.ExtensionQueries
    val out = ExtensionQueries.incrementalAgg(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getBoolean(5), s"${r.getString(0)}: merge != full"))
    // totals cross-check against a direct aggregation
    val direct = Tables(spark, sfDir, "events").groupBy("event_type")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(r.getLong(1) == direct(r.getString(0))))
  }

  test("path mining: top paths equal a plain-Scala recount of user triples") {
    import graft.queries.ExtensionQueries
    val out = ExtensionQueries.pathMining(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    val events = Tables(spark, sfDir, "events")
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getString(3)))
    val triples = events.groupBy(_._1).values.flatMap { evs =>
      evs.sortBy(e => (e._2, e._3)).map(_._4).sliding(3).filter(_.length == 3)
        .map(s => (s(0), s(1), s(2)))
    }.toSeq.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val expected = triples.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(20)
      .map { case ((a, b, c), n) => (a, b, c, n) }
    assert(out.toSeq == expected)
  }

  test("mix entropy: matches the closed-form Shannon entropy of each source's language counts") {
    val out = TextQueries.mixEntropy(spark, sfDir).collect()
    assert(out.nonEmpty)
    val counts = Tables(spark, sfDir, "documents")
      .groupBy("source", "lang").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .groupBy(_._1._1).map { case (s, xs) => s -> xs.map(_._2) }
    out.foreach { r =>
      val (src, n, nl, h) = (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val cs = counts(src).toSeq
      assert(n == cs.sum && nl == cs.length)
      val expected = math.log(n.toDouble) - cs.map(c => c * math.log(c.toDouble)).sum / n
      assert(h == math.floor(expected * 1e6 + 0.5) / 1e6 ||
        math.abs(h - expected) < 1e-6, s"$src: $h vs $expected")
      assert(h >= -1e-9 && h <= math.log(nl.toDouble) + 1e-9, "0 <= H <= ln(n_langs)")
    }
  }

  test("media incremental: equals the cross-split restriction of the full near-dup relation") {
    import graft.queries.MultimodalQueries
    val inc = MultimodalQueries.mediaIncremental(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    inc.foreach { case (ex, nw, h) =>
      assert(ex % 10 != 7 && nw % 10 == 7, s"($ex, $nw) does not cross the split")
      assert(h <= 10)
    }
    // the full symmetric near-dup relation, restricted to cross pairs
    // and reoriented (existing, new), must be exactly the incremental
    // output — two independently-oracled pipelines agreeing
    val full = MultimodalQueries.mediaNeardup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .collect {
        case (a, b, h) if a % 10 == 7 && b % 10 != 7 => (b, a, h)
        case (a, b, h) if b % 10 == 7 && a % 10 != 7 => (a, b, h)
      }.toSet
    assert(inc == full, s"inc-only: ${inc -- full}; full-only: ${full -- inc}")
  }

  test("lang divergence: matches the closed-form KL of each language's token counts") {
    val out = TextQueries.langDivergence(spark, sfDir).collect()
    assert(out.nonEmpty)
    val toks = Tables(spark, sfDir, "documents")
      .select("lang", "text").collect()
      .flatMap(r => r.getString(1).trim.split("\\s+").map(t => (r.getString(0), t)))
    val lt = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nl = lt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val ct = lt.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val n = lt.values.sum
    out.foreach { r =>
      val (lang, nTerms, nTokens, kl) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val terms = lt.collect { case ((l, t), c) if l == lang => (t, c) }
      assert(nTerms == terms.size && nTokens == nl(lang))
      val expected = terms.map { case (t, c) =>
        (c.toDouble / nl(lang)) * math.log(c.toDouble * n / (nl(lang).toDouble * ct(t)))
      }.sum
      assert(math.abs(kl - expected) < 1e-5, s"$lang: $kl vs $expected")
      assert(kl >= -1e-9, "KL is nonnegative")
    }
  }

  test("dataset manifest: checksum equals a plain-Scala 48-bit fingerprint sum") {
    val out = TextQueries.datasetManifest(spark, sfDir).collect()
    assert(out.nonEmpty)
    val docs = Tables(spark, sfDir, "documents")
      .select("source", "lang", "n_chars", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    val bySource = docs.groupBy(_._1)
    assert(out.map(_.getString(0)).toSet == bySource.keySet)
    val md = java.security.MessageDigest.getInstance("MD5")
    def fpi(text: String): Long = {
      val hex = md.synchronized {
        md.reset(); md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      java.lang.Long.parseLong(hex.take(12), 16)
    }
    out.foreach { r =>
      val ds = bySource(r.getString(0))
      assert(r.getLong(1) == ds.length)
      assert(r.getLong(2) == ds.map(_._2).distinct.length)
      assert(r.getLong(3) == ds.map(_._3).sum)
      assert(r.getLong(4) == ds.map(d => fpi(d._4)).sum,
        s"${r.getString(0)}: checksum mismatch")
    }
  }

  test("curation pipeline: split totals equal a plain-Scala replay of the funnel") {
    val out = TextQueries.curationPipeline(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def logit(text: String): Long = text.trim.split("\\s+").map { t =>
      // r13 full-string polynomial fold (corpus is ASCII: Char == cp)
      val feat = t.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000003) % 64
      ((feat + 1) * 2654435761L % 4294967296L) % 17 - 8
    }.sum
    val scored = docs.filter(_._2 == "en")
      .map { case (id, _, tx) => (id, tx, logit(tx), tx.trim.split("\\s+").length.toLong) }
      .filter(_._3 >= -60)
    val kept = scored
      .groupBy(d => d._2.trim.toLowerCase.replaceAll("\\s+", " "))
      .values.map(_.minBy(_._1)).toSeq
    def bucket(id: Long): Long = {
      val m = 4294967296L
      ((id % m) * 40503 % 65536 * 65536 + (id % m) * 31153) % m % 100
    }
    val expected = kept.groupBy(d =>
        if (bucket(d._1) < 80) "train" else if (bucket(d._1) < 90) "val" else "test")
      .view.mapValues(ds => (ds.size.toLong, ds.map(_._4).sum)).toMap
    assert(out == expected, s"got $out expected $expected")
  }

  test("dup graph stats: degree histogram equals a recount from the verified pairs") {
    import graft.queries.DedupQueries
    val out = DedupQueries.dupGraphStats(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = DedupQueries.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nDocs = Tables(spark, sfDir, "documents").count()
    val deg = pairs.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val hist = deg.values.groupBy(identity).map { case (d, xs) => d -> xs.size.toLong }
    val expected = hist + (0L -> (nDocs - deg.size))
    assert(out == expected.filter(_._2 > 0), s"got $out expected $expected")
    assert(out.values.sum == nDocs, "histogram must cover every document")
    assert(out.map { case (d, n) => d * n }.sum == 2L * pairs.length)
  }

  test("label cohesion: per-label stats equal a plain-Scala centroid-cosine replay") {
    val out = SimilarityQueries.labelCohesion(spark, sfDir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val vecs = Tables(spark, sfDir, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    vecs.groupBy(_._1).foreach { case (label, vs) =>
      val dim = vs.head._2.length
      val cent = (0 until dim).map(i => r6(vs.map(_._2(i)).sum / vs.length)).toArray
      val nc = math.sqrt(cent.map(c => c * c).sum)
      val cos = vs.map { case (_, v) =>
        val dot = v.zip(cent).map { case (a, b) => a * b }.sum
        val nv = math.sqrt(v.map(x => x * x).sum)
        if (nv * nc == 0) 0.0 else dot / (nv * nc)
      }
      val (n, mean, mn) = out(label)
      assert(n == vs.length)
      assert(math.abs(mean - cos.sum / cos.length) < 1e-5, s"label $label mean")
      assert(math.abs(mn - cos.min) < 1e-5, s"label $label min")
      assert(mn <= mean + 1e-9 && mean <= 1.0 + 1e-9 && mn >= -1.0 - 1e-9)
    }
  }

  test("vocab growth: bucket histogram equals a plain-Scala first-occurrence replay") {
    val out = TextQueries.vocabGrowth(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mx = docs.map(_._1).max
    val firsts = docs.flatMap { case (id, tx) =>
      val t = tx.trim.split("\\s+")
      t.sliding(2).filter(_.length == 2).map(bg => (bg.mkString(" "), id))
    }.groupBy(_._1).map { case (_, xs) => xs.map(_._2).min }
    val hist = firsts.groupBy(id => math.min(id * 10 / (mx + 1), 9).toInt)
      .map { case (b, xs) => b -> xs.size.toLong }
    assert(out.map(r => r._1 -> r._2).toMap == hist)
    // vocab_size is the running total and ends at the full vocabulary
    val cum = out.map(_._2).scanLeft(0L)(_ + _).drop(1)
    assert(out.map(_._3).toSeq == cum.toSeq)
    assert(out.last._3 == firsts.size)
  }

  test("hashed_logit kernel: equals the explode form on the corpus and on edge fixtures") {
    val corpus = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val kernel = TextQueries.qualityClassifierOf(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val explode = TextQueries.qualityClassifierExplodeOf(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(kernel == explode, "kernel must equal the explode reference on the corpus")
    // edge fixtures: multi-space runs, tabs (incl. LEADING tab -> Java
    // split's empty first token), newlines, non-ASCII first chars,
    // single token, spaces-only (trim -> ''), 1-char tokens
    val edges = Seq(
      (0L, "a  b   c"), (1L, "a\tb\nc"), (2L, "\tx y"), (3L, "héllo wörld"),
      (4L, "tok"), (5L, "   "), (6L, "a b c d e f g"), (7L, "x\r\ny")
    ).toDF("doc_id", "text")
    val ek = TextQueries.qualityClassifierOf(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ee = TextQueries.qualityClassifierExplodeOf(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ek == ee, s"edge fixtures diverge: $ek vs $ee")
  }

  test("hashed_logit: interpreted eval path agrees with codegen (wholestage off)") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val on = TextQueries.qualityClassifierOf(docs).collect().map(_.toSeq).toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = TextQueries.qualityClassifierOf(docs).collect().map(_.toSeq).toSeq
      assert(on == off)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("profile approx lane: one scan, sketch within rsd bounds of the exact lane") {
    import graft.queries.ExtensionQueries
    val df = ExtensionQueries.profileApprox(spark, sfDir)
    // both lanes must ride ONE scan of orders (the whole point of the
    // tidy one-pass profile — a per-lane rescan is the 100-TB bug)
    val scans = "Scan parquet".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
    assert(scans == 1, s"expected exactly one orders scan, saw $scans")
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("o_custkey", "o_orderpriority", "o_orderstatus", "o_totalprice"))
    rows.foreach { r =>
      val (exact, approx) = (r.getLong(2), r.getLong(3))
      assert(exact > 0)
      // HLL++ at rsd 0.02: allow 5 sigma plus integer slack for the
      // small-cardinality columns (exact small counts are often exact)
      val tol = math.max(5, (0.10 * exact).toLong)
      assert(math.abs(approx - exact) <= tol,
        s"${r.getString(0)}: approx $approx vs exact $exact (tol $tol)")
    }
  }
}
