package graft

import graft.ops.{DedupOps, MultimodalOps, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the LLM-pipeline operators on crafted documents with
  * known duplicate structure.
  */
class DedupTextSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1", 43L), // exact dup of 0
    (2L, "the quick brown fox jumps over the sleepy dog", "en", "s0", 45L), // near dup of 0
    (3L, "completely different content about spark engines", "en", "s1", 48L),
    (4L, "der schnelle braune fuchs und der faule hund", "de", "s0", 44L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup groups identical texts, keeps min doc_id") {
    val d = DedupOps.exactDedup(docs).collect()
    assert(d.length == 4) // 5 docs, one exact pair
    val dup = d.filter(_.getAs[Long]("n_copies") == 2L)
    assert(dup.length == 1 && dup.head.getAs[Long]("keep_id") == 0L)
  }

  test("ngram jaccard: exact pair scores 1.0; near pair above 0.5; unrelated absent") {
    val pairs = DedupOps.ngramJaccardPairsFromIndex(
        DedupOps.docShingleHashes(docs, 3),
        docs.select(col("doc_id"),
          size(DedupOps.fastShingles(docs, 3, "text")).cast("long").as("n_sh")),
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) > 0.5 && pairs((0L, 2L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("minhash signatures: identical docs identical, different docs differ") {
    val sigs = DedupOps.minhashSignaturesFromIndex(
        DedupOps.docShingleHashes(docs, 3), nHashes = 16)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) != sigs(3L))
  }

  test("minhash LSH finds the exact and near pair with verified jaccard") {
    val pairs = DedupOps.minhashLshPairsFromSigs(
        DedupOps.minhashSignaturesFromIndex(DedupOps.docShingleHashes(docs, 3), 16),
        docs, 3, 16, 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L))) // jaccard ≈ 0.75, high LSH probability
  }

  test("simhash drops null-text docs on both paths (no null-signature rows)") {
    val withNull = Seq(
      (0L, Some("the quick brown fox")),
      (1L, None),
      (2L, Some("another doc entirely"))
    ).toDF("doc_id", "text")
    val native = DedupOps.simhash(withNull, 32)
    val agg = DedupOps.simhashAggForm(withNull, 32)
    assert(native.count() == 2 && agg.count() == 2)
    assert(native.filter(col("simhash").isNull).isEmpty)
    assert(native.except(agg).isEmpty && agg.except(native).isEmpty)
  }

  test("native one-pass simhash equals the explode+vote aggregate form") {
    val fixture = Tables.documents(spark, "/root/testdata/sf0.001")
    val native = DedupOps.simhash(fixture, 32)
    val agg = DedupOps.simhashAggForm(fixture, 32)
    assert(native.except(agg).isEmpty && agg.except(native).isEmpty)
    // whitespace edge cases the fixture never hits: SQL trim is
    // space-only, so tab/newline padding must tokenize identically on
    // both paths (a trailing "\n" yields a voting "" token in BOTH)
    val edgy = Seq((0L, "foo\n"), (1L, "\tbar baz\t"), (2L, "  spaced  "),
      (3L, ""), (4L, "a b")).toDF("doc_id", "text")
    val en = DedupOps.simhash(edgy, 32)
    val ea = DedupOps.simhashAggForm(edgy, 32)
    assert(en.except(ea).isEmpty && ea.except(en).isEmpty)
    // and the native form is a pure narrow map — zero exchanges
    val plan = native.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"one-pass simhash should not shuffle:\n$plan")
  }

  test("simhash: identical docs equal; near dups within small hamming distance") {
    val s = DedupOps.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(0L) == s(1L))
    assert(java.lang.Long.bitCount(s(0L) ^ s(2L)) <= 8)
    assert(java.lang.Long.bitCount(s(0L) ^ s(4L)) > 0)
  }

  test("dup clusters: chains collapse to one component with min representative") {
    // chain 1-2-3 plus isolated pair 7-9: transitivity must hold
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val clusters = DedupOps.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("dup clusters: union-find fast path and Pregel loop agree") {
    // a long chain (deep component — multiple label rounds), a star,
    // a self-loop-ish duplicate pair, and an isolated pair; both the
    // size-gated single-task path (default) and the co-partitioned
    // Pregel loop (forced via smallGraphEdges = 0) must produce the
    // identical min-label fixed point
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (20L, 22L), (20L, 23L), (30L, 31L), (30L, 31L)))
      .toDF("doc_a", "doc_b")
    val fast = DedupOps.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val pregel = DedupOps.dupClusters(pairs, smallGraphEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fast == pregel)
    assert(fast.toMap.apply(10L) == 1L) // chain end reaches the min
    assert(fast.toMap.apply(23L) == 20L)
    assert(fast.toMap.apply(31L) == 30L)
  }

  test("dup clusters: one pair-screen pass, and nothing left persisted") {
    // the loop's edge and label RDDs are freed before dupClusters
    // returns, and reading the returned frame (twice here) starts from
    // the labels' shuffle output instead of re-running the pair screen
    val sc = spark.sparkContext
    Seq("union-find" -> Long.MaxValue, "pregel" -> 0L).foreach {
      case (path, smallGraphEdges) =>
        val screened = sc.longAccumulator
        val pairs = sc.parallelize((1L to 9L).map(i => (i, i + 1)) ++
            Seq((20L, 21L), (30L, 31L)), 2)
          .map { p => screened.add(1); p }
          .toDF("doc_a", "doc_b")
        val before = sc.getPersistentRDDs.keySet
        val out = DedupOps.dupClusters(pairs, smallGraphEdges = smallGraphEdges)
        assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
          s"$path: dupClusters left RDDs persisted")
        assert(out.orderBy("doc_id").collect().length == 14)
        out.collect()
        assert(screened.value == 11L,
          s"$path: the 11-row pair screen ran ${screened.value} row evaluations")
    }
  }

  test("langId scores stopwords and argmax picks the dominant language") {
    val out = TextOps.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(out(0L) == "en")
    assert(out(4L) == "de")
  }

  test("quality score is bounded and punct/stopword ratios are sane") {
    TextOps.qualityScore(docs).collect().foreach { r =>
      assert(r.getAs[Double]("quality_score") >= 0.0)
      assert(r.getAs[Double]("quality_score") <= 1.0)
      assert(r.getAs[Double]("punct_ratio") >= 0.0)
      assert(r.getAs[Double]("punct_ratio") < 1.0)
    }
  }

  test("shingles: distinct k-grams; short docs yield empty not garbage") {
    val sh = Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L).isEmpty)
    assert(sh(2L) == Seq("a b c", "b c d"))
  }

  test("cosine: identical vectors 1.0, orthogonal 0.0 (after normalize)") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 2.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = SimilarityOps.cosineNearDupPairs(e, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cosine_sim")).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) == 0.0)
  }

  test("block kernel equals the declarative pairwise cosine exactly") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val declarative = SimilarityOps.cosineNearDupPairs(e, 0.3)
    val kernel = graft.ops.SimilarityKernel.cosineNearDupPairsKernel(e, 0.3)
    assert(kernel.count() > 0)
    assert(kernel.except(declarative).isEmpty &&
      declarative.except(kernel).isEmpty)
    // a non-trivial block count must not change the result (tiling is
    // exact, not approximate)
    val tiled3 = graft.ops.SimilarityKernel.cosineNearDupPairsKernel(e, 0.3, nBlocks = 3)
    assert(tiled3.except(declarative).isEmpty &&
      declarative.except(tiled3).isEmpty)
  }

  test("block kernel plan is a distributed cogroup — no driver materialization") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val kernel = graft.ops.SimilarityKernel.cosineNearDupPairsKernel(e, 0.3)
    val physical = kernel.queryExecution.executedPlan.toString
    // tiles meet in a CoGroup exec; the corpus is never broadcast or
    // collected (the pre-fix kernel collect()ed the full corpus driver-side)
    assert(physical.contains("CoGroup"), physical)
    assert(!physical.contains("Broadcast"), physical)
  }

  test("simhash hamming band screen equals the O(n²) screen (pigeonhole)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val sigs = DedupOps.simhash(docs, 32).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    val banded = DedupOps.simhashHammingPairsFromSigs(
        DedupOps.simhash(docs, 32), 32, 4, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "fixture has no close simhash pairs — weak test")
    assert(banded == brute)
  }

  test("LSH top-k scores candidates exactly (subset of brute with same sims)") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qIds = Seq(0L, 1L, 2L)
    val corpus = SimilarityOps.normalizedCorpus(e)
    val brute = SimilarityOps.bruteForceTopKNorm(corpus, qIds, 50).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cosine_sim"))
      .toMap
    val lsh = SimilarityOps.lshTopKNorm(corpus, qIds, 10, 16, 4).collect()
    assert(lsh.nonEmpty)
    // every LSH hit is a real neighbor with the exact same rerank score,
    // and per-query ranks are dense from 1
    lsh.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to rows.length).toSeq)
    }
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val sim = r.getAs[Double]("cosine_sim")
      // brute was cut at top-50; only compare hits that appear there
      brute.get(key).foreach(b => assert(b == sim))
    }
  }

  test("simhash pair screen works on a tiny crafted corpus (exact dup at hamming 0)") {
    val banded = DedupOps.simhashHammingPairsFromSigs(
        DedupOps.simhash(docs, 32), 32, 4, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // docs 0 and 1 are byte-identical → identical signatures → hamming 0
    assert(banded.contains((0L, 1L, 0)))
  }

  test("LSH top-k degrades gracefully when the corpus barely covers the planes") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    // 4 planes over a 4-vector corpus: every vector doubles as a plane
    val top = SimilarityOps
      .lshTopKNorm(SimilarityOps.normalizedCorpus(e), Seq(0L), 3, 4, 2).collect()
    assert(top.nonEmpty)
    // hits carry exact rerank scores and dense ranks
    assert(top.map(_.getAs[Int]("rank")).sorted.toSeq ==
      (1 to top.length).toSeq)
  }

  test("brute-force top-k ranks by similarity with id tiebreak") {
    // 4 is an exact copy of 1: the two tie on cosine to query 0, and the
    // smaller id must rank first on every top-k path
    val corpus = SimilarityOps.normalizedCorpus(Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)), (3L, Array(0.0f, 1.0f)),
      (4L, Array(0.9f, 0.1f))
    ).toDF("vec_id", "embedding")).cache()
    val cands = Seq(1L, 2L, 3L, 4L).map(n => (0L, n))
      .toDF("query_id", "neighbor_id")
    // nprobe = every cell: the IVF probe scores the whole corpus
    val cents = SimilarityOps.ivfCentroidsNorm(corpus, 2)
    Seq(
      "brute" -> SimilarityOps.bruteForceTopKNorm(corpus, Seq(0L), 3),
      "rerank" -> SimilarityOps.rerankExactTopKNorm(corpus, cands, Seq(0L), 3),
      "ivf" -> SimilarityOps.ivfTopKNormWith(corpus, cents, Seq(0L), 3, 2)
    ).foreach { case (path, df) =>
      val top = df.orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
      assert(top == Seq(1L, 4L, 2L), path)
    }
    corpus.unpersist()
  }

  test("native shingles equal the declarative higher-order formulation") {
    graft.functions.GraftFunctions.register(spark)
    val texts = Seq("", "a", "a b", "a b c", "  a   b  c d  ",
      "x y z x y z x y", "the quick brown fox").toDF("text")
    val both = texts.select(
      TextOps.shingles(col("text"), 3).as("slow"),
      call_function("graft_shingles", col("text"), lit(3)).as("fast"))
    both.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
  }

  test("native md5 hash equals the portable conv/substring formulation") {
    graft.functions.GraftFunctions.register(spark)
    val samples = Seq("", "a", "the quick brown fox", "布朗狐狸跳过", "123!@#")
      .toDF("s")
    val both = samples.select(
      graft.functions.Hashing.md5Long(col("s")).as("slow"),
      call_function("graft_md5long60", col("s")).as("fast"))
    both.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("multimodal decode really parses PNG bytes back to the generated raster") {
    val media = MultimodalOps.encodePngMedia(docs)
    // the payloads are genuine PNGs (magic bytes), not a stand-in
    media.collect().foreach { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      assert(bytes.length > 8 &&
        (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
        bytes(3) == 'G', "payload is not a PNG")
    }
    val meta = MultimodalOps.decodeImage(media)
      .collect().map(m => m.media_id -> m).toMap
    assert(meta.size == 5)
    // decoded facts match the generation law, computed independently here
    meta.values.foreach { m =>
      val id = m.media_id
      val w = (16 + id % 32).toInt; val h = (8 + id % 16).toInt
      val px = for { x <- 0 until w; y <- 0 until h }
        yield ((x + y + id) % 256).toInt
      assert(m.width == w && m.height == h, s"dims of $id")
      assert(m.px_sum == px.map(_.toLong).sum, s"px_sum of $id")
      assert(m.px_min == px.min && m.px_max == px.max, s"px range of $id")
    }
  }

  test("auto-scaled blocked embedding dedup matches the fixed form at fixture scale") {
    // 500 vectors / targetCellSize 128 -> clamped to the 16-cell floor,
    // so the auto knob must reproduce the registered fixed-(16,2) result
    // exactly; at corpus scale the same knob keeps cell occupancy (and
    // therefore candidate work per row) constant instead of quadratic
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val corpus = SimilarityOps.normalizedCorpus(e)
    def blocked(nCells: Int) = SimilarityOps.cosineNearDupPairsBlockedNormWith(
        corpus, SimilarityOps.ivfCentroidsNorm(corpus, nCells), 0.4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = blocked(SimilarityOps.autoCellCount(corpus.count()))
    val fixed = blocked(16)
    assert(auto == fixed)
  }

  test("decodeImage fails loudly on a non-image payload") {
    import org.apache.spark.sql.functions.{col, encode, lit}
    val junk = docs.select(col("doc_id").as("media_id"),
      lit("image/png").as("media_type"),
      encode(col("text"), "UTF-8").as("payload"))
    val e = intercept[Exception] {
      MultimodalOps.decodeImage(junk).collect()
    }
    assert(e.getMessage != null)
  }
}
