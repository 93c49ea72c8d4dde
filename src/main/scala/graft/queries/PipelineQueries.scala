package graft.queries

import graft.{Q, Tables}
import graft.functions.Hashing
import graft.ops.MultimodalOps
import graft.pipeline.Pipeline
import graft.streaming.StreamingOhlc
import org.apache.spark.sql.functions._
import OracleFrags.toks

/** Multimodal, streaming, end-to-end pipeline, and window-ranking
  * queries — the remaining SURVEY.md §2 / north-star surface.
  */
object PipelineQueries {

  /** Per-run scratch dir for streaming sinks/checkpoints: deleted up
    * front so every invocation reprocesses from a clean slate (append
    * sinks + checkpoints are run artifacts, not shared fixtures). */
  /** DuckDB replay of the near-dup image law → 9×7 downscale → dHash +
    * aHash (MultimodalOps.phPixel/perceptualHash). Sampled raw coords
    * are (2x, 2y) for sample (x, y) (18×14 render, x·w/9 = 2x kernel);
    * the perturbation condition collapses to (x + 9y + doc_id) % 29.
    * 56-bit packing via bit_or of shifted BIGINTs (DuckDB raises on
    * 1<<63; bit 55 is the ceiling here). */
  /** Per-frame dHash replay of the near-dup VIDEO law — the sequence
    * sibling of [[phashOracleCte]] (MultimodalOps.vdPixel/perFrameDHash):
    * frames are 18×14 = 2× the 9×7 sample grid, so sampled raw coords
    * are (2x, 2y) and the perturbation condition collapses to
    * (x + 9y + 63f + doc_id) % 101. Yields `vdh(doc_id, nf, f, dhash)`. */
  private val videoDhashOracleCte: String =
    """WITH RECURSIVE d AS (SELECT doc_id FROM documents),
      |frf AS (SELECT doc_id, 3 + (doc_id//5)%3 AS nf,
      |  CAST(unnest(range(0, 3 + (doc_id//5)%3)) AS INT) AS f FROM d),
      |vgrid AS (SELECT doc_id, nf, f, CAST(y.range AS INT) AS y,
      |  CAST(x.range AS INT) AS x FROM frf, range(7) y, range(9) x),
      |vpx AS (SELECT doc_id, nf, f, y, x,
      |  CASE WHEN doc_id % 5 <> 0 AND (x + 9*y + 63*f + doc_id) % 101 = 0
      |  THEN ((2*x)*(31 + (doc_id//5)%7) + (2*y)*(17 + (doc_id//5)%11)
      |    + (4*x*y)*(7 + (doc_id//5)%5) + (2*x)*f*(23 + (doc_id//5)%13)
      |    + (doc_id//5)*101 + 128) % 256
      |  ELSE ((2*x)*(31 + (doc_id//5)%7) + (2*y)*(17 + (doc_id//5)%11)
      |    + (4*x*y)*(7 + (doc_id//5)%5) + (2*x)*f*(23 + (doc_id//5)%13)
      |    + (doc_id//5)*101) % 256
      |  END AS p FROM vgrid),
      |vdh AS (SELECT a.doc_id, a.nf, a.f,
      |  bit_or(CASE WHEN b.p > a.p THEN (1::BIGINT << (a.y*8 + a.x))
      |    ELSE 0::BIGINT END) AS dhash
      |  FROM vpx a JOIN vpx b ON a.doc_id = b.doc_id AND a.f = b.f
      |  AND a.y = b.y AND b.x = a.x + 1 WHERE a.x < 8
      |  GROUP BY a.doc_id, a.nf, a.f),
      |vseq AS (SELECT doc_id, nf, list(dhash ORDER BY f) AS sq
      |  FROM vdh GROUP BY doc_id, nf),
      |vprs AS (SELECT a.doc_id AS media_a, b.doc_id AS media_b,
      |  CAST(list_sum(list_transform(range(1, a.nf + 1),
      |    i -> bit_count(xor(a.sq[i], b.sq[i])))) AS INT) AS hamming
      |  FROM vseq a JOIN vseq b ON a.nf = b.nf AND a.doc_id < b.doc_id
      |  WHERE list_sum(list_transform(range(1, a.nf + 1),
      |    i -> bit_count(xor(a.sq[i], b.sq[i])))) <= 8)"""
      .stripMargin.replace("\n", " ")
  // ^ vprs streams pairs through a per-row list reduction and FILTERS
  //   before anything aggregates — the earlier per-(pair) GROUP BY form
  //   built ~half a billion groups of aggregation state at the ×10
  //   fixture and never finished; the all-pairs SCAN is the oracle's
  //   prerogative, unbounded aggregation state is not

  /** [[videoDhashOracleCte]] on the RADIUS-2 planted law
    * (MultimodalOps.vdPixelR2): members perturb only sampled pixel
    * (4, 3) of the LAST frame, flipping at most the two adjacent dHash
    * comparisons — every planted pair is within sequence distance 2.
    * Yields `vdh2` / `vseq2`. */
  private val videoDhashR2OracleCte: String =
    """WITH d AS (SELECT doc_id FROM documents),
      |frf AS (SELECT doc_id, 3 + (doc_id//5)%3 AS nf,
      |  CAST(unnest(range(0, 3 + (doc_id//5)%3)) AS INT) AS f FROM d),
      |vgrid AS (SELECT doc_id, nf, f, CAST(y.range AS INT) AS y,
      |  CAST(x.range AS INT) AS x FROM frf, range(7) y, range(9) x),
      |vpx AS (SELECT doc_id, nf, f, y, x,
      |  CASE WHEN doc_id % 5 <> 0 AND x = 4 AND y = 3 AND f = nf - 1
      |  THEN ((2*x)*(31 + (doc_id//5)%7) + (2*y)*(17 + (doc_id//5)%11)
      |    + (4*x*y)*(7 + (doc_id//5)%5) + (2*x)*f*(23 + (doc_id//5)%13)
      |    + (doc_id//5)*101 + 128) % 256
      |  ELSE ((2*x)*(31 + (doc_id//5)%7) + (2*y)*(17 + (doc_id//5)%11)
      |    + (4*x*y)*(7 + (doc_id//5)%5) + (2*x)*f*(23 + (doc_id//5)%13)
      |    + (doc_id//5)*101) % 256
      |  END AS p FROM vgrid),
      |vdh2 AS (SELECT a.doc_id, a.nf, a.f,
      |  bit_or(CASE WHEN b.p > a.p THEN (1::BIGINT << (a.y*8 + a.x))
      |    ELSE 0::BIGINT END) AS dhash
      |  FROM vpx a JOIN vpx b ON a.doc_id = b.doc_id AND a.f = b.f
      |  AND a.y = b.y AND b.x = a.x + 1 WHERE a.x < 8
      |  GROUP BY a.doc_id, a.nf, a.f),
      |vseq2 AS (SELECT doc_id, nf, list(dhash ORDER BY f) AS sq
      |  FROM vdh2 GROUP BY doc_id, nf)""".stripMargin.replace("\n", " ")

  private val phashOracleCte: String =
    """WITH d AS (SELECT doc_id FROM documents),
      |grid AS (SELECT doc_id, CAST(y.range AS INT) AS y,
      |  CAST(x.range AS INT) AS x FROM d, range(7) y, range(9) x),
      |px AS (SELECT doc_id, y, x,
      |  CASE WHEN doc_id % 5 <> 0 AND (x + 9*y + doc_id) % 29 = 0
      |  THEN ((2*x)*(31 + (doc_id//5)%7) + (2*y)*(17 + (doc_id//5)%11)
      |    + (4*x*y)*(7 + (doc_id//5)%5) + (doc_id//5)*101 + 128) % 256
      |  ELSE ((2*x)*(31 + (doc_id//5)%7) + (2*y)*(17 + (doc_id//5)%11)
      |    + (4*x*y)*(7 + (doc_id//5)%5) + (doc_id//5)*101) % 256
      |  END AS p FROM grid),
      |dh AS (SELECT a.doc_id,
      |  bit_or(CASE WHEN b.p > a.p THEN (1::BIGINT << (a.y*8 + a.x))
      |    ELSE 0::BIGINT END) AS dhash
      |  FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.y = b.y
      |  AND b.x = a.x + 1 WHERE a.x < 8 GROUP BY a.doc_id),
      |ah AS (SELECT doc_id,
      |  bit_or(CASE WHEN 56*p > s THEN (1::BIGINT << (y*8 + x))
      |    ELSE 0::BIGINT END) AS ahash
      |  FROM (SELECT doc_id, y, x, p,
      |    sum(p) OVER (PARTITION BY doc_id) AS s FROM px WHERE x < 8)
      |  GROUP BY doc_id)""".stripMargin.replace("\n", " ")

  /** Closed-form replay of the near-dup audio law → per-doc 56-bit
    * fingerprint (MultimodalOps.afMagRaw / audioFingerprint): per-frame
    * |amplitude| (the frame-constant square-wave magnitude — the
    * 32-sample frame sum cancels in every energy comparison), then
    * bit f = [energy(f+1) > energy(f)] packed with bit_or. */
  private val audioFpOracleCte: String =
    """WITH ad AS (SELECT doc_id FROM documents),
      |afr AS (SELECT doc_id, CAST(f.range AS BIGINT) AS f
      |  FROM ad, range(57) f),
      |amag AS (SELECT doc_id, f,
      |  abs(((f*(31 + (doc_id//5)%1009) + f*f*(17 + (doc_id//5)%1013)
      |    + f*f*f*(23 + (doc_id//5)%1019) + (doc_id//5)*101
      |    + CASE WHEN doc_id % 5 <> 0 AND (f + doc_id) % 61 = 0
      |      THEN 1365 ELSE 0 END) % 2048) - 1024) AS m FROM afr),
      |afp AS (SELECT a.doc_id,
      |  bit_or(CASE WHEN b.m > a.m THEN (1::BIGINT << CAST(a.f AS INT))
      |    ELSE 0::BIGINT END) AS fp
      |  FROM amag a JOIN amag b ON a.doc_id = b.doc_id AND b.f = a.f + 1
      |  GROUP BY a.doc_id)""".stripMargin.replace("\n", " ")

  /** [[audioFpOracleCte]] on the RADIUS-1 planted law
    * (MultimodalOps.afMagRawR1): members perturb only frame 56, so only
    * delta bit 55 can flip — every planted pair is within Hamming
    * distance 1. */
  private val audioFpR1OracleCte: String =
    """WITH ad AS (SELECT doc_id FROM documents),
      |afr AS (SELECT doc_id, CAST(f.range AS BIGINT) AS f
      |  FROM ad, range(57) f),
      |amag AS (SELECT doc_id, f,
      |  abs(((f*(31 + (doc_id//5)%1009) + f*f*(17 + (doc_id//5)%1013)
      |    + f*f*f*(23 + (doc_id//5)%1019) + (doc_id//5)*101
      |    + CASE WHEN doc_id % 5 <> 0 AND f = 56
      |      THEN 1365 ELSE 0 END) % 2048) - 1024) AS m FROM afr),
      |afp AS (SELECT a.doc_id,
      |  bit_or(CASE WHEN b.m > a.m THEN (1::BIGINT << CAST(a.f AS INT))
      |    ELSE 0::BIGINT END) AS fp
      |  FROM amag a JOIN amag b ON a.doc_id = b.doc_id AND b.f = a.f + 1
      |  GROUP BY a.doc_id)""".stripMargin.replace("\n", " ")

  // ── session-staged perceptual-hash artifacts ──────────────────────
  // One getter per staged tag (the codec round-trips are the expensive
  // once-per-session builds; every pair/cluster screen consumes them),
  // shared by the registered queries AND the prewarm hook so the bench
  // never bills a staging build to the alphabetically first consumer
  // (guide §1: measure the query, not session setup — image_dup_clusters
  // paid the PNG encode+decode in rep 1, a 14 s spread at sf0.1).

  private def imagePhash(s: org.apache.spark.sql.SparkSession,
                         dir: String) =
    Staged.retrieval(s, dir, "image_phash") {
      MultimodalOps.perceptualHash(
        MultimodalOps.encodeNearDupPngMedia(Tables.documents(s, dir)))
        .toDF()
    }

  private def videoPhash(s: org.apache.spark.sql.SparkSession,
                         dir: String, r2: Boolean = false) =
    Staged.retrieval(s, dir, if (r2) "video_phash_r2" else "video_phash") {
      MultimodalOps.perFrameDHash(
        MultimodalOps.encodeNearDupGifMedia(Tables.documents(s, dir),
          r2 = r2))
        .toDF()
    }

  private def audioFp(s: org.apache.spark.sql.SparkSession,
                      dir: String, r1: Boolean = false) =
    Staged.retrieval(s, dir, if (r1) "audio_fp_r1" else "audio_fp") {
      MultimodalOps.audioFingerprint(
        MultimodalOps.encodeNearDupWavMedia(Tables.documents(s, dir),
          r1 = r1))
        .toDF()
    }

  /** Force this family's staged artifacts (Staged.prewarm hook). */
  private[queries] def prewarm(s: org.apache.spark.sql.SparkSession,
                               dir: String): Unit = {
    imagePhash(s, dir).count()
    videoPhash(s, dir).count()
    videoPhash(s, dir, r2 = true).count()
    audioFp(s, dir).count()
    audioFp(s, dir, r1 = true).count()
    Staged.fragmentedTicks(s, dir)
    ()
  }

  val all: Seq[Q] = Seq(

    // Multimodal decode — a REAL codec round-trip: deterministic
    // grayscale PNGs are rendered + compressed in executors
    // (encodePngMedia), then actually parsed back by javax.imageio and
    // reduced to dimensions + whole-raster pixel stats (decodeImage).
    // The pixel law is closed-form in doc_id, so the oracle re-derives
    // the decoded stats arithmetically without ever seeing the bytes;
    // compressed size is deliberately not exposed (encoder-dependent).
    Q("multimodal_decode",
      (s, dir) => MultimodalOps.decodeImage(
          MultimodalOps.encodePngMedia(Tables.documents(s, dir)))
        .toDF().orderBy("media_id"),
      s"""WITH w AS (SELECT doc_id, 16 + doc_id % 32 AS wd, 8 + doc_id % 16 AS ht
         |  FROM documents),
         |xs AS (SELECT doc_id, wd, ht, unnest(range(0, wd)) AS x FROM w),
         |xy AS (SELECT doc_id, wd, ht, x, unnest(range(0, ht)) AS y FROM xs)
         |SELECT doc_id AS media_id,
         |CAST(wd AS INT) AS width, CAST(ht AS INT) AS height,
         |CAST(sum((x + y + doc_id) % 256) AS BIGINT) AS px_sum,
         |CAST(min((x + y + doc_id) % 256) AS INT) AS px_min,
         |CAST(max((x + y + doc_id) % 256) AS INT) AS px_max
         |FROM xy GROUP BY doc_id, wd, ht
         |ORDER BY media_id""".stripMargin.replace("\n", " ")),

    // Perceptual image hashes over a REAL codec round-trip: the
    // near-dup image law renders one 18×14 PNG per doc in executors
    // (grouped structure + sparse perturbation — see
    // MultimodalOps.phPixel), javax.imageio decodes it back, and dHash/
    // aHash are packed from the 9×7 nearest-neighbor downscale. The
    // oracle replays decode → downscale → hash arithmetically from the
    // closed-form law, so a stride/axis/threshold bug shifts the hash.
    Q("image_phash",
      (s, dir) => imagePhash(s, dir).orderBy("media_id"),
      s"""$phashOracleCte
         |SELECT dh.doc_id AS media_id, dhash, ahash
         |FROM dh JOIN ah ON dh.doc_id = ah.doc_id
         |ORDER BY media_id""".stripMargin.replace("\n", " ")),

    // Perceptual-hash image dedup (the LAION-style multimodal×dedup
    // axis): Hamming-banded dHash self-join — the 56-bit hash splits
    // into 7 bands of 8 bits, so by pigeonhole every pair at distance
    // ≤6 agrees on at least one full band; the candidate join is
    // EQUALITY-keyed on (band, value), never all-pairs, then one
    // xor+popcount verifies (DedupOps.simhashHammingPairsFromSigs —
    // the SimHash band discipline reused verbatim). The oracle replays
    // the hash law and states the all-pairs predicate directly (its
    // prerogative at 500 rows; the Spark side must stay banded —
    // LivePlanSpec pins no-cartesian).
    Q("image_phash_dedup",
      (s, dir) => {
        val h = imagePhash(s, dir)
        graft.ops.DedupOps.simhashHammingPairsFromSigs(
            h.select(col("media_id").as("doc_id"),
              col("dhash").as("simhash")),
            nBits = 56, nBands = 7, maxHamming = 6)
          .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
            col("hamming"))
          .orderBy("media_a", "media_b")
      },
      s"""$phashOracleCte,
         |hashes AS (SELECT dh.doc_id AS media_id, dhash
         |  FROM dh JOIN ah ON dh.doc_id = ah.doc_id)
         |SELECT a.media_id AS media_a, b.media_id AS media_b,
         |CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
         |FROM hashes a JOIN hashes b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
         |ORDER BY media_a, media_b""".stripMargin.replace("\n", " ")),

    // Perceptual-dup CLUSTERS — the step after the pair screen in a
    // LAION-style image pipeline (keep one exemplar per visual
    // cluster): min-label propagation (DedupOps.dupClusters — the
    // text-dedup component machinery reused verbatim) over the banded
    // dHash pairs; only docs appearing in some pair are labeled, the
    // text dedup_clusters convention. Oracle: recursive-CTE transitive
    // closure over the replayed hash law.
    Q("image_dup_clusters",
      (s, dir) => {
        val h = imagePhash(s, dir)
        graft.ops.DedupOps.dupClusters(
            graft.ops.DedupOps.simhashHammingPairsFromSigs(
              h.select(col("media_id").as("doc_id"),
                col("dhash").as("simhash")),
              nBits = 56, nBands = 7, maxHamming = 6))
          .select(col("doc_id").as("media_id"), col("cluster_id"))
          .orderBy("media_id")
      },
      s"""${phashOracleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |hashes AS (SELECT dh.doc_id AS media_id, dhash
         |  FROM dh JOIN ah ON dh.doc_id = ah.doc_id),
         |prs AS (SELECT a.media_id AS a, b.media_id AS b
         |  FROM hashes a JOIN hashes b ON a.media_id < b.media_id
         |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
         |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |clusters AS (
         |  SELECT a AS media_id, least(a, min(b)) AS cluster_id
         |  FROM reach GROUP BY a)
         |SELECT media_id, cluster_id FROM clusters
         |ORDER BY media_id""".stripMargin.replace("\n", " ")),

    // Per-frame perceptual hashes over a REAL multi-frame codec round
    // trip — step 1 of the VIDEO near-dup story (the composition gap
    // VERDICT r10 named): the near-dup video law renders one animated
    // GIF per doc in executors (group-structured gradients + sparse
    // perturbation, frame count a group property — MultimodalOps
    // .vdPixel), javax.imageio parses the container back, and every
    // frame reduces to a 56-bit dHash. The oracle replays
    // decode→downscale→hash arithmetically from the closed-form law.
    Q("video_phash",
      (s, dir) => videoPhash(s, dir).orderBy("media_id", "frame_idx"),
      s"""$videoDhashOracleCte
         |SELECT doc_id AS media_id, CAST(nf AS INT) AS n_frames,
         |f AS frame_idx, dhash FROM vdh
         |ORDER BY media_id, frame_idx""".stripMargin.replace("\n", " ")),

    // Video near-dup PAIRS: order-respecting sequence distance (sum of
    // aligned per-frame dHash Hamming distances) with candidates an
    // EQUALITY join on CROSS-FRAME group keys, never all-pairs
    // (DedupOps.hammingSeqPairs): 1-BIT slots round-robined into
    // exactly maxTotalHamming+1 = 9 groups, each group's (slot, value)
    // list hashed to one 60-bit key. Cross-frame bit-scatter is the
    // round-12 ×10/×100 adjudication: per-(frame, 14-bit band) keys
    // collapsed onto the dHash row-sign backbone and produced 349M
    // candidates for 111k true pairs at ×10 (120 s warm); bit-level
    // round-robin cuts candidates to 1.96M at ×10 (178×) and 139M at
    // ×100 — the pigeonhole floor for radius 8 on this law. The oracle
    // states the all-pairs predicate directly — its prerogative at
    // fixture scale; the Spark side must stay banded (LivePlanSpec
    // pins no-cartesian).
    Q("video_dup_pairs",
      (s, dir) => {
        val h = videoPhash(s, dir)
        graft.ops.DedupOps.hammingSeqPairs(
            h.select(col("media_id"), col("n_frames"), col("frame_idx"),
              col("dhash").as("sig")),
            nBits = 56, subBits = 1, maxTotalHamming = 8, minFrames = 3)
          .orderBy("media_a", "media_b")
      },
      s"""$videoDhashOracleCte
         |SELECT media_a, media_b, hamming FROM vprs
         |ORDER BY media_a, media_b""".stripMargin.replace("\n", " ")),

    // Video near-dup CLUSTERS: min-label propagation over the banded
    // sequence pairs (DedupOps.dupClusters — the text/image component
    // machinery reused verbatim); only docs appearing in some pair are
    // labeled. Oracle: recursive-CTE transitive closure over the
    // replayed law.
    Q("video_dup_clusters",
      (s, dir) => {
        val h = videoPhash(s, dir)
        graft.ops.DedupOps.dupClusters(
            graft.ops.DedupOps.hammingSeqPairs(
              h.select(col("media_id"), col("n_frames"), col("frame_idx"),
                col("dhash").as("sig")),
              nBits = 56, subBits = 1, maxTotalHamming = 8, minFrames = 3)
              .select(col("media_a").as("doc_a"), col("media_b").as("doc_b")))
          .select(col("doc_id").as("media_id"), col("cluster_id"))
          .orderBy("media_id")
      },
      s"""$videoDhashOracleCte,
         |vedges AS (SELECT media_a AS a, media_b AS b FROM vprs
         |  UNION SELECT media_b, media_a FROM vprs),
         |vreach(a, b) AS (
         |  SELECT a, b FROM vedges
         |  UNION
         |  SELECT r.a, e.b FROM vreach r JOIN vedges e ON r.b = e.a),
         |vclusters AS (
         |  SELECT a AS media_id, least(a, min(b)) AS cluster_id
         |  FROM vreach GROUP BY a)
         |SELECT media_id, cluster_id FROM vclusters
         |ORDER BY media_id""".stripMargin.replace("\n", " ")),

    // Video near-dup pairs under the RADIUS-2 contract — the video
    // screen's own tighter-radius lever (the sequence analogue of
    // audio_dup_pairs_r1, answering the radius-8 screen's ×100
    // pigeonhole-floor adjudication with a demonstrated knob): when the
    // dedup contract is "one re-encoded pixel block in the final frame"
    // (the R2 planted law), the same hammingSeqPairs machinery runs
    // THREE groups instead of nine — each group key carries ~56·nf/3 ≈
    // 56-112 bits of cross-frame content, so structure-class collisions
    // all but vanish and the candidate set approaches the true-pair
    // floor. The radius-8 form stays for the loose contract
    // (video_dup_pairs above).
    Q("video_dup_pairs_r2",
      (s, dir) => {
        val h = videoPhash(s, dir, r2 = true)
        graft.ops.DedupOps.hammingSeqPairs(
            h.select(col("media_id"), col("n_frames"), col("frame_idx"),
              col("dhash").as("sig")),
            nBits = 56, subBits = 1, maxTotalHamming = 2, minFrames = 3)
          .orderBy("media_a", "media_b")
      },
      s"""$videoDhashR2OracleCte
         |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
         |CAST(list_sum(list_transform(range(1, a.nf + 1),
         |  i -> bit_count(xor(a.sq[i], b.sq[i])))) AS INT) AS hamming
         |FROM vseq2 a JOIN vseq2 b ON a.nf = b.nf AND a.doc_id < b.doc_id
         |WHERE list_sum(list_transform(range(1, a.nf + 1),
         |  i -> bit_count(xor(a.sq[i], b.sq[i])))) <= 2
         |ORDER BY media_a, media_b""".stripMargin.replace("\n", " ")),

    // 56-bit audio fingerprints over a REAL container round-trip — the
    // audio leg of the dedup modality matrix (text/embedding/image/
    // video/audio): the near-dup audio law synthesizes one 16-bit mono
    // PCM clip per doc (57 frames × 32 samples, group-structured
    // per-frame energies + sparse perturbation — MultimodalOps
    // .afMagRaw), containerizes it as RIFF/WAVE in executors, parses it
    // back, and packs the Haitsma–Kalman-style sign-of-energy-delta
    // bits. The oracle replays decode → frame energy → delta sign
    // arithmetically from the closed-form law, so an endianness, frame
    // split, or comparison bug shifts the fingerprint.
    Q("audio_fingerprint",
      (s, dir) => audioFp(s, dir).orderBy("media_id"),
      s"""$audioFpOracleCte
         |SELECT doc_id AS media_id, fp FROM afp
         |ORDER BY media_id""".stripMargin.replace("\n", " ")),

    // Audio near-dup PAIRS: the Hamming band machinery reused with the
    // VIDEO screen's geometry — FOUR 14-bit bands at distance ≤3
    // (pigeonhole-exact: 3 < 4), not the image screen's seven 8-bit
    // bands at ≤6. Measured reason (BASELINE.md round 11): ~46k
    // near-distinct energy fingerprints survive at the ×10 fixture, and
    // byte-wide band values collide quadratically there (65.8M
    // candidates for 753k true pairs, 46 s warm); 14-bit bands cut the
    // collision mass 64× and the law's ≤2-bit planted perturbation
    // keeps every leader–member pair inside distance 3. Oracle states
    // the all-pairs predicate directly (its prerogative at fixture
    // scale; the Spark side must stay banded).
    Q("audio_dup_pairs",
      (s, dir) => {
        val h = audioFp(s, dir)
        graft.ops.DedupOps.simhashHammingPairsFromSigs(
            h.select(col("media_id").as("doc_id"), col("fp").as("simhash")),
            nBits = 56, nBands = 4, maxHamming = 3)
          .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
            col("hamming"))
          .orderBy("media_a", "media_b")
      },
      s"""$audioFpOracleCte
         |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
         |CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
         |FROM afp a JOIN afp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3
         |ORDER BY media_a, media_b""".stripMargin.replace("\n", " ")),

    // Audio near-dup CLUSTERS: min-label propagation over the banded
    // fingerprint pairs (DedupOps.dupClusters — the text/image cluster
    // machinery reused verbatim); only media appearing in some pair are
    // labeled. Oracle: recursive-CTE transitive closure over the
    // replayed fingerprint law.
    Q("audio_dup_clusters",
      (s, dir) => {
        val h = audioFp(s, dir)
        graft.ops.DedupOps.dupClusters(
            graft.ops.DedupOps.simhashHammingPairsFromSigs(
              h.select(col("media_id").as("doc_id"), col("fp").as("simhash")),
              nBits = 56, nBands = 4, maxHamming = 3))
          .select(col("doc_id").as("media_id"), col("cluster_id"))
          .orderBy("media_id")
      },
      s"""${audioFpOracleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |aprs AS (SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM afp a JOIN afp b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         |aedges AS (SELECT a, b FROM aprs UNION SELECT b, a FROM aprs),
         |areach(a, b) AS (
         |  SELECT a, b FROM aedges
         |  UNION
         |  SELECT r.a, e.b FROM areach r JOIN aedges e ON r.b = e.a),
         |aclusters AS (
         |  SELECT a AS media_id, least(a, min(b)) AS cluster_id
         |  FROM areach GROUP BY a)
         |SELECT media_id, cluster_id FROM aclusters
         |ORDER BY media_id""".stripMargin.replace("\n", " ")),

    // Audio near-dup pairs under the WIDE-BAND/SMALL-RADIUS contract —
    // the 4×14/≤3 screen's named scale lever (round-11 verdict item 2):
    // when the dedup contract is radius 1 (exact re-encodes, last-frame
    // trims — the R1 planted law), the same pigeonhole machinery runs
    // TWO 28-bit bands (1 < 2), and band values draw from 2^28 instead
    // of 2^14 — random band-value collisions among distinct
    // fingerprints, the 4×14 screen's ×100 candidate mass (50.1M at
    // 500k docs), collapse by ~2^14 per band to near the true-pair
    // floor. The 4×14/≤3 form stays for the radius-3 contract
    // (audio_dup_pairs above); this is the knob a production screen
    // turns when its perturbation model is tighter.
    Q("audio_dup_pairs_r1",
      (s, dir) => {
        val h = audioFp(s, dir, r1 = true)
        graft.ops.DedupOps.simhashHammingPairsFromSigs(
            h.select(col("media_id").as("doc_id"), col("fp").as("simhash")),
            nBits = 56, nBands = 2, maxHamming = 1)
          .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
            col("hamming"))
          .orderBy("media_a", "media_b")
      },
      s"""$audioFpR1OracleCte
         |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
         |CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
         |FROM afp a JOIN afp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 1
         |ORDER BY media_a, media_b""".stripMargin.replace("\n", " ")),

    // REAL audio codec round-trip: one RIFF/WAVE payload per doc
    // synthesized + containerized in executors (javax.sound.sampled),
    // decoded back through the same stack, whole-clip features
    // (|amp| sum, min/max, zero crossings) computed from the decoded
    // PCM. The integer sample law lets the oracle re-derive every
    // statistic in closed form — a decode bug (endianness, sign,
    // dropped frames) shifts them. Executor-side bytes, narrow map;
    // completes the image/video/audio modality triple.
    Q("multimodal_audio_stats",
      (s, dir) => MultimodalOps.decodeAudio(
          MultimodalOps.encodeWavMedia(Tables.documents(s, dir)))
        .toDF().orderBy("media_id"),
      s"""WITH d AS (SELECT doc_id, 256 + doc_id % 256 AS n,
         |  3 + doc_id % 5 AS k FROM documents),
         |sm AS (SELECT doc_id, n, k, unnest(range(0, n)) AS i FROM d),
         |v AS (SELECT doc_id, n,
         |  CAST((i * k + doc_id) % 2048 - 1024 AS INT) AS smp,
         |  CASE WHEN i > 0 THEN
         |    CAST(((i - 1) * k + doc_id) % 2048 - 1024 AS INT) END AS prev
         |  FROM sm)
         |SELECT doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
         |CAST(max(n) AS BIGINT) AS n_samples,
         |CAST(SUM(abs(smp)) AS BIGINT) AS amp_sum,
         |CAST(MIN(smp) AS INT) AS amp_min,
         |CAST(MAX(smp) AS INT) AS amp_max,
         |CAST(SUM(CASE WHEN prev IS NOT NULL
         |  AND ((prev < 0 AND smp >= 0) OR (prev >= 0 AND smp < 0))
         |  THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
         |FROM v GROUP BY doc_id ORDER BY media_id"""
        .stripMargin.replace("\n", " ")),

    // REAL audio resample: the full decode → keep-every-2nd-sample →
    // re-containerize-at-half-rate → decode chain, law-verified (the
    // audio twin of multimodal_resize; naive decimation is the one
    // resampler with a closed-form output law the oracle can check).
    Q("multimodal_audio_resample",
      (s, dir) => MultimodalOps.decodeAudio(
          MultimodalOps.downsampleWavMedia(
            MultimodalOps.encodeWavMedia(Tables.documents(s, dir)), 2))
        .toDF().orderBy("media_id"),
      s"""WITH d AS (SELECT doc_id, 256 + doc_id % 256 AS n,
         |  3 + doc_id % 5 AS k FROM documents),
         |sm AS (SELECT doc_id, (n + 1) // 2 AS outn, k,
         |  unnest(range(0, (n + 1) // 2)) AS j FROM d),
         |v AS (SELECT doc_id, outn,
         |  CAST((2 * j * k + doc_id) % 2048 - 1024 AS INT) AS smp,
         |  CASE WHEN j > 0 THEN
         |    CAST((2 * (j - 1) * k + doc_id) % 2048 - 1024 AS INT)
         |  END AS prev
         |  FROM sm)
         |SELECT doc_id AS media_id, CAST(4000 AS INT) AS sample_rate,
         |CAST(max(outn) AS BIGINT) AS n_samples,
         |CAST(SUM(abs(smp)) AS BIGINT) AS amp_sum,
         |CAST(MIN(smp) AS INT) AS amp_min,
         |CAST(MAX(smp) AS INT) AS amp_max,
         |CAST(SUM(CASE WHEN prev IS NOT NULL
         |  AND ((prev < 0 AND smp >= 0) OR (prev >= 0 AND smp < 0))
         |  THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
         |FROM v GROUP BY doc_id ORDER BY media_id"""
        .stripMargin.replace("\n", " ")),

    // Frame sampling: binary chunking, one scalar row per frame so the
    // result is flat-comparable (no array columns at the sink boundary).
    Q("multimodal_frames",
      (s, dir) => MultimodalOps.sampleFrames(
          MultimodalOps.asMediaTable(Tables.documents(s, dir)), 16)
        .orderBy("media_id", "frame_idx"),
      """SELECT media_id, n_bytes, CAST(i AS INT) AS frame_idx,
        |md5(substr(text, (CAST(i AS INT) - 1) * 16 + 1, 16)) AS digest
        |FROM (SELECT doc_id AS media_id, text,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  unnest(range(1, length(text) // 16 + 1)) AS i
        |  FROM documents)
        |ORDER BY media_id, frame_idx""".stripMargin.replace("\n", " ")),

    // REAL image resize: the full encode → decode → nearest-neighbor
    // downscale(2) → re-encode → decode chain runs in executors; the
    // final decoded stats obey out(x, y) = law(2x, 2y), so the oracle
    // verifies the whole codec chain arithmetically. A resize that
    // mis-strides, swaps axes, or resamples with a smooth kernel breaks
    // the hash.
    Q("multimodal_resize",
      (s, dir) => MultimodalOps.decodeImage(
          MultimodalOps.resizePngMedia(
            MultimodalOps.encodePngMedia(Tables.documents(s, dir)), 2))
        .toDF().orderBy("media_id"),
      s"""WITH w AS (SELECT doc_id, (16 + doc_id % 32) // 2 AS wd,
         |  (8 + doc_id % 16) // 2 AS ht FROM documents),
         |xs AS (SELECT doc_id, wd, ht, unnest(range(0, wd)) AS x FROM w),
         |xy AS (SELECT doc_id, wd, ht, x, unnest(range(0, ht)) AS y FROM xs)
         |SELECT doc_id AS media_id,
         |CAST(wd AS INT) AS width, CAST(ht AS INT) AS height,
         |CAST(sum((2 * x + 2 * y + doc_id) % 256) AS BIGINT) AS px_sum,
         |CAST(min((2 * x + 2 * y + doc_id) % 256) AS INT) AS px_min,
         |CAST(max((2 * x + 2 * y + doc_id) % 256) AS INT) AS px_max
         |FROM xy GROUP BY doc_id, wd, ht
         |ORDER BY media_id""".stripMargin.replace("\n", " ")),

    // REAL video-frame sampling: each doc becomes a genuine multi-frame
    // animated GIF (the one container the JVM encodes with zero external
    // libs), rendered + compressed in executors, then the sampler parses
    // the container back (javax.imageio sequence reader), counts frames,
    // decodes every 2nd one, and reduces each raster to pixel stats. The
    // frame law is closed-form in doc_id, so the oracle re-derives the
    // decoded stats arithmetically — a decoder that drops, duplicates,
    // or reorders frames (or mis-strides a raster) breaks the hash.
    Q("multimodal_video_frames",
      (s, dir) => MultimodalOps.sampleVideoFrames(
          MultimodalOps.encodeGifMedia(Tables.documents(s, dir)), 2)
        .toDF().orderBy("media_id", "frame_idx"),
      s"""WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS nf,
         |  8 + doc_id % 8 AS wd, 8 AS ht FROM documents),
         |fr AS (SELECT doc_id, nf, wd, ht, unnest(range(0, nf)) AS f
         |  FROM d),
         |sampled AS (SELECT * FROM fr WHERE f % 2 = 0),
         |xs AS (SELECT doc_id, nf, wd, ht, f, unnest(range(0, wd)) AS x
         |  FROM sampled),
         |xy AS (SELECT doc_id, nf, wd, ht, f, x, unnest(range(0, ht)) AS y
         |  FROM xs)
         |SELECT doc_id AS media_id, CAST(nf AS INT) AS n_frames,
         |CAST(f AS INT) AS frame_idx,
         |CAST(wd AS INT) AS width, CAST(ht AS INT) AS height,
         |CAST(sum((x + 2 * y + 5 * f + doc_id) % 256) AS BIGINT) AS px_sum,
         |CAST(min((x + 2 * y + 5 * f + doc_id) % 256) AS INT) AS px_min,
         |CAST(max((x + 2 * y + 5 * f + doc_id) % 256) AS INT) AS px_max
         |FROM xy GROUP BY doc_id, nf, f, wd, ht
         |ORDER BY media_id, frame_idx""".stripMargin.replace("\n", " ")),

    // S8 LITERAL: the daily OHLC report lands in an external JDBC
    // warehouse (in-process in-memory Derby — the engine the session
    // catalog's metastore already embeds) via appendJdbc, then is read
    // BACK through the JDBC scan. The oracle recomputes the same report
    // from the raw events, so a type mangled by the external database
    // round-trip (DATE, VARCHAR, DOUBLE, BIGINT) breaks the hash. The
    // table is dropped up front: every invocation re-lands the report,
    // exercising create-on-append each time.
    Q("jdbc_roundtrip",
      (s, dir) => {
        val url = "jdbc:derby:memory:graft_rt;create=true"
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          try conn.createStatement().execute("DROP TABLE daily_ohlc")
          catch { case _: java.sql.SQLException => () } // first run: absent
        } finally conn.close()
        val daily = graft.ops.TickOps.dailyOhlc(
          graft.ops.TickOps.normalizeEvents(Tables.events(s, dir)))
        graft.ops.WarehouseOps.appendJdbc(daily, url, "daily_ohlc")
        s.read.jdbc(url, "daily_ohlc", new java.util.Properties())
          .orderBy("trade_date", "symbol")
      },
      s"SELECT * FROM (${TickQueries.dailySql}) ORDER BY trade_date, symbol"),

    // Structured-Streaming twin of ohlc_hourly (AvailableNow over the
    // same fixtures — identical result, incremental execution).
    Q("streaming_ohlc_hourly",
      (s, dir) => StreamingOhlc.hourlyOhlcAvailableNow(s, dir)
        .orderBy("bar_start", "symbol"),
      TickQueries.hourlyOracleSql),

    // Streaming QC (§2.9): each micro-batch fans out per-symbol invalid
    // counters to an append summary table via foreachBatch; summing the
    // per-batch partials reproduces the batch QC report regardless of how
    // the stream was batched.
    Q("streaming_qc_summary",
      (s, dir) => {
        val work = graft.util.Fs.freshWorkDir("graft_stream_qc", dir)
        val (_, summary) = graft.streaming.StreamingQc.runAvailableNow(s, dir, work)
        s.read.parquet(summary)
          .groupBy(col("symbol"))
          .agg(sum(col("n_rows")).as("n_rows"),
            sum(col("n_invalid")).as("n_invalid"))
          .orderBy("symbol")
      },
      s"""SELECT symbol, count(*) AS n_rows,
         |CAST(SUM(CASE WHEN price IS NULL OR price < 0 OR qty IS NULL OR qty < 0
         |OR trader_id IS NULL OR trader_id < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid
         |FROM (${TickQueries.normalizedSql}) GROUP BY symbol
         |ORDER BY symbol""".stripMargin.replace("\n", " ")),

    // Stateful streaming sessionization (flatMapGroupsWithState): closed
    // sessions emitted from per-user GroupState; oracle = batch sessions
    // minus each user's final (still-open) session.
    Q("sessionize_stream_closed",
      (s, dir) => graft.ops.SessionOps
        .sessionizeStreamAvailableNow(s, dir, 30,
          queryName = "stream_sessions_driver")
        .orderBy("user_id", "start_us"),
      """WITH sess AS (
        |  SELECT user_id, session_seq, min(ts) AS session_start,
        |         max(ts) AS session_end, count(*) AS n_events
        |  FROM (
        |    SELECT user_id, ts,
        |    CAST(SUM(CASE WHEN prev_ts IS NULL
        |        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |    FROM (
        |      SELECT user_id, ts, event_id,
        |      lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events))
        |  GROUP BY user_id, session_seq)
        |SELECT user_id, epoch_us(session_start) AS start_us,
        |       epoch_us(session_end) AS end_us, n_events
        |FROM (SELECT *, max(session_seq) OVER (PARTITION BY user_id) AS max_seq
        |      FROM sess)
        |WHERE session_seq < max_seq
        |ORDER BY user_id, start_us""".stripMargin.replace("\n", " ")),

    // Streaming exact dedup (§2.9): dropDuplicatesWithinWatermark over
    // the tick stream — watermark-bounded state; single-batch fixture ⇒
    // result equals the batch DISTINCT exactly.
    Q("streaming_dedup",
      (s, dir) => graft.streaming.StreamingDedup
        .distinctTicksAvailableNow(s, dir)
        .orderBy("symbol", "ts_sec"),
      s"""SELECT DISTINCT symbol, date_trunc('second', event_ts) AS ts_sec
         |FROM (${TickQueries.normalizedSql})
         |ORDER BY symbol, ts_sec""".stripMargin.replace("\n", " ")),

    // Stream-static enrichment (§2.9): reference-data join, broadcast
    // per micro-batch, zero state.
    Q("streaming_enrich",
      (s, dir) => graft.streaming.StreamingJoin
        .enrichAvailableNow(s, dir)
        .orderBy("event_id"),
      s"""SELECT event_id, symbol,
         |CASE WHEN symbol IN ('click', 'view') THEN 'web'
         |WHEN symbol IN ('purchase', 'signup') THEN 'commerce'
         |ELSE 'ops' END AS sector, price
         |FROM (${TickQueries.normalizedSql})
         |ORDER BY event_id""".stripMargin.replace("\n", " ")),

    // Stream-stream inner join (§2.9): watermarks on both sides + a
    // bounded event-time condition (what lets Spark expire join state).
    Q("streaming_join_followers",
      (s, dir) => graft.streaming.StreamingJoin
        .bigTradeFollowersAvailableNow(s, dir)
        .orderBy("a_id", "b_id"),
      s"""WITH t AS (${TickQueries.normalizedSql})
         |SELECT a.symbol, a.event_id AS a_id, b.event_id AS b_id,
         |epoch_us(b.event_ts) - epoch_us(a.event_ts) AS gap_us
         |FROM t a JOIN t b ON a.symbol = b.symbol
         |AND b.event_ts > a.event_ts
         |AND b.event_ts <= a.event_ts + INTERVAL 3600 SECONDS
         |WHERE a.price >= 300.0
         |ORDER BY a_id, b_id""".stripMargin.replace("\n", " ")),

    // Incremental daily refresh (dynamic partition overwrite): full load,
    // then ONE date re-landed with doubled prices — only that partition
    // rewrites (WarehouseSpec pins the file-level behavior); the oracle
    // checks the merged read-back per date.
    Q("warehouse_refresh",
      (s, dir) => {
        val work = graft.util.Fs.freshWorkDir("graft_wh_query", dir)
        val wh = s"$work/ticks"
        val ticks = graft.ops.TickOps
          .normalizeEvents(Tables.events(s, dir))
          .withColumn("trade_date", to_date(col("event_ts")))
        graft.ops.WarehouseOps.refreshPartitions(ticks, wh)
        val day2 = "2024-01-02"
        graft.ops.WarehouseOps.refreshPartitions(
          ticks.filter(col("trade_date") === lit(day2))
            .withColumn("price", col("price") * 2), wh)
        s.read.parquet(wh)
          .groupBy(col("trade_date"))
          .agg(count(lit(1)).as("n_rows"),
            graft.ops.Determinism.exactSum(col("price")).as("sum_price"))
          .orderBy("trade_date")
      },
      s"""SELECT CAST(ts AS DATE) AS trade_date, count(*) AS n_rows,
         |${graft.ops.Determinism.sqlExactSum(
             "CASE WHEN CAST(ts AS DATE) = DATE '2024-01-02' " +
             "THEN CAST(value AS DOUBLE) * 2 ELSE CAST(value AS DOUBLE) END")} AS sum_price
         |FROM events GROUP BY 1
         |ORDER BY trade_date""".stripMargin.replace("\n", " ")),

    // Small-files compaction end-to-end: a fragmented tick warehouse
    // (16 task-files per date, the micro-batch ingest shape — staged
    // once per session via Staged.fragmentedTicks so the billed query
    // is compact + read-back, not the fixture's own fragmentation
    // write), compacted with a 1000-row file bound (one task per
    // partition value, new location, source untouched); the per-date
    // aggregate is answered FROM the compacted table — so the oracle
    // proves compaction is content-preserving, while WarehouseSpec pins
    // the file-count/size bounds. The maintenance pass a streaming-fed
    // warehouse needs before scan cost turns into file-open cost.
    Q("compaction_roundtrip",
      (s, dir) => {
        val frag = Staged.fragmentedTicks(s, dir)
        val tidy = s"${graft.util.Fs.freshWorkDir("graft_compact_query", dir)}/tidy"
        graft.ops.WarehouseOps.compactPartitions(s, frag, tidy,
          maxRecordsPerFile = 1000L)
        s.read.parquet(tidy)
          .groupBy(col("trade_date"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("price")).as("n_priced"),
            graft.ops.Determinism.exactSum(col("price")).as("sum_price"))
          .orderBy("trade_date")
      },
      s"""SELECT CAST(ts AS DATE) AS trade_date, count(*) AS n_rows,
         |CAST(count(CAST(value AS DOUBLE)) AS BIGINT) AS n_priced,
         |${graft.ops.Determinism.sqlExactSum("CAST(value AS DOUBLE)")} AS sum_price
         |FROM events GROUP BY 1
         |ORDER BY trade_date""".stripMargin.replace("\n", " ")),

    // Byte-size-targeted compaction (the production form: row width
    // drifts, so the split bound is a target FILE SIZE; the record
    // bound is derived from a metadata-only bytes/row estimate over the
    // source — WarehouseOps.compactPartitionsToBytes). Same staged
    // fragmented source, same content-preservation oracle; the output
    // row carries the derived record bound so the oracle also pins the
    // estimator's arithmetic bounds (>0, and no larger than the table's
    // total rows would ever need).
    Q("compaction_bytes_roundtrip",
      (s, dir) => {
        val frag = Staged.fragmentedTicks(s, dir)
        val tidy = s"${graft.util.Fs.freshWorkDir("graft_compactb_query", dir)}/tidy"
        val bound = graft.ops.WarehouseOps.compactPartitionsToBytes(
          s, frag, tidy, targetBytesPerFile = 64L << 10)
        s.read.parquet(tidy)
          .groupBy(col("trade_date"))
          .agg(count(lit(1)).as("n_rows"),
            graft.ops.Determinism.exactSum(col("price")).as("sum_price"))
          .withColumn("bound_positive", lit(bound > 0L))
          .orderBy("trade_date")
      },
      s"""SELECT CAST(ts AS DATE) AS trade_date, count(*) AS n_rows,
         |${graft.ops.Determinism.sqlExactSum("CAST(value AS DOUBLE)")} AS sum_price,
         |TRUE AS bound_positive
         |FROM events GROUP BY 1
         |ORDER BY trade_date""".stripMargin.replace("\n", " ")),

    // Catalog-managed warehouse (S8-S11 through the session catalog):
    // create partitioned+bucketed table, land all dates, re-land ONE
    // date with doubled prices via insertInto dynamic partition
    // overwrite, then answer a reconcile-shaped query THROUGH the
    // catalog — the per-(symbol, date) tick aggregate joined with the
    // co-bucketed daily-OHLC dim. Both the aggregate and the join run
    // WITHOUT a hash exchange (bucketed layout = the reference's
    // indexes; plan-asserted in PlanQualitySpec).
    Q("warehouse_catalog",
      (s, dir) => {
        // tables land once per session (Staged.warehouseTables: the
        // S8-S11 DDL build — partitioned+bucketed ticks with one date
        // re-landed at doubled prices, plus the co-bucketed daily dim);
        // the registered query is the catalog READ under test
        Staged.warehouseTables(s, dir)
        s.table("graft_wh_ticks")
          .groupBy(col("symbol"), col("trade_date"))
          .agg(count(lit(1)).as("n_rows"),
            graft.ops.Determinism.exactSum(col("price")).as("sum_price"))
          .join(s.table("graft_wh_daily"), Seq("symbol", "trade_date"))
          .select(col("trade_date"), col("symbol"), col("n_rows"),
            col("sum_price"), col("close"))
          .orderBy("trade_date", "symbol")
      },
      s"""WITH t AS (${TickQueries.normalizedSql}),
         |agg AS (
         |  SELECT CAST(event_ts AS DATE) AS trade_date, symbol,
         |  count(*) AS n_rows,
         |  ${graft.ops.Determinism.sqlExactSum(
             "CASE WHEN CAST(event_ts AS DATE) = DATE '2024-01-02' " +
             "THEN price * 2 ELSE price END")} AS sum_price
         |  FROM t GROUP BY 1, 2),
         |daily AS (${TickQueries.dailySql})
         |SELECT a.trade_date, a.symbol, a.n_rows, a.sum_price, d.close
         |FROM agg a JOIN daily d
         |ON a.symbol = d.symbol AND a.trade_date = d.trade_date
         |ORDER BY a.trade_date, a.symbol""".stripMargin.replace("\n", " ")),

    // Whole-pipeline E2E: ingest → partitioned warehouse → CSV round-trip
    // → QC reports → analytics MV; one row of per-stage counts.
    Q("pipeline_e2e",
      (s, dir) => {
        val work = s"${System.getProperty("java.io.tmpdir")}/graft_pipeline"
        Pipeline.runDailyAsDf(s, dir, work)
      },
      s"""SELECT
         |(SELECT count(*) FROM events) AS warehouseRows,
         |(SELECT least(count(*), 1000) FROM events) AS csvRoundtripRows,
         |CAST(0 AS BIGINT) AS invalidRows,
         |CAST(1 AS BIGINT) AS missingSymbols,
         |(SELECT count(*) FROM (SELECT DISTINCT CAST(ts AS DATE), event_type FROM events)) AS reconcileRows,
         |(SELECT count(*) FROM (SELECT DISTINCT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000), event_type FROM events)) AS hourlyBars,
         |(SELECT count(DISTINCT CAST(ts AS DATE)) FROM events) AS partitions"""
        .stripMargin.replace("\n", " ")),

    // Ranking-window family (row_number/rank/dense_rank + ntile).
    Q("rank_events",
      (s, dir) => {
        val t = graft.ops.TickOps.normalizeEvents(Tables.events(s, dir))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("symbol")).orderBy(col("price").desc, col("event_id").asc)
        t.select(col("symbol"), col("event_id"), col("price"),
            row_number().over(w).as("rn"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            ntile(4).over(w).as("quartile"))
          .filter(col("rn") <= 5)
          .orderBy("symbol", "rn")
      },
      s"""SELECT symbol, event_id, price,
         |CAST(rn AS INT) AS rn, CAST(rnk AS INT) AS rnk,
         |CAST(drnk AS INT) AS drnk, CAST(quartile AS INT) AS quartile
         |FROM (
         |  SELECT replace(event_type, '.NSE', '') AS symbol, event_id,
         |  CAST(value AS DOUBLE) AS price,
         |  row_number() OVER w AS rn, rank() OVER w AS rnk,
         |  dense_rank() OVER w AS drnk, ntile(4) OVER w AS quartile
         |  FROM events
         |  WINDOW w AS (PARTITION BY replace(event_type, '.NSE', '')
         |    ORDER BY CAST(value AS DOUBLE) DESC, event_id ASC))
         |WHERE rn <= 5 ORDER BY symbol, rn""".stripMargin.replace("\n", " "))
  )
}
