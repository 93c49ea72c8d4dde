package graft

import graft.ops.MultimodalOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Real-codec invariants for the animated-GIF frame path: the encode →
  * container-parse → per-frame decode round-trip must reproduce the
  * generation law exactly (the DuckDB oracle hash-pins the same facts;
  * this spec localizes a failure to the codec instead of a hash diff).
  */
class MultimodalFramesSpec extends AnyFunSuite with SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("WAV round-trip: decoded stats equal the closed-form sample law") {
    val docs = Tables.documents(spark, dir).limit(50)
    val metas = MultimodalOps
      .decodeAudio(MultimodalOps.encodeWavMedia(docs)).collect()
    assert(metas.length == 50)
    metas.foreach { a =>
      val id = a.media_id
      val n = (256 + id % 256).toInt
      def smp(i: Int): Int =
        (((i.toLong * (3 + id % 5) + id) % 2048) - 1024).toInt
      val samples = (0 until n).map(smp)
      assert(a.sample_rate == 8000 && a.n_samples == n.toLong)
      assert(a.amp_sum == samples.map(s => math.abs(s).toLong).sum)
      assert(a.amp_min == samples.min && a.amp_max == samples.max)
      val cross = samples.sliding(2).count {
        case Seq(p, s) => (p < 0 && s >= 0) || (p >= 0 && s < 0)
        case _         => false
      }
      assert(a.zero_crossings == cross.toLong,
        s"zero-crossing mismatch for clip $id")
    }
  }

  test("audio decode fails loudly on a non-audio payload") {
    import spark.implicits._
    val bogus = Seq((1L, "audio/wav", Array[Byte](1, 2, 3, 4)))
      .toDF("media_id", "media_type", "payload")
    intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeAudio(bogus).collect()
    }
  }

  test("GIF sequence round-trip: every frame decodes back to the law") {
    val docs = Tables.documents(spark, dir).limit(50)
    val frames = MultimodalOps
      .sampleVideoFrames(MultimodalOps.encodeGifMedia(docs), 1)
      .collect()
    assert(frames.nonEmpty)
    frames.foreach { fm =>
      val id = fm.media_id
      assert(fm.n_frames == MultimodalOps.vidFrames(id))
      assert(fm.width == MultimodalOps.vidWidth(id))
      assert(fm.height == MultimodalOps.vidHeight(id))
      var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
      for (y <- 0 until fm.height; x <- 0 until fm.width) {
        val v = MultimodalOps.vidPixel(id, fm.frame_idx, x, y)
        sum += v; mn = math.min(mn, v); mx = math.max(mx, v)
      }
      assert(fm.px_sum == sum, s"media $id frame ${fm.frame_idx}: sum")
      assert(fm.px_min == mn && fm.px_max == mx,
        s"media $id frame ${fm.frame_idx}: min/max")
    }
    // full sample covers every frame exactly once per media
    val byMedia = frames.groupBy(_.media_id)
    byMedia.foreach { case (id, fs) =>
      assert(fs.map(_.frame_idx).sorted.toSeq ==
        (0 until MultimodalOps.vidFrames(id)))
    }
  }

  test("everyNth sampling keeps only frames 0, n, 2n, ...") {
    val docs = Tables.documents(spark, dir).limit(20)
    val frames = MultimodalOps
      .sampleVideoFrames(MultimodalOps.encodeGifMedia(docs), 2)
      .collect()
    frames.foreach(fm => assert(fm.frame_idx % 2 == 0))
    // a 2..5-frame animation sampled every 2nd frame yields 1..3 rows
    frames.groupBy(_.media_id).foreach { case (id, fs) =>
      val expected = (0 until MultimodalOps.vidFrames(id) by 2).size
      assert(fs.size == expected, s"media $id")
    }
  }

  test("nearest-neighbor resize halves dims and samples the even grid") {
    val docs = Tables.documents(spark, dir).limit(30)
    val out = MultimodalOps.decodeImage(
        MultimodalOps.resizePngMedia(
          MultimodalOps.encodePngMedia(docs), 2))
      .collect()
    assert(out.nonEmpty)
    out.foreach { m =>
      val id = m.media_id
      val (w0, h0) = (16 + id % 32, 8 + id % 16)
      assert(m.width == (w0 / 2).toInt && m.height == (h0 / 2).toInt)
      var sum = 0L
      for (y <- 0 until m.height; x <- 0 until m.width)
        sum += ((2L * x + 2L * y + id) % 256).toInt
      assert(m.px_sum == sum, s"media $id: resized sum")
    }
  }

  test("perceptual hash reproduces the closed-form law through the real codec") {
    val docs = Tables.documents(spark, dir).limit(60)
    val got = MultimodalOps.perceptualHash(
      MultimodalOps.encodeNearDupPngMedia(docs)).collect()
    assert(got.length == 60)
    got.foreach { h =>
      val id = h.media_id
      val p = Array.tabulate(7, 9)((y, x) =>
        MultimodalOps.phPixel(id, 2 * x, 2 * y))
      var dh = 0L; var ah = 0L; var s = 0L
      for (y <- 0 until 7; x <- 0 until 8) s += p(y)(x)
      for (y <- 0 until 7; x <- 0 until 8) {
        if (p(y)(x + 1) > p(y)(x)) dh |= 1L << (y * 8 + x)
        if (56L * p(y)(x) > s) ah |= 1L << (y * 8 + x)
      }
      assert(h.dhash == dh, s"media $id dhash")
      assert(h.ahash == ah, s"media $id ahash")
      assert(dh >= 0L && ah >= 0L, "56-bit hashes must stay non-negative")
    }
  }

  test("banded phash dedup ≡ brute force, and finds every planted within-group pair") {
    val docs = Tables.documents(spark, dir).limit(100)
    val hashes = MultimodalOps.perceptualHash(
      MultimodalOps.encodeNearDupPngMedia(docs)).toDF()
    val sigs = hashes.select(col("media_id").as("doc_id"),
      col("dhash").as("simhash"))
    val banded = ops.DedupOps.simhashHammingPairsFromSigs(
        sigs, nBits = 56, nBands = 7, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force on the collected 100 hashes (test-only oracle)
    val hs = hashes.collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (a, b, d)).toSet
    assert(banded == brute,
      s"banding lost/invented pairs: ${(banded diff brute) ++ (brute diff banded)}")
    // every within-group (planted near-dup) pair is found
    val groups = hs.map(_._1).toSeq.groupBy(_ / MultimodalOps.PhGroupSize)
    val planted: Set[(Long, Long)] = groups.values.toSeq.flatMap { g =>
      for (a <- g; b <- g if a < b) yield (a, b)
    }.toSet
    val foundPairs = banded.map(t => (t._1, t._2))
    assert(planted.subsetOf(foundPairs),
      s"missed planted pairs: ${planted diff foundPairs}")
  }

  test("corrupt payload fails loudly, not silently") {
    import spark.implicits._
    def junk(mediaType: String) = Seq((1L, mediaType, Array[Byte](1, 2, 3)))
      .toDF("media_id", "media_type", "payload")
    val gif = junk("image/gif")
    val png = junk("image/png")
    val decoders: Seq[(String, () => Any)] = Seq(
      "sampleVideoFrames" -> (() => MultimodalOps.sampleVideoFrames(gif, 1).collect()),
      "perFrameDHash" -> (() => MultimodalOps.perFrameDHash(gif).collect()),
      "decodeImage" -> (() => MultimodalOps.decodeImage(png).collect()),
      "perceptualHash" -> (() => MultimodalOps.perceptualHash(png).collect()),
      "resizePngMedia" -> (() => MultimodalOps.resizePngMedia(png, 2).collect()))
    decoders.foreach { case (name, decode) =>
      val ex = intercept[org.apache.spark.SparkException](decode())
      assert(ex.getMessage != null, name)
    }
  }

  test("video sequence banding finds exactly the brute-force pair set") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir).limit(100)
    val fh = MultimodalOps.perFrameDHash(
      MultimodalOps.encodeNearDupGifMedia(docs)).toDF().cache()
    val banded = graft.ops.DedupOps.hammingSeqPairs(
        fh.select(col("media_id"), col("n_frames"), col("frame_idx"),
          col("dhash").as("sig")), 56, 4, 8, minFrames = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force on the collected frame hashes (test-only oracle):
    // aligned same-length sequences, summed per-frame Hamming
    val seqs = fh.collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (id, rows) => id -> rows.sortBy(_._2).map(_._3).toSeq }
    val brute = (for {
      (a, sa) <- seqs.toSeq; (b, sb) <- seqs.toSeq
      if a < b && sa.length == sb.length
      d = sa.zip(sb).map { case (x, y) =>
        java.lang.Long.bitCount(x ^ y) }.sum
      if d <= 8
    } yield (a, b, d)).toSet
    assert(banded == brute,
      s"sequence banding lost/invented pairs: " +
        s"${(banded diff brute) ++ (brute diff banded)}")
    // every within-group (planted near-dup) pair is found, and the law
    // plants NO cross-group pairs (frame count + multipliers separate
    // all 15015 group structures)
    val planted: Set[(Long, Long)] = seqs.keys.toSeq
      .groupBy(_ / MultimodalOps.VdGroupSize).values.toSeq.flatMap { g =>
        for (a <- g; b <- g if a < b) yield (a, b)
      }.toSet
    assert(banded.map(t => (t._1, t._2)) == planted,
      "found pairs must be exactly the planted within-group set")
    fh.unpersist()
  }
}
