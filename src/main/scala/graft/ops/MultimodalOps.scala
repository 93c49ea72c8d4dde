package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriter}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, decoded/feature-extracted per partition.
  *
  * The image path is a REAL codec round-trip on the JVM's own PNG
  * support (`javax.imageio`): [[encodePngMedia]] renders a deterministic
  * grayscale image per document and compresses it to PNG bytes inside
  * executors; [[decodeImage]] parses those bytes back and reports
  * dimensions plus whole-raster pixel statistics. Because the pixel law
  * is closed-form in the id, the DuckDB oracle reproduces the decoded
  * stats arithmetically — the compressed bytes themselves never need to
  * be portable across engines (and aren't exposed: PNG encoder output
  * can differ across JDKs even when the decoded raster is identical).
  *
  * The Spark-side shape is the one a production pipeline needs: binary
  * columns, typed `Dataset`s, partition-batched iterator maps (the
  * Scala-native equivalent of `mapInPandas` — one iterator per
  * partition, per-partition codec setup amortized across rows), and
  * schema-stable output. At 100 TB this is a narrow, shuffle-free map;
  * payload bytes stream through executors without driver involvement.
  *
  * Every encoder goes through one doc_id → media wrapper
  * ([[renderMedia]]) and every decoder or re-encoder through one payload
  * map ([[mapMedia]]); each container has one writer and one reader
  * (PNG: [[pngBytes]]/[[readPng]], GIF: [[gifBytes]]/[[readGifFrames]],
  * 16-bit PCM: [[pcm16]]/[[pcmSample]] inside [[wavBytes]]/[[wavPcm]]),
  * and an encoder is one call pairing a pixel or sample law with its
  * container's writer.
  */
object MultimodalOps {

  /** A media row: opaque payload + source metadata. */
  final case class MediaRow(media_id: Long, media_type: String,
                            payload: Array[Byte])

  /** Really-decoded image facts: dimensions + whole-raster statistics.
    * Every field is derivable by the oracle from the generation law;
    * compressed size deliberately is NOT exposed (encoder-dependent). */
  final case class ImageMeta(media_id: Long, width: Int, height: Int,
                             px_sum: Long, px_min: Int, px_max: Int)

  /** Documents → media table: text payload as the opaque binary stand-in
    * (schema shape is what matters; bytes are bytes). */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 2 === 0, lit("image")).otherwise(lit("video"))
        .as("media_type"),
      encode(col("text"), "UTF-8").as("payload"))

  /** The one doc_id → (media_id, media_type, payload) wrapper every
    * encoder goes through: payloads are rendered INSIDE executors
    * (distributed encode — the driver never sees payload bytes). Per
    * partition it keeps ImageIO off its temp-file cache and builds
    * `setup`'s codec state (the GIF writer) once; `render` gets that
    * state and a doc_id. */
  private def renderMedia[S](docs: DataFrame, mediaType: String,
                             setup: () => S)
                            (render: (S, Long) => Array[Byte]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ImageIO.setUseCache(false)
      val state = setup()
      ids.map(id => (id, mediaType, render(state, id)))
    }.toDF("media_id", "media_type", "payload")
  }

  /** The one payload map every decoder and re-encoder goes through:
    * each media row to zero or more output rows, partition-batched
    * (ImageIO off its temp-file cache once per partition); narrow,
    * shuffle-free. */
  private def mapMedia[T <: Product : TypeTag](media: DataFrame)(
      f: MediaRow => IterableOnce[T]): Dataset[T] =
    media.as[MediaRow](Encoders.product[MediaRow]).mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.flatMap(f)
    }(Encoders.product[T])

  /** A re-encoded media table: [[mapMedia]] with the media table's own
    * schema, so re-encoders compose with any decoder or sink. */
  private def remapMedia(media: DataFrame)(
      payload: MediaRow => Array[Byte]): DataFrame =
    mapMedia(media)(m => Iterator.single((m.media_id, m.media_type, payload(m))))
      .toDF("media_id", "media_type", "payload")

  /** A w × h 8-bit grayscale raster with the given pixel law. */
  private def grayImage(w: Int, h: Int, pixel: (Int, Int) => Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, pixel(x, y)); x += 1 }
      y += 1
    }
    img
  }

  /** The PNG writer: a gray w × h raster of `pixel` to PNG bytes. */
  private def pngBytes(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(grayImage(w, h, pixel), "png", bos)
    bos.toByteArray
  }

  /** The image reader: a corrupt or non-image payload fails loudly
    * rather than fabricating metadata. */
  private def readPng(m: MediaRow): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(m.payload))
    require(img != null,
      s"media ${m.media_id}: payload is not a decodable image")
    img
  }

  /** Deterministic image law: doc d is a (16 + d%32) × (8 + d%16)
    * grayscale gradient with pixel(x, y) = (x + y + d) mod 256. Small
    * enough that the oracle can re-derive whole-raster statistics by
    * brute force, structured enough that a decode bug (wrong stride,
    * swapped axes, dropped rows) shifts the sum/min/max. */
  private[ops] def lawWidth(id: Long): Int = (16 + id % 32).toInt
  private[ops] def lawHeight(id: Long): Int = (8 + id % 16).toInt
  private[ops] def lawPixel(id: Long, x: Int, y: Int): Int =
    ((x + y + id) % 256).toInt

  /** Documents → PNG media table: one real PNG per doc_id, rendered and
    * compressed INSIDE executors (distributed encode — the driver never
    * sees payload bytes). */
  def encodePngMedia(docs: DataFrame): DataFrame =
    renderMedia(docs, "image/png", () => ()) { (_, id) =>
      pngBytes(lawWidth(id), lawHeight(id), (x, y) => lawPixel(id, x, y))
    }

  /** REAL image decode: parse the PNG payload with `javax.imageio` and
    * compute dimensions + whole-raster pixel statistics. Partition-
    * batched iterator transform; narrow, shuffle-free. A corrupt or
    * non-image payload fails loudly rather than fabricating metadata. */
  def decodeImage(media: DataFrame): Dataset[ImageMeta] =
    mapMedia(media) { m =>
      val img = readPng(m)
      val raster = img.getRaster
      val w = img.getWidth; val h = img.getHeight
      var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = raster.getSample(x, y, 0)
          sum += v; if (v < mn) mn = v; if (v > mx) mx = v
          x += 1
        }
        y += 1
      }
      Iterator.single(ImageMeta(m.media_id, w, h, sum, mn, mx))
    }

  /** REAL image resize: decode each PNG payload, nearest-neighbor
    * downscale by `factor` (out(x, y) = in(x·factor, y·factor) — the
    * one filter with a closed-form output law, so the oracle can verify
    * the whole decode→resize→re-encode→decode chain arithmetically;
    * Java's built-in smooth scalers have unspecified kernels), and
    * re-encode to PNG INSIDE executors. Output schema = the media
    * table's, so resize composes with [[decodeImage]]/any sink; narrow,
    * shuffle-free, payload bytes never reach the driver. */
  def resizePngMedia(media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, "factor must be >= 1")
    remapMedia(media) { m =>
      val src = readPng(m)
      val raster = src.getRaster
      pngBytes(math.max(1, src.getWidth / factor),
        math.max(1, src.getHeight / factor),
        (x, y) => raster.getSample(x * factor, y * factor, 0))
    }
  }

  /** Really-decoded video-frame facts: one row per SAMPLED frame with
    * its decoded raster statistics. */
  final case class FrameMeta(media_id: Long, n_frames: Int, frame_idx: Int,
                             width: Int, height: Int,
                             px_sum: Long, px_min: Int, px_max: Int)

  /** Deterministic multi-frame law: doc d is a (8 + d%8) × 8 grayscale
    * animation with 2 + d%4 frames and pixel(x, y, f) =
    * (x + 2y + 5f + d) mod 256 — frame index shifts the gradient, so a
    * decoder that drops/duplicates/reorders frames changes the stats. */
  private[graft] def vidFrames(id: Long): Int = (2 + id % 4).toInt
  private[graft] def vidWidth(id: Long): Int = (8 + id % 8).toInt
  private[graft] def vidHeight(id: Long): Int = 8
  private[graft] def vidPixel(id: Long, f: Int, x: Int, y: Int): Int =
    ((x + 2L * y + 5L * f + id) % 256).toInt

  /** Documents → animated-GIF media table: one REAL multi-frame GIF per
    * doc_id, rendered and compressed INSIDE executors with the JDK's
    * own GIF sequence writer (`javax.imageio`). GIF is the one
    * multi-frame container the JVM can encode with zero external
    * libraries — the video stand-in whose frame structure is real, not
    * a byte-stride convention. */
  def encodeGifMedia(docs: DataFrame): DataFrame =
    renderMedia(docs, "image/gif", gifWriter) { (writer, id) =>
      gifBytes(writer, vidFrames(id), vidWidth(id), vidHeight(id),
        (f, x, y) => vidPixel(id, f, x, y))
    }

  /** The GIF writer's per-partition state: one sequence writer, reused
    * for every row of the partition and never disposed per row. */
  private def gifWriter(): ImageWriter =
    ImageIO.getImageWritersByFormatName("gif").next()

  /** The GIF writer: `frames` gray w × h rasters of `pixel(f, x, y)` as
    * one animated-GIF sequence on `writer`. */
  private def gifBytes(writer: ImageWriter, frames: Int, w: Int, h: Int,
                       pixel: (Int, Int, Int) => Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < frames) {
      val frame = f
      writer.writeToSequence(
        new IIOImage(grayImage(w, h, (x, y) => pixel(frame, x, y)), null, null),
        null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  /** The GIF reader: parse the container, count its frames, and decode
    * frames 0, everyNth, 2·everyNth, … into `frame(n_frames, idx, img)`.
    * One reader per row. try/finally: a payload that fails MID-decode
    * (the require or `reader.read` throwing) must still release the
    * reader and stream — on partitions with many corrupt rows the leaked
    * native/heap resources otherwise pile up before the task dies. */
  private def readGifFrames[T](m: MediaRow, everyNth: Int)
                              (frame: (Int, Int, BufferedImage) => T): Seq[T] = {
    val reader = ImageIO.getImageReadersByFormatName("gif").next()
    val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(m.payload))
    reader.setInput(iis)
    try {
      val n = reader.getNumImages(true)
      require(n > 0, s"media ${m.media_id}: payload has no decodable frames")
      (0 until n by everyNth).map(f => frame(n, f, reader.read(f)))
    } finally {
      reader.dispose(); iis.close()
    }
  }

  /** REAL frame sampling: parse the GIF container with `javax.imageio`,
    * count its frames, decode every `everyNth`-th one (from frame 0),
    * and reduce each decoded raster to dimensions + pixel stats.
    * Partition-batched iterator transform (one reader per row, one
    * codec setup per partition); narrow, shuffle-free — at 100 TB the
    * payload bytes stream through executors untouched by the driver.
    * A corrupt payload fails loudly rather than fabricating frames. */
  def sampleVideoFrames(media: DataFrame, everyNth: Int): Dataset[FrameMeta] = {
    require(everyNth >= 1, "everyNth must be >= 1")
    mapMedia(media) { m =>
      readGifFrames(m, everyNth) { (n, f, img) =>
        val w = img.getWidth; val h = img.getHeight
        var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = img.getRGB(x, y) & 0xff // palette-resolved gray
            sum += v; if (v < mn) mn = v; if (v > mx) mx = v
            x += 1
          }
          y += 1
        }
        FrameMeta(m.media_id, n, f, w, h, sum, mn, mx)
      }
    }
  }

  /** Frame sampling stub: the payload split into fixed-stride chunks,
    * each "frame" summarized by its digest — exercises binary slicing and
    * per-frame row output from binary input (full chunks only). Emits one
    * scalar row per frame `(media_id, n_bytes, frame_idx, digest)` rather
    * than an array column, so downstream sinks/compares see flat columns;
    * media shorter than one stride yields no rows (explode of empty). */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame =
    media
      .select(
        col("media_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        posexplode(expr(
          s"transform(sequence(1, int(length(payload) / $stride)), " +
            s"i -> md5(substring(payload, (i - 1) * $stride + 1, $stride)))"))
          .as(Seq("pos", "digest")))
      .select(
        col("media_id"), col("n_bytes"),
        (col("pos") + 1).cast("int").as("frame_idx"),
        col("digest"))

  // ---- audio (real WAV codec round-trip) ----

  final case class AudioMeta(media_id: Long, sample_rate: Int,
                             n_samples: Long, amp_sum: Long,
                             amp_min: Int, amp_max: Int,
                             zero_crossings: Long)

  /** Deterministic audio law: doc d is a mono 16-bit PCM clip at 8 kHz
    * with 256 + d%256 samples, sample(i) = ((i·(3 + d%5) + d) mod 2048)
    * − 1024 — integer-only (no trig), so the oracle re-derives every
    * whole-clip statistic in closed form, while a decode bug (wrong
    * endianness, dropped frames, sign error) shifts sum/min/max or the
    * zero-crossing count. */
  private[ops] def audN(id: Long): Int = (256 + id % 256).toInt
  private[ops] def audSample(id: Long, i: Int): Int =
    (((i.toLong * (3 + id % 5) + id) % 2048) - 1024).toInt

  private val AudRate = 8000

  /** Canonical 44-byte RIFF/WAVE container around 16-bit mono PCM —
    * byte-identical to `javax.sound.sampled`'s writer for this format
    * (WavCodecSpec asserts the equality), but with NO call into
    * `AudioSystem`: the javax entry points take a GLOBAL synchronized
    * provider-lookup on every call, which serializes every codec task
    * in a JVM — measured 18× wall-clock on 10× docs (3× worse
    * per-row) once ten tasks contended; at 16-core executors the
    * contention is worse still. A container this simple is written
    * and parsed by hand in the hot path; javax remains the
    * independent reference implementation in the spec. */
  private[graft] def wavBytes(pcm: Array[Byte], rate: Int): Array[Byte] = {
    val n = pcm.length
    val bb = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)                       // PCM, mono
      .putInt(rate).putInt(rate * 2)                 // rate, byte rate
      .putShort(2).putShort(16)                      // block align, bits
    bb.put("data".getBytes("US-ASCII")).putInt(n).put(pcm)
    bb.array()
  }

  /** Parse a RIFF/WAVE payload: walk the chunk list (word-aligned, so
    * non-canonical writers with extra chunks still parse), demand
    * 16-bit mono PCM, return (pcm bytes, sample rate). */
  private[graft] def wavPcm(bytes: Array[Byte]): (Array[Byte], Int) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(fourcc() == "RIFF", "not a RIFF container")
    bb.getInt // declared size
    require(fourcc() == "WAVE", "not a WAVE form")
    var rate = -1
    var pcm: Array[Byte] = null
    while (bb.remaining() >= 8 && (rate < 0 || pcm == null)) {
      val id = fourcc()
      val size = bb.getInt
      val next = bb.position() + size + (size & 1) // chunks word-align
      id match {
        case "fmt " =>
          val audioFormat = bb.getShort
          val channels = bb.getShort
          rate = bb.getInt
          bb.getInt; bb.getShort // byte rate, block align
          val bits = bb.getShort
          require(audioFormat == 1 && channels == 1 && bits == 16,
            s"expected 16-bit mono PCM, got fmt=$audioFormat ch=$channels bits=$bits")
        case "data" =>
          pcm = new Array[Byte](size)
          bb.get(pcm)
        case _ => ()
      }
      bb.position(next)
    }
    require(rate > 0 && pcm != null, "WAVE missing fmt or data chunk")
    (pcm, rate)
  }

  /** The PCM writer: n samples `sample(i)` packed as 16-bit
    * little-endian signed PCM. */
  private def pcm16(n: Int, sample: Int => Int): Array[Byte] = {
    val pcm = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      val s = sample(i)
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    pcm
  }

  /** The PCM reader: sample `i` of 16-bit little-endian signed PCM,
    * matching the written format. */
  private def pcmSample(pcm: Array[Byte], i: Int): Int =
    ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt

  /** Documents → WAV media table: one REAL RIFF/WAVE payload per
    * doc_id, synthesized and containerized INSIDE executors — bytes
    * never visit the driver (the audio twin of [[encodePngMedia]]).
    * Container written by the lock-free [[wavBytes]]; see its doc for
    * why `AudioSystem` stays out of the hot path. */
  def encodeWavMedia(docs: DataFrame): DataFrame =
    renderMedia(docs, "audio/wav", () => ()) { (_, id) =>
      wavBytes(pcm16(audN(id), i => audSample(id, i)), AudRate)
    }

  /** REAL audio downsample: decode each WAV payload, keep every
    * `factor`-th sample (out(i) = in(i·factor) — the one resampler
    * with a closed-form output law; proper decimation filters have
    * implementation-defined kernels), and re-containerize at the
    * reduced rate INSIDE executors. Output schema = the media table's,
    * so it composes with [[decodeAudio]] exactly the way
    * [[resizePngMedia]] composes with [[decodeImage]]. */
  def downsampleWavMedia(media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, "factor must be >= 1")
    remapMedia(media) { m =>
      val (pcm, rate) = wavPcm(m.payload)
      val n = pcm.length / 2
      wavBytes(pcm16((n + factor - 1) / factor, i => pcmSample(pcm, i * factor)),
        rate / factor)
    }
  }

  /** REAL audio decode: parse the RIFF/WAVE container ([[wavPcm]] —
    * lock-free chunk walk; javax validates it in WavCodecSpec), read
    * the PCM back, and compute whole-clip statistics — sample rate
    * and frame count from the container header, absolute-amplitude
    * sum/min/max and the zero-crossing count from the samples (the
    * standard cheap audio features). Partition-batched; narrow,
    * shuffle-free; a corrupt payload fails loudly (wavPcm throws). */
  def decodeAudio(media: DataFrame): Dataset[AudioMeta] =
    mapMedia(media) { m =>
      val (pcm, rate) = wavPcm(m.payload)
      val n = pcm.length / 2
      var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
      var crossings = 0L; var prev = 0; var i = 0
      while (i < n) {
        val s = pcmSample(pcm, i)
        sum += math.abs(s)
        if (s < mn) mn = s
        if (s > mx) mx = s
        if (i > 0 && ((prev < 0 && s >= 0) || (prev >= 0 && s < 0)))
          crossings += 1
        prev = s
        i += 1
      }
      Iterator.single(AudioMeta(m.media_id, rate, n.toLong, sum, mn, mx, crossings))
    }

  // ---- perceptual-hash image dedup (the LAION-style multimodal×dedup
  // axis): dHash/aHash over really-decoded rasters, Hamming-banded via
  // the SimHash band discipline (DedupOps.simhashHammingPairsFromSigs).

  /** Perceptual-hash sample grid: payloads downscale to 9×7 by
    * nearest-neighbor, dHash compares the 8 horizontal neighbor pairs
    * per row (7×8 = 56 bits), aHash thresholds the 8×7 sub-grid against
    * its own mean (56 bits). 56 ≤ 63 keeps every band value and the
    * packed hash inside a non-negative BIGINT on BOTH engines (DuckDB
    * raises on 1<<63). */
  private[graft] val PhSampleW = 9
  private[graft] val PhSampleH = 7

  /** Deterministic NEAR-DUP image law (the dedup fixture law — distinct
    * from [[lawPixel]]'s smooth gradient, which is dHash-degenerate:
    * dHash is invariant to constant brightness shifts, so every
    * gradient image hashes alike). Documents form groups of
    * `groupSize`: the group id drives the gradient STRUCTURE
    * (per-axis/cross-term multipliers), so distinct groups hash far
    * apart; within a group, non-leader members get a sparse +128
    * perturbation (~2 of the 63 sampled 2×2 blocks), so within-group
    * dHash distance stays ≤6 — the planted near-dups a perceptual
    * dedup must find. Closed-form in doc_id: the DuckDB oracle replays
    * decode→downscale→hash arithmetically. */
  private[graft] val PhGroupSize = 5L
  private[graft] val PhW = 18
  private[graft] val PhH = 14
  private[graft] def phPixel(id: Long, x: Int, y: Int): Int = {
    val g = id / PhGroupSize
    val b = (x * (31 + g % 7) + y * (17 + g % 11) +
      x * y * (7 + g % 5) + g * 101) % 256
    if (id % PhGroupSize != 0 && (x / 2 + 9 * (y / 2) + id) % 29 == 0)
      ((b + 128) % 256).toInt
    else b.toInt
  }

  /** Documents → near-dup PNG media table: one real 18×14 PNG per
    * doc_id rendered from [[phPixel]] and compressed INSIDE executors
    * (same distributed-encode discipline as [[encodePngMedia]]). */
  def encodeNearDupPngMedia(docs: DataFrame): DataFrame =
    renderMedia(docs, "image/png", () => ()) { (_, id) =>
      pngBytes(PhW, PhH, (x, y) => phPixel(id, x, y))
    }

  /** Deterministic NEAR-DUP video law — the sequence sibling of
    * [[phPixel]]: documents form groups of [[VdGroupSize]]; the group id
    * drives the gradient structure (per-axis/cross multipliers and a
    * frame-COUPLED x-gradient term — coupled, not additive, because a
    * per-frame constant offset is dHash-invariant and would collapse
    * the %13 axis out of the separation) and the frame COUNT (3 + g%3 — sequence length is a group property, so
    * planted near-dups align frame-for-frame), while non-leader members
    * get a sparse +128 perturbation (~0.6 sampled blocks per frame at
    * the %101 rate, so the summed per-frame dHash distance stays ≤8).
    * Distinct groups differ in some multiplier unless they agree mod
    * 7, 11, 5, 13 AND 3 simultaneously — lcm 15015 group structures, so
    * even the ×10 decade fixture (10k groups) plants no cross-group
    * collisions (the image law's 385 structures collide quadratically
    * there; the video law is built not to). Frames are 18×14 = exactly
    * 2× the 9×7 sample grid, so the decode→downscale replay is
    * pixel(2x, 2y) — closed-form for the oracle, like [[phPixel]]. */
  private[graft] val VdGroupSize = 5L
  private[graft] def vdFrames(id: Long): Int = (3 + (id / VdGroupSize) % 3).toInt
  private[graft] def vdPixel(id: Long, f: Int, x: Int, y: Int): Int =
    vdPerturbed(id, f, x, y,
      (x / 2 + 9 * (y / 2) + 63 * f + id) % 101 == 0)

  /** The near-dup video laws' shared pixel: the group's gradient, plus
    * 128 (mod 256) on a non-leader member where `hit` holds. */
  private def vdPerturbed(id: Long, f: Int, x: Int, y: Int, hit: Boolean): Int = {
    val g = id / VdGroupSize
    val b = (x * (31 + g % 7) + y * (17 + g % 11) +
      x * y * (7 + g % 5) + x * f * (23 + g % 13) + g * 101) % 256
    if (id % VdGroupSize != 0 && hit) ((b + 128) % 256).toInt
    else b.toInt
  }

  /** The RADIUS-2 sibling of [[vdPixel]] — the video screen's tighter-
    * contract lever (the sequence analogue of [[afMagRawR1]]): non-
    * leader members perturb exactly ONE sampled pixel — (4, 3) of the
    * LAST frame — so at most the two adjacent dHash comparisons flip
    * and every member sits at sequence distance ≤2 from its leader
    * (members of one group render identically). A radius-2 contract
    * lets [[graft.ops.DedupOps.hammingSeqPairs]] run THREE groups of
    * ~56·nf/3 bits instead of nine — group keys carry 4.7× the bits,
    * so the radius-8 screen's ×100 pigeonhole-floor candidate mass
    * (139M — BASELINE round 12) collapses. */
  private[graft] def vdPixelR2(id: Long, f: Int, x: Int, y: Int): Int =
    vdPerturbed(id, f, x, y, f == vdFrames(id) - 1 && x / 2 == 4 && y / 2 == 3)

  /** Documents → near-dup animated-GIF media table: one REAL multi-frame
    * GIF per doc_id rendered from [[vdPixel]] and compressed inside
    * executors (the [[encodeGifMedia]] distributed-encode discipline on
    * the near-dup law). */
  def encodeNearDupGifMedia(docs: DataFrame,
                            r2: Boolean = false): DataFrame = {
    val pixel: (Long, Int, Int, Int) => Int = if (r2) vdPixelR2 else vdPixel
    renderMedia(docs, "image/gif", gifWriter) { (writer, id) =>
      gifBytes(writer, vdFrames(id), PhW, PhH, (f, x, y) => pixel(id, f, x, y))
    }
  }

  /** One frame's perceptual hash: (media_id, n_frames, frame_idx, dhash). */
  final case class FrameHash(media_id: Long, n_frames: Int, frame_idx: Int,
                             dhash: Long)

  /** REAL per-frame dHash extraction: parse each GIF container with
    * `javax.imageio`, decode EVERY frame, downscale to the 9×7 sample
    * grid and pack the 56-bit dHash — the [[perceptualHash]] kernel
    * applied per frame. Narrow, shuffle-free; output is 20 bytes/frame,
    * which is all the sequence-dedup join ever shuffles at 100 TB. */
  def perFrameDHash(media: DataFrame): Dataset[FrameHash] =
    mapMedia(media) { m =>
      readGifFrames(m, 1) { (n, f, img) =>
        val w = img.getWidth; val h = img.getHeight
        var dh = 0L
        var y = 0
        while (y < PhSampleH) {
          var x = 0
          while (x < PhSampleW - 1) {
            val a = img.getRGB(x * w / PhSampleW, y * h / PhSampleH) & 0xff
            val b = img.getRGB((x + 1) * w / PhSampleW, y * h / PhSampleH) & 0xff
            if (b > a) dh |= 1L << (y * 8 + x)
            x += 1
          }
          y += 1
        }
        FrameHash(m.media_id, n, f, dh)
      }
    }

  /** Perceptual hashes of a raster: (media_id, dhash, ahash). */
  final case class PHash(media_id: Long, dhash: Long, ahash: Long)

  /** REAL perceptual-hash extraction: decode each PNG payload with
    * `javax.imageio`, nearest-neighbor downscale to the 9×7 sample grid
    * (sx = x·w/9, sy = y·h/7 — the same closed-form kernel
    * [[resizePngMedia]] uses, so the oracle can replay it), then pack
    * dHash (neighbor-greater bits) and aHash (above-mean bits) into
    * 56-bit longs. Partition-batched; narrow, shuffle-free; payload
    * bytes never reach the driver. At 100 TB this is the cheap map
    * pass whose output (16 bytes/image) is what the dedup join
    * actually shuffles. */
  def perceptualHash(media: DataFrame): Dataset[PHash] =
    mapMedia(media) { m =>
      val img = readPng(m)
      val raster = img.getRaster
      val w = img.getWidth; val h = img.getHeight
      val p = Array.ofDim[Int](PhSampleH, PhSampleW)
      var y = 0
      while (y < PhSampleH) {
        var x = 0
        while (x < PhSampleW) {
          p(y)(x) = raster.getSample(x * w / PhSampleW, y * h / PhSampleH, 0)
          x += 1
        }
        y += 1
      }
      var dh = 0L; var ah = 0L; var s = 0L
      y = 0
      while (y < PhSampleH) {
        var x = 0
        while (x < PhSampleW - 1) {
          if (p(y)(x + 1) > p(y)(x)) dh |= 1L << (y * 8 + x)
          s += p(y)(x)
          x += 1
        }
        y += 1
      }
      y = 0
      while (y < PhSampleH) {
        var x = 0
        while (x < PhSampleW - 1) {
          if (56L * p(y)(x) > s) ah |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      Iterator.single(PHash(m.media_id, dh, ah))
    }

  // ---- audio near-dup fingerprinting (the Haitsma–Kalman family's
  // frame-energy-delta signs), completing the dedup modality matrix:
  // text (shingles/MinHash/SimHash), embeddings (cosine), image
  // (dHash), video (frame-sequence dHash), audio (this).

  /** Deterministic NEAR-DUP audio law — the audio sibling of
    * [[phPixel]]: docs form groups of [[AfGroupSize]]; each clip is
    * [[AfFrames]] frames of [[AfFrameW]] 16-bit samples, constant
    * |amplitude| per frame with alternating sign (a square wave — so
    * the clip has real zero crossings but an exactly closed-form
    * per-frame energy). The magnitude law's f/f²/f³ multipliers are
    * group-keyed mod the primes 1009/1013/1019 (~10⁹ structures — a
    * first cut with 7/11/13 = 1001 structures measured 742k CROSS-group
    * pairs at the ×10 fixture because same-structure groups differ only
    * in the weak +g·101 offset; with near-random per-group energy
    * profiles the expected cross-group fingerprint distance is ~28 bits
    * and distance ≤3 collisions are ~10⁻¹² rare). Non-leader members
    * perturb the single frame where (f + id) % 61 == 0 (57 < 61 ⇒ at
    * most one frame, flipping at most the two adjacent delta bits →
    * fingerprint distance ≤2 from the leader; members whose id lands no
    * frame hash identically). */
  private[graft] val AfGroupSize = 5L
  private[graft] val AfFrames = 57
  private[graft] val AfFrameW = 32
  private[graft] def afMagRaw(id: Long, f: Int): Long =
    afPerturbed(id, f, (f + id) % 61 == 0)

  /** The near-dup audio laws' shared magnitude: the group's energy
    * profile, plus 1365 (mod 2048) on a non-leader member where `hit`
    * holds. */
  private def afPerturbed(id: Long, f: Int, hit: Boolean): Long = {
    val g = id / AfGroupSize
    val base = (f.toLong * (31 + g % 1009) + f.toLong * f * (17 + g % 1013) +
      f.toLong * f * f * (23 + g % 1019) + g * 101) % 2048
    if (id % AfGroupSize != 0 && hit) (base + 1365) % 2048
    else base
  }

  /** The RADIUS-1 sibling of [[afMagRaw]] — the audio screen's wide-
    * band/small-radius scale lever (round-11 verdict): non-leader
    * members perturb ONLY the LAST frame, so the single energy-delta
    * bit 55 is the only fingerprint bit that can flip → every member is
    * at Hamming distance ≤1 from its leader (and members of one group
    * hash identically to each other). A radius-1 contract lets the pair
    * screen run 2×28-bit bands instead of 4×14 — band values draw from
    * 2²⁸ instead of 2¹⁴, so random band-value collisions among distinct
    * fingerprints (the 4×14/≤3 screen's ×100 candidate mass, 50.1M at
    * 500k docs — BASELINE.md round 11) collapse by ~2¹⁴ per band. */
  private[graft] def afMagRawR1(id: Long, f: Int): Long =
    afPerturbed(id, f, f == AfFrames - 1)

  /** Documents → near-dup WAV media: one REAL 16-bit mono PCM clip per
    * doc rendered from [[afMagRaw]] (or, with `r1 = true`, the radius-1
    * law [[afMagRawR1]]) and containerized by [[wavBytes]] inside
    * executors (the [[encodeWavMedia]] distributed-encode discipline on
    * the near-dup law). */
  def encodeNearDupWavMedia(docs: DataFrame, r1: Boolean = false): DataFrame = {
    val mag: (Long, Int) => Long = if (r1) afMagRawR1 else afMagRaw
    renderMedia(docs, "audio/wav", () => ()) { (_, id) =>
      wavBytes(pcm16(AfFrames * AfFrameW, { i =>
        val m = (mag(id, i / AfFrameW) - 1024).toInt
        if (i % 2 == 0) m else -m
      }), AudRate)
    }
  }

  final case class AudioFp(media_id: Long, fp: Long)

  /** 56-bit audio fingerprint from a REAL container round-trip: parse
    * the RIFF/WAVE payload ([[wavPcm]]), sum |amplitude| per
    * [[AfFrameW]]-sample frame, and set bit f when frame f+1 carries
    * more energy than frame f — the sign-of-energy-delta fingerprint
    * (the Haitsma–Kalman integer core, with frame energies standing in
    * for FFT band energies so the oracle replays the whole
    * decode→frame→delta chain in closed form). 56 bits = the image
    * dHash width, so [[graft.ops.DedupOps.simhashHammingPairsFromSigs]]
    * serves the pair screen verbatim. Narrow per-row work, no shuffle. */
  def audioFingerprint(media: DataFrame): Dataset[AudioFp] =
    mapMedia(media) { m =>
      val (pcm, _) = wavPcm(m.payload)
      val nf = pcm.length / 2 / AfFrameW
      val e = new Array[Long](nf)
      // only whole frames contribute (a clip shorter than one frame
      // fingerprints as 0 — the trailing partial frame carries no
      // energy-delta bit either way)
      var i = 0
      while (i < nf * AfFrameW) {
        e(i / AfFrameW) += math.abs(pcmSample(pcm, i))
        i += 1
      }
      var fp = 0L
      var f = 0
      while (f < nf - 1 && f < 56) {
        if (e(f + 1) > e(f)) fp |= 1L << f
        f += 1
      }
      Iterator.single(AudioFp(m.media_id, fp))
    }
}
