package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payload + typed metadata
  * struct, with distributed encode/decode/feature-extract/frame-sample
  * stages.
  *
  * The decode kernel is REAL: payloads are PNG-encoded images
  * (`javax.imageio` — ships in the JDK, zero extra dependencies) and the
  * feature stage decodes actual pixels executor-side inside a
  * partition-preserving `mapPartitions` batch — the exact shape a 100 TB
  * image/audio/video pipeline needs (bytes stay columnar in parquet,
  * decode is embarrassingly parallel, no shuffle). The codec is a one-line
  * kernel ([[encodeImage]]): the same pipeline runs over PNG (default,
  * lossless + byte-deterministic → oracle-stable) and JPEG (spec-proven
  * second codec); schema, batching and plan shape are format-agnostic.
  */
object Multimodal {

  /** Blob row: payload + self-describing metadata (the pattern for image/
    * audio/video columns at rest: bytes in parquet, typed meta alongside). */
  final case class BlobRow(id: Long, payload: Array[Byte], mime: String, n_bytes: Long)

  /** Decoded-image features: real dimensions + mean luminance from the
    * decoded pixels, plus the frame-sample count (video-pipeline shape). */
  final case class ImageFeatures(
      id: Long,
      n_bytes: Long,
      width: Int,
      height: Int,
      mean_luma: Double,
      frames_sampled: Int)

  /** Wrap a text corpus as a blob table (binary media column stand-in;
    * payload = UTF-8 bytes). */
  def toBlobTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("id"),
      encode(col(textCol), "UTF-8").as("payload"),
      lit("text/plain").as("mime"),
      octet_length(col(textCol)).cast("long").as("n_bytes"))

  // ---- image encode (the planted payloads) --------------------------------

  /** Deterministic planted bitmap: a seeded gradient+noise RGB image. Same
    * seed/dims → identical pixels, so every codec encodes the same source. */
  def plantedImage(seed: Long, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rng = new graft.util.SplitMix64(seed)
    var py = 0
    while (py < h) {
      var px = 0
      while (px < w) {
        val noise = (rng.next() & 0x3f).toInt // low 6 bits of the stream
        val r = (px * 255 / math.max(w - 1, 1) + noise) & 0xff
        val g = (py * 255 / math.max(h - 1, 1) + noise) & 0xff
        val b = ((px + py) * 255 / math.max(w + h - 2, 1) + noise) & 0xff
        img.setRGB(px, py, (r << 16) | (g << 8) | b)
        px += 1
      }
      py += 1
    }
    img
  }

  /** THE codec kernel — the single line that changes per format. Everything
    * else (schema, batching, partition-preserving decode, plan shape) is
    * format-agnostic; MultimodalSpec proves it by running the same feature
    * pipeline over "png" and "jpg" payloads. */
  def encodeImage(img: BufferedImage, format: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(img, format, bos), s"no ImageIO writer for '$format'")
    bos.toByteArray
  }

  /** Deterministic planted image, PNG-encoded in memory. Same seed/dims →
    * byte-identical PNG, so tests and the rows-only driver hash are stable
    * across runs and partitionings (PNG is lossless AND deterministic —
    * that is why it stays the oracle-facing codec). */
  def plantedPng(seed: Long, w: Int, h: Int): Array[Byte] =
    encodeImage(plantedImage(seed, w, h), "png")

  /** Image dimensions for a given id — varied so the decode is exercised
    * over many shapes, deterministic so every run plants the same corpus. */
  def plantedDims(id: Long): (Int, Int) =
    (8 + (id % 9).toInt * 3, 8 + ((id / 9) % 7).toInt * 4)

  /** Synthesize the image-blob table: one planted image per doc id, encoded
    * executor-side (mapPartitions — the encode never touches the driver).
    * This is the write half of the multimodal story: binary media columns
    * materialized next to typed metadata. `format` picks the codec
    * ("png" default — lossless, byte-deterministic, oracle-stable; "jpg"
    * exercises the second-codec path end-to-end). */
  def toImageTable(docs: DataFrame, idCol: String, format: String = "png"): DataFrame =
    encodedImageTable(docs, idCol, format) { id =>
      val (w, h) = plantedDims(id)
      plantedImage(seed = id * 0x9e3779b97f4a7c15L + 17, w, h)
    }

  /** One `image(id)` per doc id, encoded in `format` executor-side — the
    * shared body of the planted-image tables. */
  private def encodedImageTable(docs: DataFrame, idCol: String, format: String)(
      image: Long => BufferedImage): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val mime = if (format == "jpg") "image/jpeg" else s"image/$format"
    docs.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.map { id =>
          val bytes = encodeImage(image(id), format)
          BlobRow(id, bytes, mime, bytes.length.toLong)
        }
      }.toDF()
  }

  // ---- portable pattern images (the phash full-oracle payloads) -----------

  /** md5-derived bit, engine-portable: DuckDB's
    * `('0x' || substr(md5(s), 1, 15))::BIGINT % 2 = 0` recomputed on the
    * JVM — the same convention every portable oracle in the registry uses
    * (hashedTf, t_split), here feeding pixel GENERATION so the image hash
    * is SQL-replayable without a codec. */
  private[multimodal] def md5Bit(s: String): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16) % 2 == 0
  }

  /** The closed-form 64-bit pattern for pattern-group `g`: bit c set iff
    * cell c is BRIGHT. Cell 0 is forced bright and cell 63 forced dark so
    * the bright count stays in [1, 63] — which makes [[aHash64]] of the
    * rendered image EQUAL the pattern bits exactly (a bright cell's mean
    * beats the global mean iff not every cell is bright; a dark cell's
    * never does; see the inequality in aHash64's doc). */
  private[multimodal] def patternBits(g: Long): Long = {
    var bits = 1L // cell 0 bright
    var c = 1
    while (c < 63) {
      if (md5Bit(s"img:$g:$c")) bits |= 1L << c
      c += 1
    }
    bits // cell 63 dark
  }

  /** Per-doc planted phash under the documented perturbation rule:
    * class doc_id % 3 — 0: the group pattern as-is; 1: one cell flipped
    * (Hamming 1 from base); 2: four consecutive cells flipped (Hamming 4
    * from base — found by the band join, rejected by the Hamming filter,
    * so BOTH sides of the filter are exercised). Flips stay in cells
    * 1..62, preserving the bright-count invariant. */
  private[multimodal] def plantedPhash(id: Long): Long = {
    val base = patternBits(id % 16)
    (id % 3) match {
      case 0 => base
      case 1 => base ^ (1L << (1 + (id % 62)).toInt)
      case _ =>
        val s = (1 + (id % 59)).toInt
        base ^ (0xfL << s)
    }
  }

  /** Render the planted phash pattern as a 16×16 grayscale image: cell
    * (i, j) = 2×2 pixels, gray 200 if bit (i*8+j) is set else 50. Gray
    * r=g=b=L makes the Rec. 601 integer luma exactly 1000·L, so
    * [[aHash64]] of the DECODED image equals [[plantedPhash]] bit-for-bit
    * — proven by MultimodalSpec and what upgrades m_phash_pairs to a full
    * oracle (DuckDB replays the pattern definition; Spark goes through
    * real encode→decode→pixel-hash). */
  private[multimodal] def patternImage(id: Long): BufferedImage = {
    val bits = plantedPhash(id)
    val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
    var c = 0
    while (c < 64) {
      val l = if ((bits & (1L << c)) != 0) 200 else 50
      val rgb = (l << 16) | (l << 8) | l
      val y0 = (c / 8) * 2; val x0 = (c % 8) * 2
      img.setRGB(x0, y0, rgb); img.setRGB(x0 + 1, y0, rgb)
      img.setRGB(x0, y0 + 1, rgb); img.setRGB(x0 + 1, y0 + 1, rgb)
      c += 1
    }
    img
  }

  /** Pattern-image blob table: one planted PATTERN image per doc id,
    * encoded executor-side. Default codec is BMP — uncompressed 24-bit,
    * lossless, and a different ImageIO writer than the PNG path, so the
    * full-oracle query also exercises a second codec end-to-end. */
  def toPatternImageTable(docs: DataFrame, idCol: String,
      format: String = "bmp"): DataFrame =
    encodedImageTable(docs, idCol, format)(patternImage)

  // ---- image decode (the real kernel) -------------------------------------

  /** Decode any ImageIO-readable payload (PNG/JPEG/BMP/GIF) and compute
    * (width, height, mean luma).
    * Rec. 601 luma over every decoded pixel; the result is rounded to 6
    * decimals so the value survives engine-side double formatting. */
  def decodeImage(payload: Array[Byte]): (Int, Int, Double) = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    var sum = 0.0
    var py = 0
    while (py < h) {
      var px = 0
      while (px < w) {
        val rgb = img.getRGB(px, py)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        sum += 0.299 * r + 0.587 * g + 0.114 * b
        px += 1
      }
      py += 1
    }
    (w, h, math.rint(sum / (w.toLong * h) * 1e6) / 1e6)
  }

  /** Evenly frame-sample `n` byte offsets from a payload — the shape of
    * video frame sampling (offsets chosen once, decode per offset). */
  def sampleOffsets(len: Int, n: Int): Seq[Int] =
    if (len <= 0 || n <= 0) Seq.empty
    else (0 until n).map(i => ((i.toLong * len) / n).toInt).distinct

  /** Distributed feature extraction: one pass per partition, no shuffle; the
    * image decode runs executor-side on the raw payload bytes.
    * `ImageIO.setUseCache(false)` keeps the decode purely in-memory — the
    * default disk-backed cache would add a temp-file write per image, which
    * at 10⁹ images is an I/O storm for zero benefit on small payloads. */
  def extractImageFeatures(blobs: DataFrame, framesPerBlob: Int = 4): Dataset[ImageFeatures] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("id"), col("payload"), col("n_bytes")).as[(Long, Array[Byte], Long)]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.map { case (id, payload, nBytes) =>
          val (w, h, luma) = decodeImage(payload)
          val frames = sampleOffsets(payload.length, framesPerBlob).size
          ImageFeatures(id, nBytes, w, h, luma, frames)
        }
      }
  }

  /** End-to-end pipeline over the documents table: plant PNG payloads, then
    * decode them back and extract real pixel features. */
  def featureTable(spark: SparkSession, docs: DataFrame): DataFrame =
    extractImageFeatures(toImageTable(docs, "doc_id")).toDF()

  // ---- audio (PCM s16le) --------------------------------------------------

  /** Windowed audio-frame features over decoded samples — all INTEGER
    * (peak, energy as exact sum-of-squares, zero crossings), so the values
    * are engine-portable with no float folding. */
  final case class AudioFrame(doc_id: Long, frame_idx: Long, n_samples: Long,
      peak: Long, sum_sq: Long, zero_crossings: Long)

  /** Planted waveform: sample i of doc d is
    * `((a·i + b) mod 65536) − 32768` with `a = 13 + d mod 7`,
    * `b = (31·d) mod 65536` — a full-swing sawtooth whose slope/phase vary
    * per doc. Pure integer arithmetic, so DuckDB replays it exactly and
    * the whole byte pipeline (encode → parquet binary → decode → window
    * stats) gets a FULL oracle: any endianness/sign/windowing bug in the
    * codec breaks the match. Sample count varies per doc (256..512, a
    * whole number of frames). */
  def plantedSampleCount(id: Long): Int = 256 + (id % 5).toInt * 64

  def plantedSample(id: Long, i: Int): Int = {
    val a = 13 + (id % 7).toInt
    val b = ((id * 31) % 65536).toInt
    ((a * i + b) % 65536) - 32768
  }

  /** The audio codec kernel — 16-bit little-endian PCM, the rawest common
    * interchange form (WAV body, ffmpeg s16le). Like [[encodeImage]], this
    * is the one function a real-codec deployment swaps. */
  def encodePcm16le(samples: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val s = samples(i)
      out(2 * i) = (s & 0xff).toByte
      out(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  def decodePcm16le(payload: Array[Byte]): Array[Int] = {
    require(payload.length % 2 == 0, "odd PCM16 payload length")
    val out = new Array[Int](payload.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((payload(2 * i) & 0xff) | (payload(2 * i + 1) << 8)).toShort.toInt
      i += 1
    }
    out
  }

  /** Synthesize the audio-blob table: one planted PCM clip per doc id,
    * encoded executor-side (same shape as [[toImageTable]]). */
  def toAudioTable(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = plantedSampleCount(id)
          val samples = Array.tabulate(n)(i => plantedSample(id, i))
          val bytes = encodePcm16le(samples)
          BlobRow(id, bytes, "audio/pcm16le", bytes.length.toLong)
        }
      }.toDF()
  }

  /** Distributed windowed feature extraction over the DECODED samples:
    * fixed `frameLen`-sample frames, per-frame peak / exact energy /
    * zero-crossing count. One partition-preserving pass, no shuffle —
    * the audio analog of [[extractImageFeatures]], and the stage a 100 TB
    * speech pipeline runs before VAD/language filters. A real-codec
    * deployment swaps [[decodePcm16le]] for the opus/flac decoder; the
    * plan shape, batching and schema do not change. */
  def audioFrameFeatures(blobs: DataFrame, frameLen: Int = 64): Dataset[AudioFrame] =
    audioFrames(blobs, frameLen) { (id, f, s, start, end) =>
      var peak = 0L
      var sumSq = 0L
      var zc = 0L
      var i = start
      while (i < end) {
        val v = s(i)
        if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
        sumSq += v.toLong * v
        if (i > start && ((v >= 0) != (s(i - 1) >= 0))) zc += 1
        i += 1
      }
      AudioFrame(id, f.toLong, (end - start).toLong, peak, sumSq, zc)
    }

  /** The shared framing of the audio extractors: decode each clip, cut it
    * into `frameLen`-sample frames and map `frame(id, f, samples, start,
    * end)` over them. Frame f covers samples [f·frameLen, min((f+1)·frameLen,
    * n)) — the TRAILING PARTIAL FRAME IS EMITTED, matching the oracle's
    * `i // frameLen` grouping exactly; a clip whose length is not a frame
    * multiple loses no audio. */
  private def audioFrames[T <: Product : scala.reflect.runtime.universe.TypeTag](
      blobs: DataFrame, frameLen: Int)(
      frame: (Long, Int, Array[Int], Int, Int) => T): Dataset[T] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    require(frameLen > 0, "frameLen must be positive")
    blobs.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          val s = decodePcm16le(payload)
          val nFrames = (s.length + frameLen - 1) / frameLen
          (0 until nFrames).iterator.map { f =>
            val start = f * frameLen
            frame(id, f, s, start, math.min(start + frameLen, s.length))
          }
        }
      }
  }

  /** Per-frame SIGNED peak (max sample value, not max |·|) over decoded
    * PCM — the landmark extractor behind the audio-fingerprint entry:
    * constellation-style fingerprints pair successive frame peaks, and the
    * signed max keeps the wraparound geometry of the planted sawtooth
    * visible (an |·| peak would fold the two edges together). Same
    * partition-preserving zero-shuffle codec-kernel shape as
    * [[audioFrameFeatures]]. */
  final case class FramePeak(doc_id: Long, frame_idx: Long, vmax: Long)

  def audioFramePeaks(blobs: DataFrame, frameLen: Int = 64): Dataset[FramePeak] =
    audioFrames(blobs, frameLen) { (id, f, s, start, end) =>
      var vmax = Long.MinValue
      var i = start
      while (i < end) {
        if (s(i).toLong > vmax) vmax = s(i).toLong
        i += 1
      }
      FramePeak(id, f.toLong, vmax)
    }

  // ---- perceptual hashing (image near-dup) ---------------------------------

  final case class ImageHash(id: Long, phash: Long)

  /** 64-bit average-hash of a decoded image: 8×8 block-average luma grid,
    * bit k set iff cell k's mean luma exceeds the image's mean. All-INTEGER
    * arithmetic — 1000×-scaled Rec. 601 luma, cross-multiplied mean
    * comparison (`cell_sum · n_pixels > total_sum · cell_pixels`) — so the
    * hash is bit-exact on every JVM with no float thresholds, and the
    * Hamming-banded join downstream needs no tolerance. */
  def aHash64(img: BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val luma = Array.ofDim[Long](h, w)
    var total = 0L
    var py = 0
    while (py < h) {
      var px = 0
      while (px < w) {
        val rgb = img.getRGB(px, py)
        val l = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
        luma(py)(px) = l
        total += l
        px += 1
      }
      py += 1
    }
    val npix = w.toLong * h
    var bits = 0L
    var i = 0
    while (i < 8) {
      var j = 0
      while (j < 8) {
        val r0 = i * h / 8; val r1 = (i + 1) * h / 8
        val c0 = j * w / 8; val c1 = (j + 1) * w / 8
        val cn = (r1 - r0).toLong * (c1 - c0)
        if (cn > 0) {
          var cs = 0L
          var y = r0
          while (y < r1) {
            var x = c0
            while (x < c1) { cs += luma(y)(x); x += 1 }
            y += 1
          }
          if (cs * npix > total * cn) bits |= 1L << (i * 8 + j)
        }
        j += 1
      }
      i += 1
    }
    bits
  }

  /** Distributed perceptual hashing: decode each payload executor-side and
    * emit its 64-bit average-hash. Partition-preserving, no shuffle. */
  def imageHashes(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.map { case (id, payload) =>
          val img = ImageIO.read(new ByteArrayInputStream(payload))
          require(img != null, "payload is not a decodable image")
          ImageHash(id, aHash64(img))
        }
      }.toDF()
  }

  /** Image near-dup pairs: perceptual hash, then the shared 16-bit-banded
    * Hamming join ([[graft.dedup.Fingerprints.hammingPairs64]]) — the exact
    * shuffle shape of the text SimHash path, so the 100 TB story (id+chunk
    * keys only, hot-bucket skew cap, pigeonhole-exact recall for Hamming
    * ≤ 3) carries over unchanged to images. */
  def imageNearDupPairs(blobs: DataFrame,
      maxHamming: Int = 2, maxBucket: Int = 64): DataFrame =
    graft.dedup.Fingerprints.hammingPairs64(
      imageHashes(blobs), "id", "phash", maxHamming, maxBucket)
}
