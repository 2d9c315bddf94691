package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §7.2.5): media as opaque `binary`
  * columns with typed metadata, decoded/feature-extracted per partition.
  *
  * The decode is REAL: payloads are genuine BMP images / concatenated
  * binary PPM frames (synthesized deterministically from doc_id, since
  * the corpus ships no media), and [[BmpCodec]]/[[PpmCodec]] parse the
  * actual bytes — little-endian headers, bottom-up padded BMP rows, ASCII
  * PPM dimensions. That makes the decode oracle-checkable end to end: the
  * DuckDB oracle predicts width/height/pixel statistics from the same
  * closed-form pixel function, so a header-offset, row-padding or
  * orientation bug in either codec breaks the hash compare.
  *
  * Spark-side shape (the part that carries to 100 TB): binary column +
  * pruning-friendly metadata struct, repartition by id to spread decode
  * cost regardless of upstream layout, and mapPartitions so a real codec
  * binding initializes once per partition, not per row. All emitted
  * statistics are exact integer micro-units (the repo's rational-score
  * contract) — nothing for a hash to wobble on.
  */
object Multimodal {

  /** Partitions the decode stages spread media rows over. */
  private val DecodePartitions = 32

  /** [[frameFeatures]] keeps every 2nd frame; its DuckDB oracle
    * (q_multimodal_frames) reads the same value. */
  private[llm] val FrameStride = 2

  /** 24-bit BMP encoder/decoder (BITMAPFILEHEADER + BITMAPINFOHEADER,
    * uncompressed, bottom-up rows padded to 4 bytes). `pixel(i)` is the
    * raster-order byte stream (3 bytes per pixel); decode reconstructs
    * it, so the pair round-trips bit-for-bit.
    */
  object BmpCodec {
    private val HeaderBytes = 54

    private def putIntLE(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte
      b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte
      b(off + 3) = ((v >> 24) & 0xFF).toByte
    }

    private def getIntLE(b: Array[Byte], off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
        ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

    private def getShortLE(b: Array[Byte], off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

    def rowStride(width: Int): Int = ((width * 3) + 3) / 4 * 4

    def encode(width: Int, height: Int, pixel: Int => Int): Array[Byte] = {
      val stride = rowStride(width)
      val out = new Array[Byte](HeaderBytes + stride * height)
      out(0) = 'B'; out(1) = 'M'
      putIntLE(out, 2, out.length)
      putIntLE(out, 10, HeaderBytes)
      putIntLE(out, 14, 40)             // BITMAPINFOHEADER size
      putIntLE(out, 18, width)
      putIntLE(out, 22, height)         // positive height = bottom-up
      out(26) = 1                       // planes
      out(28) = 24                      // bpp
      putIntLE(out, 34, stride * height)
      var y = 0
      while (y < height) {
        // file row r holds image row height-1-r (bottom-up)
        val fileRowOff = HeaderBytes + (height - 1 - y) * stride
        var x = 0
        while (x < width * 3) {
          out(fileRowOff + x) = (pixel(y * width * 3 + x) & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      out
    }

    /** Parse the headers and un-pad the bottom-up rows back into
      * raster-order bytes. Returns null on anything that is not an
      * uncompressed bottom-up 24-bit BMP (decode stays total — one
      * malformed blob in 100 TB must not kill the job).
      */
    def decode(b: Array[Byte]): (Int, Int, Array[Byte]) = {
      if (b == null || b.length < HeaderBytes || b(0) != 'B' || b(1) != 'M')
        return null
      val dataOffset = getIntLE(b, 10)
      val width = getIntLE(b, 18)
      val height = getIntLE(b, 22)
      val bpp = getShortLE(b, 28)
      val compression = getIntLE(b, 30)
      if (bpp != 24 || compression != 0 || width <= 0 || height <= 0)
        return null
      // header fields are attacker-controlled bytes: a negative dataOffset
      // or a width whose *3 overflows Int would pass a naive bound check
      // and crash arraycopy/allocation — all sizing math stays in Long and
      // anything out of range is malformed, i.e. null
      if (dataOffset < 0) return null
      val rasterLen = width.toLong * height.toLong * 3L
      if (rasterLen > Int.MaxValue) return null
      // stride must also be computed in Long: width*3 can reach Int.MaxValue-1
      // (rasterLen check alone permits height=1), and the +3 would wrap an Int
      val strideL = (width.toLong * 3L + 3L) / 4L * 4L
      if (strideL > Int.MaxValue) return null
      val stride = strideL.toInt
      if (dataOffset.toLong + strideL * height > b.length) return null
      val raster = new Array[Byte](rasterLen.toInt)
      var y = 0
      while (y < height) {
        System.arraycopy(b, dataOffset + (height - 1 - y) * stride,
          raster, y * width * 3, width * 3)
        y += 1
      }
      (width, height, raster)
    }
  }

  /** Binary PPM (P6) encoder/decoder. Frames concatenate into one "video"
    * payload; decode walks the buffer parsing each ASCII header
    * ("P6\n<w> <h>\n255\n") and slicing its pixel block.
    */
  object PpmCodec {
    def encode(width: Int, height: Int, pixel: Int => Int): Array[Byte] = {
      val header = s"P6\n$width $height\n255\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val out = new Array[Byte](header.length + width * height * 3)
      System.arraycopy(header, 0, out, 0, header.length)
      var i = 0
      while (i < width * height * 3) {
        out(header.length + i) = (pixel(i) & 0xFF).toByte
        i += 1
      }
      out
    }

    /** Parse every concatenated P6 frame: (width, height, pixels) per
      * frame in order. Returns frames parsed so far when the buffer ends
      * mid-frame (total on truncated input).
      */
    def decodeAll(b: Array[Byte]): Seq[(Int, Int, Array[Byte])] = {
      val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Byte])]
      var i = 0
      def skipWs(): Unit = {
        while (i < b.length && (b(i) == ' ' || b(i) == '\n' ||
          b(i) == '\r' || b(i) == '\t')) i += 1
      }
      def parseInt(): Int = {
        var v = -1
        while (i < b.length && b(i) >= '0' && b(i) <= '9') {
          v = (if (v < 0) 0 else v) * 10 + (b(i) - '0')
          i += 1
        }
        v
      }
      while (i + 2 <= b.length && b(i) == 'P' && b(i + 1) == '6') {
        i += 2
        skipWs(); val w = parseInt()
        skipWs(); val h = parseInt()
        skipWs(); val maxVal = parseInt()
        if (w <= 0 || h <= 0 || maxVal != 255 || i >= b.length) return frames.toSeq
        i += 1 // the single whitespace after maxval
        // Long math: parsed w*h*3 can overflow Int (a "P6\n50000 50000..."
        // header on a short buffer would wrap negative, pass the bound
        // check, and crash copyOfRange) — oversized frames are truncated
        // input, i.e. stop and return what parsed so far
        val frameLen = w.toLong * h.toLong * 3L
        if (frameLen > Int.MaxValue || i + frameLen > b.length)
          return frames.toSeq
        frames += ((w, h,
          java.util.Arrays.copyOfRange(b, i, i + frameLen.toInt)))
        i += frameLen.toInt
      }
      frames.toSeq
    }
  }

  // ---------------------------------------------------------------------
  // Deterministic media fixture: the corpus ships no binary media, so the
  // payloads are synthesized from doc_id by closed-form pixel functions —
  // which is exactly what lets DuckDB predict the DECODED statistics
  // without parsing binary: any codec bug surfaces as a hash mismatch.
  // ---------------------------------------------------------------------

  def imageDims(docId: Long): (Int, Int) =
    ((8 + docId % 24).toInt, (8 + (3 * docId) % 24).toInt)

  def imagePixel(docId: Long, i: Int): Int =
    ((docId * 31 + i.toLong * 7) % 256).toInt

  def frameCount(docId: Long): Int = (1 + docId % 4).toInt

  def frameDims(docId: Long, f: Int): (Int, Int) =
    ((4 + (docId + f) % 5).toInt, (3 + (2 * docId + f) % 4).toInt)

  def framePixel(docId: Long, f: Int, i: Int): Int =
    ((docId + 13L * f + 7L * i) % 256).toInt

  /** Canonical 44-byte PCM WAV encoder/decoder (RIFF → fmt(16, PCM) →
    * data; little-endian int16 samples, interleaved by channel). The
    * decoder validates every tag and reads the field bytes, so a
    * header-offset or endianness bug breaks the oracle hash exactly like
    * the BMP codec's.
    */
  object WavCodec {
    private val HeaderBytes = 44

    private def putIntLE(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte
      b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte
      b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    private def putShortLE(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte
      b(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    private def getIntLE(b: Array[Byte], off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
        ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
    private def getShortLE(b: Array[Byte], off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
    private def tag(b: Array[Byte], off: Int, s: String): Boolean =
      s.indices.forall(i => b(off + i) == s.charAt(i).toByte)

    def encode(sampleRate: Int, channels: Int,
               samples: Array[Short]): Array[Byte] = {
      val dataBytes = samples.length * 2
      val out = new Array[Byte](HeaderBytes + dataBytes)
      out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
      putIntLE(out, 4, 36 + dataBytes)
      out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
      out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
      putIntLE(out, 16, 16)                       // fmt chunk size
      putShortLE(out, 20, 1)                      // PCM
      putShortLE(out, 22, channels)
      putIntLE(out, 24, sampleRate)
      putIntLE(out, 28, sampleRate * channels * 2) // byte rate
      putShortLE(out, 32, channels * 2)            // block align
      putShortLE(out, 34, 16)                      // bits per sample
      out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
      putIntLE(out, 40, dataBytes)
      var j = 0
      while (j < samples.length) {
        putShortLE(out, HeaderBytes + 2 * j, samples(j) & 0xFFFF)
        j += 1
      }
      out
    }

    /** (sampleRate, channels, samples) or null on a malformed payload. */
    def decode(b: Array[Byte]): (Int, Int, Array[Short]) = {
      if (b == null || b.length < HeaderBytes || !tag(b, 0, "RIFF") ||
          !tag(b, 8, "WAVE") || !tag(b, 12, "fmt ") ||
          getIntLE(b, 16) != 16 || getShortLE(b, 20) != 1 ||
          getShortLE(b, 34) != 16 || !tag(b, 36, "data")) return null
      val channels = getShortLE(b, 22)
      val sampleRate = getIntLE(b, 24)
      val dataBytes = getIntLE(b, 40)
      // Long bound check: a near-Int.MaxValue dataBytes would wrap the
      // Int sum negative, pass, and then OOM or crash the sample loop
      if (channels < 1 || sampleRate <= 0 || dataBytes < 0 ||
          HeaderBytes.toLong + dataBytes.toLong > b.length) return null
      val samples = new Array[Short](dataBytes / 2)
      var j = 0
      while (j < samples.length) {
        samples(j) = getShortLE(b, HeaderBytes + 2 * j).toShort
        j += 1
      }
      (sampleRate, channels, samples)
    }
  }

  def audioRate(docId: Long): Int = 8000 + (docId % 3).toInt * 4000
  def audioChannels(docId: Long): Int = 1 + (docId % 2).toInt
  def audioFrames(docId: Long): Int = (64 + docId % 128).toInt
  def audioSample(docId: Long, j: Int): Short =
    (((docId * 17 + j.toLong * 11) % 4096) - 2048).toShort

  /** Synthesize the BMP image payload column (with real media this is the
    * parquet binary column as-read; the metadata struct mirrors
    * [[withBinaryPayload]]'s pruning-friendly shape).
    */
  def withImagePayload(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h) = imageDims(id)
          (id, BmpCodec.encode(w, h, imagePixel(id, _)))
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Synthesize the concatenated-PPM "video" payload column. */
  def withVideoPayload(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val parts = (0 until frameCount(id)).map { f =>
            val (w, h) = frameDims(id, f)
            PpmCodec.encode(w, h, framePixel(id, f, _))
          }
          val out = new Array[Byte](parts.map(_.length).sum)
          var off = 0
          parts.foreach { p =>
            System.arraycopy(p, 0, out, off, p.length); off += p.length
          }
          (id, out)
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Synthesize the PCM WAV audio payload column. */
  def withAudioPayload(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = audioFrames(id) * audioChannels(id)
          val samples = Array.tabulate(n)(j => audioSample(id, j))
          (id, WavCodec.encode(audioRate(id), audioChannels(id), samples))
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Decoded-audio feature row: header fields plus exact integer
    * micro-unit signal statistics (floor divisions — nothing for a hash
    * to wobble on).
    */
  case class AudioFeatures(doc_id: Long, sample_rate: Long, channels: Long,
                           n_frames: Long, duration_micro: Long,
                           mean_abs_micro: Long)

  /** floor(1e6·sum/n) without the 1e6·sum product: sum ≤ 32768·n
    * (abs(Short.MinValue) = 32768) can reach ~3.3e13 at the 2 GB payload
    * cap, so the direct product wraps Long (silently — JVM
    * two's-complement, not an ANSI error). The split identity
    * 1e6·(s div n) + (1e6·(s mod n)) div n keeps every intermediate
    * ≤ ~1e15 for amplitude-scale means and is exact for non-negative
    * operands (s = n·(s div n) + s mod n, and the first term's scaled
    * quotient is an integer). Both terms are overflow-guarded, not
    * assumed: the sum 1e6·(s div n) + lo must be representable — the
    * require rejects exactly the inputs whose RESULT wraps, nothing
    * narrower (loud failure beats silent wrap — no in-range caller
    * trips it) — and the remainder term falls back to BigInt off the
    * hot path in the astronomically-large-n case where 1e6·(s mod n)
    * itself could wrap. n = 0 degrades to 0, the microRatio convention.
    */
  private[graft] def microMean(sum: Long, n: Long): Long = {
    require(sum >= 0L && n >= 0L, s"microMean needs non-negatives: $sum, $n")
    if (n == 0L) 0L
    else {
      val q = sum / n
      val r = sum % n
      val lo =
        if (r <= Long.MaxValue / 1000000L) 1000000L * r / n
        else (BigInt(r) * 1000000L / BigInt(n)).toLong // r < n, so lo < 1e6
      // exact representability bound (not a conservative one): the
      // result is 1e6·q + lo, so reject precisely when THAT wraps
      require(q <= (Long.MaxValue - lo) / 1000000L,
        s"microMean: mean $q too large to micro-scale without overflow ($sum / $n)")
      1000000L * q + lo
    }
  }

  /** Partition-parallel WAV decode: header fields (sample rate, channels,
    * frame count), duration, and mean absolute amplitude — the
    * feature-extract stage of an audio pipeline, same repartition +
    * mapPartitions batch shape as [[decodeFeatures]].
    */
  def audioFeatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    withAudioPayload(spark, docs)
      .repartition(DecodePartitions, col("doc_id"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // real codec init would happen here, once per partition
        rows.flatMap { case (id, payload) =>
          Option(WavCodec.decode(payload)).map { case (rate, ch, samples) =>
            var sabs = 0L
            var j = 0
            while (j < samples.length) { sabs += math.abs(samples(j).toLong); j += 1 }
            val nFrames = samples.length / ch
            AudioFeatures(id, rate.toLong, ch.toLong, nFrames.toLong,
              1000000L * nFrames / rate,
              microMean(sabs, samples.length.toLong))
          }
        }
      }
      .toDF()
  }

  /** Decoded-image feature row. All statistics are exact integers:
    * micro-unit means (floor), the raster top-left byte (catches
    * orientation bugs — bottom-up storage must un-flip), and the
    * nearest-neighbor 8×8 resize mean (the real resize stage).
    */
  case class MediaFeatures(doc_id: Long, width: Long, height: Long,
                           channels: Long, n_px: Long, mean_px_micro: Long,
                           top_left: Long, resized_mean_micro: Long)

  /** Decoded frame-sample row (every [[FrameStride]]-th frame of the video). */
  case class FrameFeatures(doc_id: Long, frame_idx: Long, width: Long,
                           height: Long, mean_px_micro: Long)

  /** Attach an opaque binary payload + typed metadata to each document.
    * (Utf-8 bytes of the text stand in; with real data this is the
    * parquet binary column as-read.) Kept for the metadata-only query:
    * scans that need byte_len/sha never touch pixel bytes.
    */
  def withBinaryPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        octet_length(encode(col("text"), "UTF-8")).cast("bigint").as("byte_len"),
        sha2(encode(col("text"), "UTF-8"), 256).as("sha")).as("meta"))

  /** Partition-parallel BMP decode + resize: repartition by id (spreads
    * decode cost evenly regardless of upstream layout — media rows are
    * often clustered by source), then mapPartitions so a real codec
    * binding would be constructed once per partition, not per row.
    */
  def decodeFeatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    withImagePayload(spark, docs)
      .repartition(DecodePartitions, col("doc_id"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // real codec init would happen here, once per partition
        rows.flatMap { case (id, payload) =>
          Option(BmpCodec.decode(payload)).map { case (w, h, raster) =>
            var sum = 0L
            var i = 0
            while (i < raster.length) { sum += raster(i) & 0xFF; i += 1 }
            // nearest-neighbor 8×8 downsample over the decoded raster
            var rsum = 0L
            var ry = 0
            while (ry < 8) {
              val sy = ry * h / 8
              var rx = 0
              while (rx < 8) {
                val sx = rx * w / 8
                var c = 0
                while (c < 3) {
                  rsum += raster((sy * w + sx) * 3 + c) & 0xFF
                  c += 1
                }
                rx += 1
              }
              ry += 1
            }
            MediaFeatures(id, w, h, 3L, w.toLong * h,
              1000000L * sum / (w.toLong * h * 3),
              raster(0) & 0xFF,
              1000000L * rsum / 192L)
          }
        }
      }
      .toDF()
  }

  /** Partition-parallel PPM frame sampling: parse every frame header,
    * keep every [[FrameStride]]-th frame, emit its decoded statistics — the
    * frame-level feature-extract stage of a video pipeline, same
    * mapPartitions batch shape as [[decodeFeatures]].
    */
  def frameFeatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    withVideoPayload(spark, docs)
      .repartition(DecodePartitions, col("doc_id"))
      .as[(Long, Array[Byte])]
      // mapPartitions, not per-row flatMap: the documented batch shape —
      // a real codec binding initializes once per partition here, which
      // is the whole point of the preceding repartition
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          PpmCodec.decodeAll(payload).zipWithIndex
            .collect { case ((w, h, px), f) if f % FrameStride == 0 =>
              var sum = 0L
              var i = 0
              while (i < px.length) { sum += px(i) & 0xFF; i += 1 }
              FrameFeatures(id, f.toLong, w.toLong, h.toLong,
                1000000L * sum / (w.toLong * h * 3))
            }
        }
      }
      .toDF()
  }
}
