package graft.ops

import graft.functions.CrossHash._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling.
  *
  * Media travel as opaque `binary` columns with typed metadata beside
  * them. The Spark-side plumbing — schema, batch iteration, partition
  * sizing — is real; the actual codec calls are STUBBED behind
  * [[MediaDecoder]] with a deterministic fake (the image/audio libraries
  * are not in this container). Swap `StubDecoder` for a JNI/FFI-backed
  * implementation in production; nothing else changes.
  *
  * Decode runs via `mapPartitions` on purpose: codec libraries want
  * per-partition init (expensive context/handles), exactly like a Pandas
  * UDF's per-batch model, and the binary payload never enters codegen'd
  * expressions.
  */
object MultimodalOps {

  /** Typed metadata a decoder extracts from one media blob. */
  final case class MediaMeta(byte_len: Long, format: String, width: Int,
                             height: Int, n_frames: Int)

  trait MediaDecoder extends Serializable {
    /** Called once per partition before decoding (codec init). */
    def open(): Unit = ()
    def decode(bytes: Array[Byte]): MediaMeta
  }

  /** Deterministic fake decoder: "parses" dimensions out of a polynomial
    * hash of the payload. Replace with a real codec (??? markers) to ship.
    *
    * The hash folds UNICODE CODEPOINTS of the UTF-8-decoded payload —
    * exactly [[graft.functions.CrossHash.polyHash]]'s fold — so
    * [[blobMetaSql]] is its bit-identical pure-SQL twin on ANY text, not
    * just ASCII (a byte-level fold diverged on the first multi-byte
    * character: "é" is two UTF-8 bytes but one polyHash step). Non-UTF-8
    * payloads decode with U+FFFD replacement — still deterministic.
    */
  final class StubDecoder extends MediaDecoder {
    override def decode(bytes: Array[Byte]): MediaMeta = {
      // def decodeReal(bytes: Array[Byte]): MediaMeta = ???  // real codec goes here
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      var h = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * 31 + cp) % P
        i += Character.charCount(cp)
      }
      MediaMeta(bytes.length.toLong, "fake/v1",
        (h % 1024).toInt, ((h / 1024) % 1024).toInt, (bytes.length / 256) + 1)
    }
  }

  /** REAL pure-JVM codec for BMP images and RIFF/WAVE audio — an actual
    * header parser (no native deps) proving the [[MediaDecoder]] seam is
    * swappable: the gated `multimodal_meta_codec` query and
    * MultimodalCodecSpec run THIS decoder, not the stub. Field mapping:
    * BMP → width/height from BITMAPINFOHEADER (LE i32 at offsets 18/22),
    * one frame; WAV → `width` carries the sample rate, `height`
    * channels × bits-per-sample, `n_frames` the audio frame count
    * (data bytes / block align) — the natural reading for 1-D media.
    * Unknown magic throws, as a real codec does.
    */
  final class HeaderDecoder extends MediaDecoder {
    private def u16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def i32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def tag(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    override def decode(bytes: Array[Byte]): MediaMeta =
      if (bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M')
        MediaMeta(bytes.length.toLong, "image/bmp",
          i32(bytes, 18), i32(bytes, 22), 1)
      else if (bytes.length >= 44 && tag(bytes, 0) == "RIFF" &&
               tag(bytes, 8) == "WAVE" && tag(bytes, 12) == "fmt " &&
               tag(bytes, 36) == "data") {
        val blockAlign = u16(bytes, 32)
        MediaMeta(bytes.length.toLong, "audio/wav",
          i32(bytes, 24) /* sample rate */,
          u16(bytes, 22) * u16(bytes, 34) /* channels x bits */,
          if (blockAlign == 0) 0 else i32(bytes, 40) / blockAlign)
      } else throw new IllegalArgumentException(
        "HeaderDecoder: unrecognized media magic " +
          bytes.take(4).map(b => f"${b & 0xff}%02x").mkString("[", " ", "]"))
  }

  /** Build one minimal-but-valid BMP (54-byte BITMAPINFOHEADER file +
    * pixel payload) — every length/offset field is filled honestly, so
    * any BMP reader parses it. Exposed for specs. */
  def bmpBytes(width: Int, height: Int, payloadLen: Int): Array[Byte] = {
    val out = new Array[Byte](54 + payloadLen)
    def putI32(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
      out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putI32(2, out.length); putI32(10, 54) // file size, pixel-data offset
    putI32(14, 40)                        // BITMAPINFOHEADER size
    putI32(18, width); putI32(22, height)
    out(26) = 1                           // planes = 1
    out(28) = 24                          // 24 bpp
    putI32(34, payloadLen)                // image size
    out
  }

  /** Build one canonical-layout RIFF/WAVE file (44-byte header + PCM
    * payload of `nFrames` zeroed frames). Exposed for specs. */
  def wavBytes(sampleRate: Int, channels: Int, bitsPerSample: Int,
               nFrames: Int): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val dataLen = blockAlign * nFrames
    val out = new Array[Byte](44 + dataLen)
    def putI32(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
      out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
    }
    def putU16(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
    }
    def putTag(o: Int, s: String): Unit =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        .copyToArray(out, o)
    putTag(0, "RIFF"); putI32(4, 36 + dataLen); putTag(8, "WAVE")
    putTag(12, "fmt "); putI32(16, 16)    // PCM fmt chunk length
    putU16(20, 1)                         // audio format = PCM
    putU16(22, channels); putI32(24, sampleRate)
    putI32(28, sampleRate * blockAlign)   // byte rate
    putU16(32, blockAlign); putU16(34, bitsPerSample)
    putTag(36, "data"); putI32(40, dataLen)
    out
  }

  /** Fixture generator: a deterministic, WELL-FORMED media blob per row —
    * even ids get a BMP, odd ids a 16-bit PCM WAV, with dimensions/rates
    * derived from the id by integer arithmetic an SQL oracle reproduces.
    * In production the binary column arrives from storage; this stands in
    * for it so the real [[HeaderDecoder]] parse path can be oracle-gated:
    * construct-then-parse must round-trip every header field exactly.
    */
  def synthesizeMediaBlobs(df: DataFrame, idCol: String = "doc_id",
                           blobCol: String = "media"): DataFrame = {
    val input = df.select(col(idCol).cast("long"))
    val outSchema = StructType(Seq(
      StructField(idCol, LongType), StructField(blobCol, BinaryType)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    input.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val blob =
          if (id % 2 == 0)
            bmpBytes(width = (id % 800).toInt + 1, height = (id % 600).toInt + 1,
              payloadLen = (id % 64).toInt * 3)
          else
            wavBytes(sampleRate = 8000 + (id % 8).toInt * 1000,
              channels = ((id / 2) % 2).toInt + 1, bitsPerSample = 16,
              nFrames = (id % 50).toInt + 1)
        Row(id, blob)
      }
    }(encoder)
  }

  val metaSchema: StructType = StructType(Seq(
    StructField("byte_len", LongType), StructField("format", StringType),
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  /** Attach a `media` binary column (here synthesized from text — the test
    * fixture has no real blobs) — in production this is the raw column. */
  def withBlob(df: DataFrame, srcCol: String = "text",
               blobCol: String = "media"): DataFrame =
    df.withColumn(blobCol, col(srcCol).cast("binary"))

  /** Decode metadata for every blob with per-partition decoder init.
    * Returns the input columns plus the decoded metadata struct fields.
    */
  def decodeMeta(df: DataFrame, decoder: MediaDecoder,
                 idCol: String = "doc_id", blobCol: String = "media"): DataFrame = {
    val input = df.select(col(idCol).cast("long"), col(blobCol))
    val outSchema = StructType(StructField(idCol, LongType) +: metaSchema.fields)
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    input.mapPartitions { it =>
      decoder.open()
      it.map { r =>
        val m = decoder.decode(r.getAs[Array[Byte]](1))
        Row(r.getLong(0), m.byte_len, m.format, m.width, m.height, m.n_frames)
      }
    }(encoder)
  }

  /** Feature extraction: blob → fixed-dim float vector (the embed step of
    * a multimodal pipeline). Same mapPartitions shape as [[decodeMeta]];
    * the stub derives a deterministic pseudo-embedding from a rolling hash
    * over `dim`-strided byte windows — swap for a real encoder (ONNX/JNI)
    * without touching the plumbing. Output plugs directly into
    * [[SimilarityOps]] (`vec_id`/`embedding` shape).
    */
  def extractFeatures(df: DataFrame, dim: Int = 16,
                      idCol: String = "doc_id", blobCol: String = "media"): DataFrame = {
    val input = df.select(col(idCol).cast("long"), col(blobCol))
    val outSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    input.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        // Long accumulators, not float: the fold stays in [0, 997), so
        // acc*31+byte < 31,162 is exact in both domains and the results
        // are bit-identical — but an integer `%` is ~an order of
        // magnitude cheaper than the float fmod this loop used to pay
        // per byte (the per-byte kernel IS this query's cost at scale:
        // measured 4.6 s -> see SCALE.md round-9 note). The dim cursor
        // is a rolling counter for the same reason (saves an idiv/byte).
        val acc = new Array[Long](dim)
        var i = 0
        var d = 0
        while (i < bytes.length) {
          acc(d) = (acc(d) * 31 + (bytes(i) & 0xff)) % 997
          i += 1
          d += 1
          if (d == dim) d = 0
        }
        val v = new Array[Float](dim)
        d = 0
        while (d < dim) { v(d) = acc(d) / 997f - 0.5f; d += 1 }
        Row(r.getLong(0), v.toSeq)
      }
    }(encoder)
  }

  /** Area-average (box filter) downsample of the blob's byte plane: output
    * sample `j` is the rounded mean of the unsigned bytes in window
    * `[j*factor, min((j+1)*factor, len))` — true resampling, not
    * decimation, in exact integer arithmetic (`(sum + cnt/2) / cnt`), so
    * an SQL oracle reproduces it bit-for-bit. This is the 1-D form of the
    * `INTER_AREA` resize a real image pipeline applies per row/column; a
    * production codec swaps the byte plane for decoded pixel planes and
    * keeps this exact mapPartitions shape (per-partition init point,
    * O(len/factor) output). Output: original and resized blobs + lengths.
    */
  def resizeBlobs(df: DataFrame, factor: Int = 4,
                  idCol: String = "doc_id", blobCol: String = "media"): DataFrame = {
    require(factor > 0, "factor must be positive")
    val input = df.select(col(idCol).cast("long"), col(blobCol))
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("orig_len", LongType),
      StructField("resized", BinaryType),
      StructField("resized_len", LongType)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    input.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val out = new Array[Byte]((bytes.length + factor - 1) / factor)
        var j = 0
        while (j < out.length) {
          val from = j * factor
          val until = math.min(from + factor, bytes.length)
          var sum = 0; var i = from
          while (i < until) { sum += bytes(i) & 0xff; i += 1 }
          val cnt = until - from
          out(j) = ((sum + cnt / 2) / cnt).toByte
          j += 1
        }
        Row(r.getLong(0), bytes.length.toLong, out, out.length.toLong)
      }
    }(encoder)
  }

  /** Frame sampling stub: pick every `stride`-th 256-byte window as a
    * "frame" — the partition/batch shape of real video frame extraction. */
  def sampleFrames(df: DataFrame, stride: Int = 4,
                   idCol: String = "doc_id", blobCol: String = "media"): DataFrame =
    df.select(col(idCol), posexplode(
        org.apache.spark.sql.functions.transform(
          sequence(lit(0), greatest((octet_length(col(blobCol)) / 256 / stride).cast("int") - 1, lit(0))),
          f => col(blobCol).substr(f * lit(256 * stride) + lit(1), lit(256))))
        .as(Seq("frame_idx", "frame_bytes")))

  /** Pure-SQL metadata over the synthesized blobs (oracle-checkable twin
    * of [[decodeMeta]] with the stub decoder). */
  def blobMetaSql(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val h = polyHash(col(textCol))
    docs.select(col(idCol),
      octet_length(col(textCol).cast("binary")).cast("long").as("byte_len"),
      lit("fake/v1").as("format"),
      (h % 1024).cast("int").as("width"),
      (((h - h % 1024) / 1024).cast("long") % 1024).cast("int").as("height"),
      ((octet_length(col(textCol).cast("binary")).cast("long") / 256).cast("int") + 1).as("n_frames"))
  }
}
