package graft.queries

import graft.OracleSql
import graft.ops.MultimodalOps
import org.apache.spark.sql.functions._
import Shared.t

/** Multimodal blob plumbing over synthesized per-document blobs: metadata
  * decode (stub and real header codec), frame sampling, resize and
  * feature extraction. */
object Multimodal {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("multimodal_meta", (s, dir) =>
      // the real mapPartitions decode path (per-partition codec init);
      // blobMetaSql is its pure-SQL twin (parity-tested in ExtOpsSpec)
      MultimodalOps.decodeMeta(
        MultimodalOps.withBlob(t(s, dir, "documents")),
        new MultimodalOps.StubDecoder), {
      val h = OracleSql.ph("text")
      s"""SELECT doc_id,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         |  'fake/v1' AS format,
         |  CAST($h % 1024 AS INT) AS width,
         |  CAST(($h // 1024) % 1024 AS INT) AS height,
         |  CAST(octet_length(encode(text)) // 256 + 1 AS INT) AS n_frames
         |FROM documents""".stripMargin
    }),

    // frame sampling: every 256-byte window as a "frame" (video-frame
    // extraction plumbing); bytes projected to string for the hash gate
    // (fixture text is ASCII, so byte and char windows coincide)
    QuerySpec("multimodal_frames", (s, dir) =>
      MultimodalOps.sampleFrames(
        MultimodalOps.withBlob(t(s, dir, "documents")), stride = 1)
        .select(col("doc_id"), col("frame_idx"),
          col("frame_bytes").cast("string").as("frame_text")),
      """SELECT d.doc_id, CAST(f.i AS INT) AS frame_idx,
        |       substring(d.text, CAST(f.i * 256 + 1 AS INT), 256) AS frame_text
        |FROM documents d,
        |     LATERAL unnest(range(0, greatest(octet_length(encode(d.text)) // 256, 1))) AS f(i)""".stripMargin),

    // feature extraction (the embed step): real mapPartitions plumbing
    // with the deterministic stub encoder; exploded for the hash gate.
    // Accumulators stay integer-valued (< 2^24) so the float fold is
    // exact; only the final normalize rounds, identically on both sides
    QuerySpec("multimodal_features", (s, dir) =>
      MultimodalOps.extractFeatures(
        MultimodalOps.withBlob(t(s, dir, "documents")), dim = 16)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "fv")))
        .select(col("vec_id"), col("dim").cast("int").as("dim"),
          col("fv").cast("double").as("fv")), {
      // strided byte fold per dim: (a*31 + byte) % 997 over positions
      // i ≡ d (mod 16), then v/997 - 0.5 rounded through REAL exactly as
      // the stub encoder's float arithmetic (ASCII fixture: char = byte)
      val fold =
        """list_reduce(list_prepend(CAST(0 AS BIGINT),
          |  list_transform(
          |    list_filter(range(0, octet_length(encode(text))), i -> i % 16 = t.d),
          |    i -> CAST(ascii(substr(text, CAST(i AS INT) + 1, 1)) AS BIGINT))),
          |  (a, c) -> (a * 31 + c) % 997)""".stripMargin
      s"""SELECT doc_id AS vec_id, CAST(t.d AS INT) AS dim,
         |  CAST(CAST($fold AS REAL) / CAST(997 AS REAL)
         |       - CAST(0.5 AS REAL) AS DOUBLE) AS fv
         |FROM documents, range(0, 16) t(d)""".stripMargin
    }),

    // resize/decimation plumbing: every 4th byte survives (ASCII fixture
    // -> byte picks equal char picks, so the oracle mirrors on substr)
    QuerySpec("multimodal_resize", (s, dir) =>
      MultimodalOps.resizeBlobs(
        MultimodalOps.withBlob(t(s, dir, "documents")), factor = 4)
        .select(col("doc_id"), col("orig_len"),
          col("resized").cast("string").as("resized_text"),
          col("resized_len")),
      // area-average twin: rounded integer mean of each 4-byte window's
      // ASCII codes (fixture text is pure ASCII: byte == codepoint)
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS orig_len,
        |  array_to_string(list_transform(
        |    range(0, (octet_length(encode(text)) + 3) // 4),
        |    j -> chr(CAST((list_sum(list_transform(
        |           range(CAST(j * 4 AS INT),
        |                 CAST(least(j * 4 + 4, octet_length(encode(text))) AS INT)),
        |           i -> ascii(substr(text, i + 1, 1))))
        |           + (least(j * 4 + 4, octet_length(encode(text))) - j * 4) // 2)
        |          // (least(j * 4 + 4, octet_length(encode(text))) - j * 4) AS INT))),
        |    '') AS resized_text,
        |  CAST((octet_length(encode(text)) + 3) // 4 AS BIGINT) AS resized_len
        |FROM documents""".stripMargin),

    // the SAME decode path with a REAL pure-JVM codec: well-formed
    // BMP/WAV files are synthesized per doc, HeaderDecoder parses their
    // headers back, and the oracle recomputes every field from the id —
    // construct→parse must round-trip exactly (the codec-seam proof)
    QuerySpec("multimodal_meta_codec", (s, dir) =>
      MultimodalOps.decodeMeta(
        MultimodalOps.synthesizeMediaBlobs(t(s, dir, "documents")),
        new MultimodalOps.HeaderDecoder),
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 54 + (doc_id % 64) * 3
        |       ELSE 44 + (((doc_id // 2) % 2) + 1) * 2 * ((doc_id % 50) + 1)
        |       END AS BIGINT) AS byte_len,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS format,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 800 + 1
        |       ELSE 8000 + (doc_id % 8) * 1000 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 600 + 1
        |       ELSE (((doc_id // 2) % 2) + 1) * 16 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE doc_id % 50 + 1 END AS INT) AS n_frames
        |FROM documents""".stripMargin)
  )
}
