package graft.queries

import graft.OracleSql
import graft.ops.SimilarityOps
import org.apache.spark.sql.functions._
import Shared.t

/** Embedding utilities: k-NN label propagation, per-label centroids,
  * random projection and int8 quantization. */
object Embed {

  val specs: Seq[QuerySpec] = Seq(
    // random-projection embedding compression (JL sketch, 64 -> 8 dims);
    // exploded to rows for the oracle hash gate (array cells don't hash)
    QuerySpec("embed_project", (s, dir) =>
      SimilarityOps.projectEmbeddings(t(s, dir, "embeddings"), k = 8, dims = 64)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("plane", "pv"))), {
      val w = OracleSql.lcgUnit("pl*64+d")
      s"""WITH p AS (SELECT vec_id,
         |  list_transform(range(0, 8), pl ->
         |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(0, 64), d ->
         |        CAST(embedding[CAST(d AS INT)+1] AS DOUBLE) * $w)),
         |      (s, v) -> s + v), 6)) AS proj
         |FROM embeddings)
         |SELECT vec_id, CAST(i AS INT) AS plane, proj[CAST(i AS INT)+1] AS pv
         |FROM p, range(0, 8) t(i)""".stripMargin
    }),

    // per-label embedding centroids (nearest-centroid / drift monitoring)
    QuerySpec("embed_centroids", (s, dir) =>
      SimilarityOps.labelCentroids(t(s, dir, "embeddings")), {
      s"""WITH e AS (SELECT label, vec_id, CAST(d AS INT) AS dim,
         |      CAST(embedding[CAST(d AS INT)+1] AS DOUBLE) AS x
         |      FROM embeddings, range(0, 64) t(d))
         |SELECT label, dim, COUNT(*) AS n_vecs,
         |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(x ORDER BY vec_id)), (a, v) -> a + v) / COUNT(*), 6) AS centroid
         |FROM e GROUP BY label, dim""".stripMargin
    }),

    // scalar int8 quantization (per-vector min/max codes — the 4x storage
    // compression step before IVF/PQ; exact floor semantics cross-engine)
    QuerySpec("embed_quantize", (s, dir) =>
      SimilarityOps.quantizeEmbeddings(t(s, dir, "embeddings")), {
      """SELECT vec_id, CAST(d AS INT) AS dim,
        |  CAST(CASE WHEN vmax > vmin
        |    THEN least(floor((x - vmin) * 255 / (vmax - vmin)), 255)
        |    ELSE 0 END AS INT) AS q,
        |  vmin, vmax
        |FROM (SELECT vec_id,
        |        CAST(list_min(embedding) AS DOUBLE) AS vmin,
        |        CAST(list_max(embedding) AS DOUBLE) AS vmax,
        |        CAST(embedding[CAST(d AS INT)+1] AS DOUBLE) AS x, d
        |      FROM embeddings, range(0, 64) t(d))""".stripMargin
    }),

    // k-NN label propagation: majority label of the 10 nearest neighbors
    QuerySpec("embed_knn_classify", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.knnClassify(emb.filter(col("vec_id") < 8), emb, k = 10)
        // the op keeps the label's source type; the oracle pins INT here
        .withColumn("pred_label", col("pred_label").cast("int"))
    }, {
      val cos = OracleSql.cosine("q.embedding", "c.embedding")
      s"""WITH j AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS nid, c.label AS lbl, $cos AS cos
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 8) q, embeddings c
         |  WHERE q.vec_id <> c.vec_id),
         |r AS (SELECT query_id, nid, lbl,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nid ASC) AS rank
         |      FROM j),
         |v AS (SELECT query_id, lbl, count(*) AS votes
         |      FROM r WHERE rank <= 10 GROUP BY 1, 2),
         |p AS (SELECT query_id, lbl, votes,
         |      row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, lbl ASC) AS rn
         |      FROM v)
         |SELECT query_id, CAST(lbl AS INT) AS pred_label, votes
         |FROM p WHERE rn = 1""".stripMargin
    })
  )
}
