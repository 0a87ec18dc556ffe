package graft.ops

import graft.SparkSpec
import graft.functions.{LshBucketExpr, ProjectEmbedExpr}
import org.apache.spark.sql.functions._

/** Mixture resampling, the hashing-trick classifier, and random-projection
  * embedding compression — operator semantics on synthetic fixtures (the
  * oracle gate covers the parquet corpus).
  */
class MixtureClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "web", "some text"), (2L, "web", "more text"), (3L, "web", "yet more"),
    (4L, "books", "a book"), (5L, "code", "fn main")
  ).toDF("doc_id", "source", "text")

  test("mixtureSample: rate 0 drops the stratum, rate 1 keeps it whole") {
    val out = CorpusOps.mixtureSample(docs,
      rates = Map("web" -> 0.0, "books" -> 1.0))
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(!kept.exists(Set(1L, 2L, 3L))) // web all dropped
    assert(kept.contains(4L))             // books kept at rate 1
    assert(kept.contains(5L))             // absent stratum -> defaultRate 1.0
  }

  test("mixtureSample: deterministic and stable under corpus growth") {
    val r = Map("web" -> 0.5)
    val a = CorpusOps.mixtureSample(docs, r).select("doc_id").as[Long].collect().toSet
    val b = CorpusOps.mixtureSample(docs, r).select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // adding rows never flips an existing document's fate
    val grown = docs.union(Seq((99L, "web", "new")).toDF("doc_id", "source", "text"))
    val c = CorpusOps.mixtureSample(grown, r).select("doc_id").as[Long].collect().toSet
    assert((c - 99L) == a)
  }

  test("mixtureSample: approximate rate holds on a larger stratum") {
    val many = (1L to 2000L).map(i => (i, "web", "t")).toDF("doc_id", "source", "text")
    val kept = CorpusOps.mixtureSample(many, Map("web" -> 0.25)).count()
    assert(kept > 2000 * 0.15 && kept < 2000 * 0.35, s"kept=$kept of 2000 at rate 0.25")
  }

  test("classifierScore: empty doc scores exactly the bias; logit bounded by weights") {
    val d = Seq((1L, ""), (2L, "   "), (3L, "alpha beta gamma")).toDF("doc_id", "text")
    val out = TextOps.classifierScore(d, bias = 0.25)
      .as[(Long, Double, Boolean)].collect().sortBy(_._1)
    assert(out(0)._2 == 0.25 && out(1)._2 == 0.25)
    // mean of weights in [-0.5, 0.5) plus bias stays inside (bias-0.5, bias+0.5)
    assert(out(2)._2 > -0.25 && out(2)._2 < 0.75)
    out.foreach { case (_, logit, keep) => assert(keep == (logit > 0)) }
  }

  test("classifierScore: deterministic and case-insensitive") {
    val d1 = Seq((1L, "Alpha BETA")).toDF("doc_id", "text")
    val d2 = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val s1 = TextOps.classifierScore(d1).as[(Long, Double, Boolean)].head()
    val s2 = TextOps.classifierScore(d2).as[(Long, Double, Boolean)].head()
    assert(s1 == s2)
  }

  test("bpePairCandidates counts adjacent pairs; short docs contribute none") {
    val d = Seq(
      (1L, "a b a b c"),   // pairs: (a,b) x2, (b,a), (b,c)
      (2L, "a b"),         // (a,b)
      (3L, "solo"), (4L, "")
    ).toDF("doc_id", "text")
    val out = CorpusOps.bpePairCandidates(d, k = 10)
      .as[(String, String, Long)].collect().toSeq
    assert(out.head == (("a", "b", 3L)))
    assert(out.toSet == Set(("a", "b", 3L), ("b", "a", 1L), ("b", "c", 1L)))
  }

  test("labelCentroids: elementwise means per label over the fixture") {
    val v = Seq(
      (1L, Array(1.0f, 3.0f), 0), (2L, Array(3.0f, 5.0f), 0),
      (3L, Array(10.0f, 20.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.labelCentroids(v)
      .as[(Int, Int, Long, Double)].collect()
      .map { case (l, d, n, c) => (l, d) -> ((n, c)) }.toMap
    assert(out == Map(
      (0, 0) -> ((2L, 2.0)), (0, 1) -> ((2L, 4.0)),
      (1, 0) -> ((1L, 10.0)), (1, 1) -> ((1L, 20.0))))
  }

  test("projectEmbeddings native expr equals the portable HOF formulation") {
    val emb = graft.Tables(spark, sf, "embeddings").limit(200)
    val native = SimilarityOps.projectEmbeddings(emb, k = 8, dims = 64)
    val hof = emb.select(col("vec_id"),
      transform(SimilarityHof.projectHof(col("embedding"), 8, 64),
        x => round(x, 6)).as("hof_r"))
    val both = native.join(hof, "vec_id")
    assert(both.filter(col("proj") =!= col("hof_r")).count() == 0)
    assert(both.count() == 200)
  }

  test("projection sign bits reproduce the LSH bucket") {
    val emb = graft.Tables(spark, sf, "embeddings").limit(100)
    import org.apache.spark.sql.graftshim.ColumnBridge
    val proj = ColumnBridge.column(ProjectEmbedExpr(
      ColumnBridge.expression(col("embedding")), 4, 64))
    val fromProj = aggregate(proj, lit(0L),
      (acc, x) => acc * lit(2L) + when(x >= 0, 1L).otherwise(lit(0L)))
    val bucket = ColumnBridge.column(LshBucketExpr(
      ColumnBridge.expression(col("embedding")), 4, 64))
    val out = emb.select(fromProj.as("a"), bucket.as("b"))
    assert(out.filter(col("a") =!= col("b")).count() == 0)
  }

  test("projection roughly preserves cosine ordering (JL property, loose)") {
    val emb = graft.Tables(spark, sf, "embeddings").limit(60)
    import graft.functions.CrossHash.cosine
    def corrAt(k: Int): Double = {
      val proj = SimilarityOps.projectEmbeddings(emb, k = k, dims = 64)
      emb.select(col("vec_id").as("i"), col("embedding").as("vi"))
        .crossJoin(emb.select(col("vec_id").as("j"), col("embedding").as("vj")))
        .filter(col("i") < col("j"))
        .withColumn("cos_full", cosine(col("vi"), col("vj")))
        .join(proj.select(col("vec_id").as("i"), col("proj").as("pi")), "i")
        .join(proj.select(col("vec_id").as("j"), col("proj").as("pj")), "j")
        .withColumn("cos_proj", cosine(col("pi"), col("pj")))
        .agg(corr(col("cos_full"), col("cos_proj"))).head.getDouble(0)
    }
    // Pearson correlation between full-space and sketch-space cosine:
    // positive at k=8, and a wider sketch preserves strictly more geometry
    val c8 = corrAt(8)
    val c32 = corrAt(32)
    assert(c8 > 0.15, s"k=8 sketch destroyed geometry: corr=$c8")
    assert(c32 > c8, s"JL scaling violated: corr(k=32)=$c32 <= corr(k=8)=$c8")
  }
}
