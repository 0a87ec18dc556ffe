package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.graftshim.FunctionRegistration

class SqlFunctionsSpec extends SparkSpec {

  test("native expressions are callable from SQL after registration") {
    FunctionRegistration.register(spark)
    // 'the' → ((0*31+116)*31+104)*31+101 = 114801 (hand-checked)
    assert(spark.sql("SELECT graft_polyhash('the')").collect().head.getLong(0) == 114801L)
    val grams = spark.sql("SELECT graft_word_grams('a b c d', 3)")
      .collect().head.getSeq[String](0)
    assert(grams == Seq("a b c", "b c d"))
    val cos = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .collect().head.getDouble(0)
    assert(cos == 1.0)
  }

  test("native lsh bucket equals the portable HOF formulation") {
    import org.apache.spark.sql.functions._
    import graft.ops.{SimilarityHof, SimilarityOps}
    val emb = graft.Tables(spark, sf, "embeddings").limit(200)
    val both = emb.select(
      SimilarityOps.lshBucket(col("embedding"), 4, 64).as("native"),
      SimilarityHof.lshBucketHof(col("embedding"), 4, 64).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() == 200)
  }

  test("native lang scores equal the per-language HOF filter counts") {
    import org.apache.spark.sql.functions._
    import graft.functions.LangScoresExpr.stopwords
    val docs = graft.Tables(spark, sf, "documents").limit(200)
    val toks = graft.functions.CrossHash.tokens(lower(col("text")))
    val withBoth = docs.select(
      graft.ops.TextOps.langScores(toks).as("sc"),
      array(stopwords.map { case (_, words) =>
        size(filter(toks, t => t.isin(words.map(lit): _*)))
      }: _*).as("hof"))
    assert(withBoth.filter(col("sc") =!= col("hof")).count() == 0)
  }

  test("cosine and lsh bucket follow HOF null/length semantics") {
    FunctionRegistration.register(spark)
    // null element or length mismatch → NULL, like fold(zip_with(...))
    assert(spark.sql(
      "SELECT graft_cosine(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D))")
      .collect().head.isNullAt(0))
    assert(spark.sql(
      "SELECT graft_cosine(array(1.0D), array(1.0D, 2.0D))")
      .collect().head.isNullAt(0))
    // lsh bucket of a wrong-length vector: every plane's dot is null → 0
    assert(spark.sql("SELECT graft_lsh_bucket(array(1.0D, 2.0D), 4, 64)")
      .collect().head.getLong(0) == 0L)
  }

  test("native simhash and minhash equal the portable HOF formulations") {
    import org.apache.spark.sql.functions._
    import graft.functions.CrossHash.{A, B, P, POW2, polyHash, tokens, wordGrams}
    val docs = graft.Tables(spark, sf, "documents").limit(200)
    // HOF twins spelled exactly as the oracle mirrors them
    def simHashHof(toks: org.apache.spark.sql.Column) = {
      val hashes = transform(array_distinct(toks), t => polyHash(t))
      aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, b) => {
        val p = element_at(lit(POW2), b.cast("int") + lit(1))
        val votes = aggregate(hashes, lit(0L),
          (v, h) => v + when(h % (p * lit(2L)) >= p, 1L).otherwise(lit(-1L)))
        acc + when(votes > 0, p).otherwise(lit(0L))
      })
    }
    def minHashHof(arr: org.apache.spark.sql.Column, k: Int) =
      transform(sequence(lit(0), lit(k - 1)), j =>
        array_min(transform(arr, s =>
          (polyHash(s) * element_at(lit(A.toArray), j + 1) +
            element_at(lit(B.toArray), j + 1)) % lit(P))))
    val both = docs.select(
      CrossHash.simHash(tokens(col("text"))).as("sim_native"),
      simHashHof(tokens(col("text"))).as("sim_hof"),
      CrossHash.minHash(wordGrams(col("text"), 3), 8).as("min_native"),
      minHashHof(wordGrams(col("text"), 3), 8).as("min_hof"))
    assert(both.filter(col("sim_native") =!= col("sim_hof")).count() == 0)
    assert(both.filter(col("min_native") =!= col("min_hof")).count() == 0)
    assert(both.count() == 200)
    // SQL registration + duplicate-dedup semantics + empty-array sentinel
    FunctionRegistration.register(spark)
    val dup = spark.sql(
      "SELECT graft_simhash(array('a','a','b')), graft_simhash(array('a','b'))")
      .collect().head
    assert(dup.getLong(0) == dup.getLong(1), "duplicates must not re-vote")
    val empty = spark.sql("SELECT graft_minhash(array(), 4)")
      .collect().head.getSeq[Long](0)
    assert(empty == Seq.fill(4)(Long.MaxValue))
    // the fused band form is SQL-visible too, null on empty input
    val bandRow = spark.sql(
      "SELECT graft_minhash_bands(array('a b c'), 8, 4), graft_minhash_bands(array(), 8, 4)")
      .collect().head
    assert(bandRow.getSeq[Long](0).length == 4 && bandRow.isNullAt(1))
    val ent = spark.sql("SELECT graft_char_entropy('aabb'), graft_char_entropy('')")
      .collect().head
    assert(math.abs(ent.getDouble(0) - math.log(2)) < 1e-12 && ent.getDouble(1) == 0.0)
  }

  test("fused minhash bands equal the signature+fold composition; null drops rows") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables(spark, sf, "documents").limit(200)
    val composed = graft.ops.DedupOps
      .minhashSignatures(docs, n = 3, k = 8, bands = 4)
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "bucket")))
    val fused = graft.ops.DedupOps.minhashBandRows(docs, n = 3, k = 8, bands = 4)
    assert(fused.count() == composed.count())
    assert(fused.except(composed).count() == 0 && composed.except(fused).count() == 0)
    // shingle-less docs vanish via nullability, not a separate filter
    import spark.implicits._
    val tiny = Seq((1L, "a b c"), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val ids = graft.ops.DedupOps.minhashBandRows(tiny)
      .select("doc_id").distinct().as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L))
  }

  test("signature expressions skip null elements instead of NPEing") {
    FunctionRegistration.register(spark)
    // regression: getUTF8String(i).toString NPE'd the whole task on a
    // null element; the HOF twins map nulls to null hashes that min/vote
    // aggregation ignores — so a null element must act like it's absent
    val withNull = spark.sql(
      "SELECT graft_simhash(array('a', CAST(NULL AS STRING), 'b')) AS sh, " +
        "graft_minhash(array('a', CAST(NULL AS STRING), 'b'), 4) AS mh, " +
        "graft_minhash_bands(array('a', CAST(NULL AS STRING), 'b'), 4, 2) AS bd, " +
        "graft_winnow(array('a', CAST(NULL AS STRING), 'b', 'c'), 2, 2) AS wn")
      .collect().head
    val clean = spark.sql(
      "SELECT graft_simhash(array('a', 'b')) AS sh, " +
        "graft_minhash(array('a', 'b'), 4) AS mh, " +
        "graft_minhash_bands(array('a', 'b'), 4, 2) AS bd")
      .collect().head
    assert(withNull.getLong(0) == clean.getLong(0))
    assert(withNull.getSeq[Long](1) == clean.getSeq[Long](1))
    assert(withNull.getSeq[Long](2) == clean.getSeq[Long](2))
    assert(!withNull.isNullAt(3)) // winnow survives too
    // and the winnow gram drops a null WITH its separator (concat_ws
    // parity: "a b", never "a  b")
    val viaNull = spark.sql(
      "SELECT graft_winnow(array('a', CAST(NULL AS STRING), 'b'), 3, 1)")
      .collect().head.getSeq[Long](0)
    val viaWs = spark.sql("SELECT graft_winnow(array('a', 'b'), 2, 1)")
      .collect().head.getSeq[Long](0)
    assert(viaNull == viaWs)
  }

  test("wrong-typed input fails at ANALYSIS, not as runtime garbage") {
    FunctionRegistration.register(spark)
    // regression: no checkInputDataTypes meant array<bigint> was
    // reinterpreted as UTF8String (offset,length) words — silently wrong
    // signatures poisoning dedup joins
    for (q <- Seq(
      "SELECT graft_minhash(array(1L, 2L), 4)",
      "SELECT graft_simhash(array(1L, 2L))",
      "SELECT graft_minhash_bands(array(1L, 2L), 4, 2)",
      "SELECT graft_polyhash(123)",
      "SELECT graft_char_entropy(123)",
      "SELECT graft_word_grams(123, 2)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(q).collect()
      }
      assert(e.getMessage.toLowerCase.contains("requires"), s"$q: ${e.getMessage}")
    }
    // ...but a bare NULL literal is not "wrong-typed": it returns NULL,
    // as generated CASE branches rely on
    assert(spark.sql("SELECT graft_polyhash(NULL)").collect().head.isNullAt(0))
    assert(spark.sql("SELECT graft_word_grams(NULL, 2)").collect().head.isNullAt(0))
  }

  test("lsh bucket: NaN components follow Spark SQL's NaN-above-everything ordering") {
    import org.apache.spark.sql.functions._
    import graft.ops.{SimilarityHof, SimilarityOps}
    // regression: JVM NaN >= 0 is false, but the HOF spec's when(dot >= 0)
    // is TRUE under Spark's NaN ordering — the native expr bucketed NaN
    // vectors differently from the executable spec
    val nanVec = Array.fill(64)(Double.NaN)
    val df = spark.createDataFrame(Seq(Tuple1(nanVec.toSeq))).toDF("embedding")
    val both = df.select(
      SimilarityOps.lshBucket(col("embedding"), 4, 64).as("native"),
      SimilarityHof.lshBucketHof(col("embedding"), 4, 64).as("hof"))
      .collect().head
    assert(both.getLong(0) == both.getLong(1))
  }

  test("polyhash equals the portable HOF formulation") {
    import org.apache.spark.sql.functions._
    val df = spark.sql("SELECT text FROM (SELECT 'spark engine test row' AS text)")
    val native = df.select(CrossHash.polyHash(col("text"))).collect().head.getLong(0)
    val hof = df.select(
      aggregate(
        transform(sequence(lit(1), length(col("text"))),
          i => ascii(col("text").substr(i, lit(1)))),
        lit(0L),
        (acc, c) => (acc * lit(31L) + c.cast("long")) % lit(CrossHash.P)))
      .collect().head.getLong(0)
    assert(native == hof)
  }
}
