package graft.run

import graft.ops.{CorpusOps, DedupOps, GraphOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline — the composition a real corpus run
  * executes, wired from the individual operators so their scale shapes
  * compose (every stage is a DataFrame→DataFrame transform; nothing
  * collects to the driver except the final report counts):
  *
  *   1. quality filter   (C4/Gopher rule flags → keep)
  *   2. exact dedup      (SHA-256 digest keep-first)
  *   3. paragraph dedup  (optional: corpus-wide keep-first over sep-split
  *                        paragraphs, documents REWRITTEN from survivors;
  *                        the RefinedWeb ordering — after doc-level exact,
  *                        before near-dup, so boilerplate can't glue
  *                        otherwise-distinct docs into near-dup pairs)
  *   4. near dedup       (MinHash-LSH pairs → connected components →
  *                        keep cluster minimum)
  *   5. decontamination  (drop docs sharing n-grams with the eval set)
  *   6. mixture sampling (per-source keep rates, content-stable)
  *   7. split assignment (content-stable train/val/test buckets)
  *   8. shard export     (stable membership, one sorted file per shard)
  *
  * Stages 2–5 drop whole documents (3 also rewrites text), so the
  * pipeline prunes early — each stage's input is the previous stage's
  * survivors. The returned report
  * is one row per stage with its surviving count: the corpus-health
  * summary a pipeline owner reads before shipping shards.
  */
object CorpusPipeline {

  final case class Config(
      minTokens: Long = 10L,
      maxTokens: Long = 100000L,
      // the quality filter's remaining knobs, surfaced with the SAME
      // defaults TextOps.corpusFilter applies (r13 review: they used to
      // be hidden — a CJK/code corpus tripping the avg-token-length rule
      // had no Config path to relax it and silently lost most documents)
      minAvgTokenLen: Double = 2.0,
      maxAvgTokenLen: Double = 12.0,
      minDistinctRatio: Double = 0.1,
      minStopRatio: Double = 0.0,
      maxWebMarks: Long = Long.MaxValue,
      paragraphSep: Option[String] = None,
      nearDupThreshold: Double = 0.5,
      decontaminateNgram: Int = 5,
      mixtureRates: Map[String, Double] = Map.empty,
      splits: Seq[(String, Int)] = Seq("train" -> 98, "val" -> 1, "test" -> 1),
      nShards: Int = 8)

  final case class StageCount(stage: String, rows: Long)

  /** Run the pipeline; writes shards under `outDir` and returns the
    * per-stage survivor counts (in stage order). `evalDocs` is the
    * benchmark set for decontamination (None skips the stage).
    */
  def run(docs: DataFrame, outDir: String, cfg: Config = Config(),
          evalDocs: Option[DataFrame] = None): Seq[StageCount] = {
    val report = scala.collection.mutable.ArrayBuffer.empty[StageCount]
    // each stage's checkpoint supersedes the previous one: once stage N
    // has materialized (the eager localCheckpoint computes it from stage
    // N−1's blocks), stage N−1's cached RDD is dead weight — unpersist it
    // so repeated run() calls in one long-lived session don't accumulate
    // executor storage for the whole prefix chain (same cleanup pattern
    // as CorpusOps.bpeLearn's merge loop)
    def unpersistCheckpoint(df: DataFrame): Unit =
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
        case _ => ()
      }
    var prevStage: Option[DataFrame] = None
    def stage(name: String, df: DataFrame): DataFrame = {
      // localCheckpoint: each stage's survivors are computed once and
      // reused by the next stage AND the count — without it every later
      // stage would re-run the whole prefix
      val c = df.localCheckpoint(true)
      report += StageCount(name, c.count())
      prevStage.foreach(unpersistCheckpoint)
      prevStage = Some(c)
      c
    }

    val input = stage("input", docs)

    val kept = stage("quality_filter", input.join(
      TextOps.corpusFilter(input, minTokens = cfg.minTokens,
        maxTokens = cfg.maxTokens,
        minAvgLen = cfg.minAvgTokenLen, maxAvgLen = cfg.maxAvgTokenLen,
        minDistinctRatio = cfg.minDistinctRatio,
        minStopRatio = cfg.minStopRatio, maxWebMarks = cfg.maxWebMarks)
        .filter(col("keep")).select(col("doc_id")),
      "doc_id"))

    val exactKeep = DedupOps.exactByDigest(kept).select(col("keep_id").as("doc_id"))
    val exact = stage("exact_dedup", kept.join(exactKeep, "doc_id"))

    // optional paragraph pass: documents are rewritten from surviving
    // paragraphs (n_chars re-derived); docs that lose every paragraph drop
    val para = cfg.paragraphSep match {
      case Some(sep) =>
        val rebuilt = DedupOps.paragraphDedup(exact, sep = sep)
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("text_kept"))
        stage("paragraph_dedup", exact.drop("text", "n_chars")
          .join(rebuilt, "doc_id")
          .withColumnRenamed("text_kept", "text")
          .withColumn("n_chars", length(col("text")).cast("long")))
      case None => exact
    }

    // maxBucket = 64: the cap Shared.graphPairs puts on the same
    // keepOne-over-minhash-candidates shape; exact_dedup has already
    // removed the exact-dup families a hot band bucket is made of
    val pairs = DedupOps.minhashLsh(para, threshold = cfg.nearDupThreshold,
        maxBucket = 64)
      .select(col("id1"), col("id2"))
    val nearKeep = GraphOps.keepOne(para, pairs).select(col("keep_id").as("doc_id"))
    val near = stage("near_dedup", para.join(nearKeep, "doc_id"))

    val clean = evalDocs match {
      case Some(ev) =>
        val contaminated = TextOps.decontaminate(near, ev, n = cfg.decontaminateNgram)
          .select(col("doc_id"))
        stage("decontaminate", near.join(contaminated, Seq("doc_id"), "left_anti"))
      case None => near
    }

    val mixed =
      if (cfg.mixtureRates.isEmpty) clean
      else stage("mixture", clean.join(
        CorpusOps.mixtureSample(clean, cfg.mixtureRates).select(col("doc_id")),
        "doc_id"))

    val split = stage("split_assign",
      mixed.join(CorpusOps.splitAssign(mixed, cfg.splits)
        .select(col("doc_id"), col("split")), "doc_id"))

    CorpusOps.exportShards(split, outDir, cfg.nShards)
    // rows = the EXPORTED document count like every other stage row (r13
    // review: storing the shard count here made the final report read as
    // a near-total drop at export); the shard count rides in the name.
    // The count is the split_assign stage's own — reuse it, don't re-scan
    report += StageCount(s"sharded[${cfg.nShards}]", report.last.rows)
    prevStage.foreach(unpersistCheckpoint)
    report.toSeq
  }
}
