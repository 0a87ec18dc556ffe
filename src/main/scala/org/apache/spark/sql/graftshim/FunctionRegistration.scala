package org.apache.spark.sql.graftshim

import graft.functions.{CharEntropyExpr, CosineSimExpr, LangScoresExpr, LshBucketExpr, MinHashBandsExpr, MinHashExpr, PolyHashExpr, PqAdcTabsExpr, PqCodesExpr, ProjectEmbedExpr, SimHashExpr, WinnowExpr, WordGramsExpr}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Registers the engine's native expressions as SQL functions, so
  * `spark.sql("SELECT graft_polyhash(text) ...")` works alongside the
  * Column API. Lives in the shim package because `sessionState` is
  * `private[sql]`.
  */
object FunctionRegistration {

  /** The one ExpressionInfo shape both registration surfaces share
    * ([[graft.GraftExtensions]] calls this too — metadata edited here
    * cannot diverge between the per-session and cluster paths). */
  def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  /** The single function registry — both the imperative registration and
    * [[graft.GraftExtensions]] iterate this. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_polyhash", "polynomial rolling hash mod 1e9+7",
      exprs => PolyHashExpr(exprs.head)),
    ("graft_word_grams", "distinct word n-grams: graft_word_grams(text, n)",
      exprs => WordGramsExpr(exprs.head, litInt(exprs(1)))),
    ("graft_cosine", "exact cosine similarity of two numeric arrays",
      exprs => CosineSimExpr(exprs.head, exprs(1))),
    ("graft_lsh_bucket", "random-hyperplane LSH bucket: graft_lsh_bucket(vec, planes, dims)",
      exprs => LshBucketExpr(exprs.head, litInt(exprs(1)), litInt(exprs(2)))),
    ("graft_lang_scores", "per-language stopword hit counts over a token array",
      exprs => LangScoresExpr(exprs.head)),
    ("graft_winnow", "winnowing fingerprints: graft_winnow(tokens, n, window)",
      exprs => WinnowExpr(exprs.head, litInt(exprs(1)), litInt(exprs(2)))),
    ("graft_project_embed", "random-projection sketch: graft_project_embed(vec, planes, dims)",
      exprs => ProjectEmbedExpr(exprs.head, litInt(exprs(1)), litInt(exprs(2)))),
    ("graft_pq_codes", "product-quantization codes: graft_pq_codes(vec, m, ncode, sub)",
      exprs => PqCodesExpr(exprs.head, litInt(exprs(1)), litInt(exprs(2)), litInt(exprs(3)))),
    ("graft_pq_adc_tabs", "PQ ADC distance tables: graft_pq_adc_tabs(vec, m, ncode, sub)",
      exprs => PqAdcTabsExpr(exprs.head, litInt(exprs(1)), litInt(exprs(2)), litInt(exprs(3)))),
    ("graft_simhash", "32-bit SimHash of a token array's distinct elements",
      exprs => SimHashExpr(exprs.head)),
    ("graft_minhash", "MinHash minima array: graft_minhash(shingles, k)",
      exprs => MinHashExpr(exprs.head, litInt(exprs(1)))),
    ("graft_minhash_bands", "fused LSH band buckets: graft_minhash_bands(shingles, k, bands); null on empty",
      exprs => MinHashBandsExpr(exprs.head, litInt(exprs(1)), litInt(exprs(2)))),
    ("graft_char_entropy", "Shannon entropy of a string's codepoint distribution",
      exprs => CharEntropyExpr(exprs.head)))

  /** Integer parameters of the SQL surface must be literal and non-null:
    * a raw eval() of a NULL literal NPE'd with no context, and a column
    * reference surfaced an opaque "Cannot evaluate expression". */
  private def litInt(e: Expression): Int = e match {
    case Literal(null, _) => throw new IllegalArgumentException(
      "graft function parameter must be a non-null integer literal")
    case Literal(v: Int, _) => v
    case other if other.foldable =>
      Option(other.eval()).map(_.toString.toInt).getOrElse(
        throw new IllegalArgumentException(
          "graft function parameter must be a non-null integer literal"))
    case _ => throw new IllegalArgumentException(
      "graft function parameter must be a literal, not a column reference")
  }

  /** Imperative per-session registration (tests, notebooks). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
