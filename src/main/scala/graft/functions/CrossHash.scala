package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing built only from exact integer
  * arithmetic over higher-order functions — so the exact same values are
  * computable in any ANSI-ish SQL engine (the DuckDB oracle mirrors each
  * formula with list_transform/list_reduce). No dependence on Spark's
  * Murmur3 `hash()` (engine-specific) and no floating point.
  *
  * All expressions stay inside Catalyst (no Scala UDFs): HOFs evaluate as
  * codegen'd expressions over array data.
  */
object CrossHash {

  /** Large prime modulus; products stay well inside Long. */
  val P: Long = 1000000007L

  /** Polynomial rolling hash of a string: fold(acc*31 + codepoint) mod P.
    * Backed by the native codegen'd [[PolyHashExpr]]; semantically equal to
    * `aggregate(transform(sequence(1, length(s)), i => ascii(substr(s,i,1))),
    * 0L, (acc,c) => (acc*31+c) % P)` — the pure-HOF form the oracle mirrors.
    */
  def polyHash(s: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(PolyHashExpr(ColumnBridge.expression(s)))
  }

  /** k universal-hash permutations (a_j * h + b_j) mod P, fixed odd
    * coefficients shared with the oracle SQL. */
  val A: Seq[Long] = Seq(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L)
  val B: Seq[Long] = Seq(101L, 103L, 107L, 109L, 113L, 127L, 131L, 137L)

  def permuted(h: Column, j: Int): Column = (h * lit(A(j)) + lit(B(j))) % lit(P)

  /** Whitespace tokens with empties removed (portable: both engines split
    * on the single-space literal, then drop ''). */
  def tokens(text: Column): Column =
    filter(split(trim(text), " "), t => length(t) > 0)

  /** Word n-gram shingles of a token array. Documents shorter than n
    * tokens yield an EMPTY array — the guard matters because
    * `sequence(1, 0)` is the DESCENDING sequence [1, 0], not empty, and
    * would probe element_at(toks, 0). */
  def shingles(toks: Column, n: Int): Column = {
    val m = size(toks) - lit(n - 1)
    when(m >= 1,
      transform(sequence(lit(1), m),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + lit(o))): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct word n-grams straight from text — native single-pass twin of
    * `array_distinct(shingles(tokens(text), n))` for hot paths. */
  def wordGrams(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(WordGramsExpr(ColumnBridge.expression(text), n))
  }

  /** Every word n-gram occurrence in order (non-distinct) — the counting
    * form frequency statistics (BPE merge candidates) need. */
  def wordGramsAll(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(WordGramsExpr(ColumnBridge.expression(text), n, distinct = false))
  }

  /** MinHash signature (array of k minima) over an array of shingles.
    * Backed by the native [[MinHashExpr]] (one loop per document);
    * semantically equal to the portable HOF form the oracle mirrors:
    * `transform(sequence(0, k-1), j -> array_min(transform(shingles,
    * s -> (polyHash(s)*a_j + b_j) % P)))`. Empty input → sentinel minima
    * (Long.MaxValue); filter `size > 0` first where absent-row semantics
    * are required. */
  def minHash(shingleArr: Column, k: Int = 8): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(MinHashExpr(ColumnBridge.expression(shingleArr), k))
  }

  /** Fused MinHash band buckets over a shingle array — NULL for empty
    * input (see [[MinHashBandsExpr]] for why the fusion is a plan-shape
    * guard, not just a constant-factor win). */
  def minHashBands(shingleArr: Column, k: Int = 8, bands: Int = 4): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(
      MinHashBandsExpr(ColumnBridge.expression(shingleArr), k, bands))
  }

  /** Powers of two as an array literal — bit tests via exact integer
    * arithmetic (h % 2p >= p), portable to any SQL dialect without shift
    * operators on column-valued shift amounts. */
  val POW2: Array[Long] = (0 until 32).map(b => 1L << b).toArray

  /** 32-bit SimHash over *distinct* tokens: bit b is set iff more token
    * hashes have bit b set than not. Backed by the native [[SimHashExpr]]
    * (dedup + vote in one loop); semantically equal to the portable HOF
    * form the oracle mirrors: `aggregate(sequence(0,31), 0, (acc,b) ->
    * acc + if(fold(±1 votes via h % 2p >= p) > 0, 2^b, 0))` over
    * `array_distinct(toks)`. */
  def simHash(toks: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(SimHashExpr(ColumnBridge.expression(toks)))
  }

  /** Exact cosine similarity between two numeric-array columns, computed
    * as strict left folds (same order as the oracle's list_reduce) in
    * double precision. Backed by the native [[CosineSimExpr]]; the
    * equivalent HOF form is `fold(zip_with(a,b,*)) / (√fold(a²)·√fold(b²))`.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(
      CosineSimExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }
}
