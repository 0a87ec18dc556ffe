package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable higher-order-function twins of the native ANN expressions in
  * [[SimilarityOps]]: the executable specs the native expressions are
  * parity-tested against. The DuckDB oracle SQL mirrors these forms.
  */
object SimilarityHof {

  /** Deterministic pseudo-random hyperplane component for LSH bucketing:
    * LCG over (plane, dim), scaled to [-0.5, 0.5) as an exact rational —
    * the Column form of [[graft.functions.LshBucketExpr.hyperplane]]. */
  def hyperplane(plane: Column, dim: Column, dims: Int): Column = {
    val idx = (plane * lit(dims.toLong) + dim).cast("long")
    val lcg = (lit(1103515245L) * idx + lit(12345L)) % lit(2147483648L)
    (lcg.cast("double") / lit(2147483648.0d)) - lit(0.5d)
  }

  /** Twin of [[SimilarityOps.lshBucket]]: one sign bit per plane, folded
    * into a long bucket id. */
  def lshBucketHof(vec: Column, planes: Int, dims: Int): Column =
    aggregate(
      sequence(lit(0), lit(planes - 1)),
      lit(0L),
      (acc, pl) => {
        val dot = aggregate(
          zip_with(vec, sequence(lit(0), lit(dims - 1)),
            (x, d) => x.cast("double") * hyperplane(pl.cast("long"), d.cast("long"), dims)),
          lit(0.0d), (s, v) => s + v)
        acc * lit(2L) + when(dot >= 0, 1L).otherwise(lit(0L))
      })

  /** Twin of the projection inside [[SimilarityOps.projectEmbeddings]]
    * (unrounded). */
  def projectHof(vec: Column, k: Int, dims: Int): Column =
    transform(
      sequence(lit(0), lit(k - 1)),
      pl => aggregate(
        zip_with(vec, sequence(lit(0), lit(dims - 1)),
          (x, d) => x.cast("double") * hyperplane(pl.cast("long"), d.cast("long"), dims)),
        lit(0.0d), (s, v) => s + v))

  /** Squared L2 distance of subspace `s` of `vec` to one centroid, as a
    * left-associated chain seeded with 0.0 (the exact fold order the
    * oracle's list_reduce mirrors — bit-identical IEEE). */
  def sliceDist(vec: Column, s: Int, sub: Int, cent: Seq[Double]): Column =
    (0 until sub).map { d =>
      val x = element_at(vec, s * sub + d + 1).cast("double") - lit(cent(d))
      x * x
    }.foldLeft(lit(0.0d))(_ + _)

  /** Per-subspace PQ code (argmin centroid) as a declarative struct-min
    * chain — the twin of [[graft.functions.PqCodesExpr]], which
    * [[SimilarityOps.pqCodes]] uses. */
  def pqCodeHof(vec: Column, s: Int, sub: Int, book: Seq[Seq[Double]]): Column =
    array_min(array(book.zipWithIndex.map { case (cv, c) =>
      struct(sliceDist(vec, s, sub, cv).as("d"), lit(c).as("c"))
    }: _*)).getField("c")
}
