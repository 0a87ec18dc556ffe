package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native random-hyperplane LSH bucket id over a numeric array.
  *
  * Bit-for-bit equal to the portable nested-HOF formulation
  * (`graft.ops.SimilarityHof.lshBucketHof`, a test-scope twin the DuckDB
  * oracle mirrors): per plane, the dot product is a sequential
  * index-order fold of `vec[d] * hyperplane(plane, d)` in double
  * precision; the bucket folds one sign bit per plane. The HOF form evaluates planes×dims
  * interpreted lambda calls per row — this is one tight JVM loop, inside
  * whole-stage codegen, which matters when bucketing a 100 TB corpus.
  *
  * Hyperplane components come from the exact-rational LCG in
  * [[LshBucketExpr.hyperplane]]: every value is a dyadic rational, so both
  * engines see identical doubles.
  */
case class LshBucketExpr(child: Expression, planes: Int, dims: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | org.apache.spark.sql.types.DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float> or array<double>, got ${other.catalogString}")
    }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any =
    LshBucketExpr.bucket(input.asInstanceOf[ArrayData], planes, dims, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.LshBucketExpr.bucket($c, $planes, $dims, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)
}

object LshBucketExpr {

  /** Deterministic hyperplane component for (plane, dim) — exact dyadic
    * rational in [-0.5, 0.5), identical to [[CrossHash.hyperplane]]. */
  def hyperplane(idx: Long): Double =
    ((1103515245L * idx + 12345L) % 2147483648L).toDouble / 2147483648.0 - 0.5

  def bucket(v: ArrayData, planes: Int, dims: Int, isFloat: Boolean): Long = {
    // HOF parity: zip_with pads a length mismatch with nulls and a null
    // element nullifies the dot fold, so every plane's sign test falls to
    // the otherwise-0 branch — the whole bucket is 0
    if (v.numElements() != dims) return 0L
    var j = 0
    while (j < dims) {
      if (v.isNullAt(j)) return 0L
      j += 1
    }
    val n = math.min(dims, v.numElements())
    var acc = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var d = 0
      val base = p.toLong * dims
      while (d < n) {
        val x = if (isFloat) v.getFloat(d).toDouble else v.getDouble(d)
        dot += x * hyperplane(base + d)
        d += 1
      }
      // NaN parity: Spark SQL (and DuckDB) order NaN ABOVE every numeric,
      // so the spec form's `when(dot >= 0, 1)` is TRUE for a NaN dot —
      // the JVM's `NaN >= 0` is false and silently bucketed differently
      acc = acc * 2L + (if (dot >= 0 || java.lang.Double.isNaN(dot)) 1L else 0L)
      p += 1
    }
    acc
  }
}
