package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity over two `array<float>` embedding columns as a native
  * Catalyst expression with whole-stage codegen.
  *
  * Why custom (SURVEY §7.3 extension ops): Spark's built-in route is
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,v) -> acc+v)` — three
  * higher-order functions that run interpreted per row and allocate two
  * intermediate arrays. At 100 TB embedding scale the pairwise scorer is the
  * innermost loop of dedup/ANN, so it must be a tight fused loop inside
  * WholeStageCodegen. Products are widened to double BEFORE multiplying to
  * match DuckDB's `list_cosine_similarity(CAST(.. AS DOUBLE[]), ..)` oracle
  * bit-for-bit.
  *
  * Returns null for null inputs; 0.0 when either vector has zero norm.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float> columns, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xv = (double) $a.getFloat($i);
          double $yv = (double) $b.getFloat($i);
          $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
        }
        double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
        ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product (same codegen rationale) — used by the LSH hyperplane hasher. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
        }
        ${ev.value} = $dot;
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All LSH hyperplane signatures for one vector in a single compiled pass:
  * returns `array<long>` of length `tables`, bit b of entry t = sign of
  * dot(vec, plane(t,b)).
  *
  * Why custom: composing this from per-plane [[DotProduct]]s puts
  * tables×bits expressions each carrying a dim-element literal array into
  * the plan — analysis/optimization of that plan costs seconds per query
  * (it dominated the LSH queries' wall time), and the literal planes are
  * re-shipped with every plan. Here the planes are derived deterministically
  * from the seed INSIDE the expression, the plan holds one node, and the
  * scoring loop runs over primitive arrays.
  *
  * CodegenFallback like the hash kernels: the loop body is compiled Scala;
  * surrounding operators still whole-stage-codegen.
  */
case class HyperplaneSigs(child: Expression, tables: Int, bits: Int, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  // [tables][bits*dim], plane b of table t at offset b*dim, drawn from
  // Random(0xC0FFEE + t*7919): bits×dim uniform draws in [-1, 1).
  @transient private lazy val planes: Array[Array[Float]] =
    Array.tabulate(tables) { t =>
      val rng = new scala.util.Random(0xC0FFEEL + t * 7919L)
      Array.fill(bits * dim)((rng.nextDouble() * 2 - 1).toFloat)
    }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      val pl = planes(t)
      var sig = 0L
      var b = 0
      while (b < bits) {
        val off = b * dim
        var dot = 0.0
        var i = 0
        while (i < n) { dot += v.getFloat(i).toDouble * pl(off + i); i += 1 }
        if (dot >= 0) sig |= (1L << b)
        b += 1
      }
      out(t) = sig
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  /** Column API: cosine similarity of two array<float> columns. */
  def cosine_sim(a: Column, b: Column): Column =
    GraftExpressionBridge.column(CosineSim(GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  /** Column API: dot product of two array<float> columns. */
  def dot_product(a: Column, b: Column): Column =
    GraftExpressionBridge.column(DotProduct(GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  /** Column API: all LSH table signatures (array<long>) for a vector. */
  def hyperplane_sigs(vec: Column, tables: Int, bits: Int, dim: Int): Column =
    GraftExpressionBridge.column(HyperplaneSigs(GraftExpressionBridge.expression(vec), tables, bits, dim))
}
