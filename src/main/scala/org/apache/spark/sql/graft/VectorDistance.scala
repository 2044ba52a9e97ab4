/* Lives under org.apache.spark.sql to access private[sql] helpers
 * (ExpressionUtils, AbstractDataType) — the standard pattern for
 * libraries adding native Catalyst expressions. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, CreateArray, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** The three vector distance functions of the reference, as native
  * Catalyst expressions with whole-stage codegen.
  *
  * Semantics pinned by reference `src/include/execution/expressions/
  * vector_expression.h:19-63` (ComputeDistance):
  *  - l2_dist: Euclidean distance WITH sqrt.
  *  - inner_product: RAW dot product, NOT negated (ordering by it
  *    ascending returns least-similar first — reproduced literally).
  *  - cosine_similarity: dot/(|a||b|), NOT 1-cos.
  * Return type DECIMAL in the reference == C double
  * (`src/type/decimal_type.cpp:25-33`) -> DoubleType here.
  * Dimension mismatch asserts in the reference; we throw too.
  */
object DistanceMetric extends Enumeration {
  val L2, InnerProduct, Cosine = Value
}

case class VectorDistance(
    left: Expression,
    right: Expression,
    metric: DistanceMetric.Value)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = metric match {
    case DistanceMetric.L2           => "l2_dist"
    case DistanceMetric.InnerProduct => "inner_product"
    case DistanceMetric.Cosine       => "cosine_similarity"
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(n == y.numElements(),
      s"vector dimension mismatch: $n vs ${y.numElements()}")
    metric match {
      case DistanceMetric.L2 =>
        var acc = 0.0; var i = 0
        while (i < n) {
          val d = x.getDouble(i) - y.getDouble(i); acc += d * d; i += 1
        }
        math.sqrt(acc)
      case DistanceMetric.InnerProduct =>
        var acc = 0.0; var i = 0
        while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
        acc
      case DistanceMetric.Cosine =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val xv = x.getDouble(i); val yv = y.getDouble(i)
          dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // every local must be freshName'd: two distance expressions can
      // land in the same generated function (e.g. one projection
      // computing l2 and cosine) and fixed names collide
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val body = metric match {
        case DistanceMetric.L2 =>
          s"""
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = $a.getDouble($i) - $b.getDouble($i);
           |  $acc += $d * $d;
           |}
           |${ev.value} = java.lang.Math.sqrt($acc);
           """.stripMargin
        case DistanceMetric.InnerProduct =>
          s"""
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $acc;
           """.stripMargin
        case DistanceMetric.Cosine =>
          s"""
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = $a.getDouble($i); double $yv = $b.getDouble($i);
           |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
           |}
           |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
           """.stripMargin
      }
      s"""
       |int $n = $a.numElements();
       |if ($n != $b.numElements()) {
       |  throw new IllegalArgumentException(
       |    "vector dimension mismatch: " + $n + " vs " + $b.numElements());
       |}
       |$body
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDistance =
    copy(left = newLeft, right = newRight)
}

/** Column/Expression bridge + SQL registration for the distances. */
object VectorDistanceApi {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  private def asDoubleArray(c: Column): Column = c.cast("array<double>")

  def dist(a: Column, b: Column, m: DistanceMetric.Value): Column =
    column(VectorDistance(
      expression(asDoubleArray(a)), expression(asDoubleArray(b)), m))

  /** Register SQL names so spark.sql("... l2_dist(a,b) ...") works,
    * mirroring the reference planner's hard-coded function table
    * (`src/planner/expression_factory.cpp:104-112`). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def wrap(m: DistanceMetric.Value)(exprs: Seq[Expression]): Expression =
      VectorDistance(exprs(0), exprs(1), m)
    reg.createOrReplaceTempFunction("l2_dist",
      wrap(DistanceMetric.L2), "built-in")
    reg.createOrReplaceTempFunction("inner_product",
      wrap(DistanceMetric.InnerProduct), "built-in")
    reg.createOrReplaceTempFunction("cosine_similarity",
      wrap(DistanceMetric.Cosine), "built-in")
    // function form of the vector constructor (reference
    // expression_factory.cpp:125-127); children coerced to double like
    // the binder's all-DECIMAL ARRAY rule (array_expression.h:27-58)
    reg.createOrReplaceTempFunction("construct_array",
      (exprs: Seq[Expression]) => CreateArray(
        exprs.map(Cast(_, org.apache.spark.sql.types.DoubleType))),
      "built-in")
  }
}
