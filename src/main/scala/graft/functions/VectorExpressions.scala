package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/* Native Catalyst expressions for the vector hot path.
 *
 * The declarative form — `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0,
 * (acc,x) -> acc+x)` — is semantically right but interprets a boxed
 * lambda frame per element; on the q20 all-pairs join (4M pairs × 64
 * dims at sf0.1) it spends 40+ s in HOF evaluation. These expressions
 * keep the exact same strict left-fold arithmetic (bit parity with the
 * DuckDB oracle) but compile to a primitive double loop inside
 * whole-stage codegen — no boxing, no per-element closures.
 *
 * A custom `Expression` with `doGenCode` is the lighter native option,
 * well before reaching for a custom physical operator. Registered as SQL functions by
 * [[graft.GraftExtensions]] because Spark 4's Column API no longer
 * exposes `Column.expr` publicly; callers use `expr("dot_product(a, b)")`.
 */

/** dot(a, b) = ((0 + a0·b0) + a1·b1) + … — strict sequential fold over
  * two array<double> columns (callers guarantee the element type).
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** ‖a‖ = sqrt(((0 + a0²) + a1²) + …) — same fold as the HOF form. */
case class VecNormExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val v = x.getDouble(i); acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |int $n = $x.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $x.getDouble($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecNormExpr =
    copy(child = newChild)
}
