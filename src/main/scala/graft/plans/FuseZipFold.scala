package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.HIGH_ORDER_FUNCTION
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{ZipFoldProduct, ZipFoldSqDiff}

/** Optimizer rule fusing the declarative vector-fold idiom
  *
  *   aggregate(zip_with(a, b, (x,y) -> x*y),         -- or (x-y)*(x-y)
  *             0.0, (acc,v) -> acc + v)
  *
  * into one native codegen'd loop ([[ZipFoldProduct]]/[[ZipFoldSqDiff]])
  * — dot product and squared distance, the two folds vector pipelines
  * write. The HOF chain materializes the zipped array and walks an
  * interpreted lambda frame per element; the fused expression is a
  * primitive double loop with identical arithmetic order and identical
  * null semantics (see ZipFoldBase), so the rewrite is observationally
  * pure — including for the bit-exact DuckDB oracle comparison.
  *
  * Installed by `injectOptimizerRule` in [[graft.GraftExtensions]], so
  * it runs inside the fixed-point operator-optimization batches next to
  * constant folding: a zero seed written as `CAST(0 AS DOUBLE)` is folded
  * to a literal in one iteration and matched in the next. Excludable by
  * name through `spark.sql.optimizer.excludedRules`.
  */
object FuseZipFold extends Rule[LogicalPlan] {

  // runs on every iteration of the fixed-point batches, so plans without
  // a higher-order function are skipped on their tree-pattern bits
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(HIGH_ORDER_FUNCTION)) {
      case agg: ArrayAggregate => fuse(agg).getOrElse(agg)
    }

  private def fuse(agg: ArrayAggregate): Option[Expression] = {
    for {
      zip <- asZipWith(agg.argument)
      _ <- if (isDoubleArray(zip.left) && isDoubleArray(zip.right)) Some(())
           else None
      _ <- if (isZeroDouble(agg.zero)) Some(()) else None
      _ <- if (isAccPlusElement(agg.merge)) Some(()) else None
      _ <- if (isIdentityFinish(agg.finish)) Some(()) else None
      fused <- fuseZipLambda(zip)
    } yield fused
  }

  private def asZipWith(e: Expression): Option[ZipWith] = e match {
    case z: ZipWith => Some(z)
    case _ => None
  }

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def isZeroDouble(e: Expression): Boolean = e match {
    case Literal(v: Double, DoubleType) => v == 0.0
    case _ => false
  }

  /** merge must be exactly (acc, v) -> acc + v over the lambda's own
    * variables, in that order (double addition is order-sensitive).
    */
  private def isAccPlusElement(merge: Expression): Boolean = merge match {
    case LambdaFunction(fn, Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _) =>
      fn match {
        case a: Add =>
          a.left.semanticEquals(acc) && a.right.semanticEquals(v)
        case _ => false
      }
    case _ => false
  }

  private def isIdentityFinish(finish: Expression): Boolean = finish match {
    case LambdaFunction(body, Seq(v: NamedLambdaVariable), _) =>
      body.semanticEquals(v)
    case _ => false
  }

  /** (x,y) -> x*y  ⇒ product;  (x,y) -> (x-y)*(x-y)  ⇒ squared diff. */
  private def fuseZipLambda(zip: ZipWith): Option[Expression] =
    zip.function match {
      case LambdaFunction(fn, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
        fn match {
          case m: Multiply
              if m.left.semanticEquals(x) && m.right.semanticEquals(y) =>
            Some(ZipFoldProduct(zip.left, zip.right))
          case m: Multiply =>
            (m.left, m.right) match {
              case (s1: Subtract, s2: Subtract)
                  if s1.semanticEquals(s2) &&
                    s1.left.semanticEquals(x) && s1.right.semanticEquals(y) =>
                Some(ZipFoldSqDiff(zip.left, zip.right))
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }
}
