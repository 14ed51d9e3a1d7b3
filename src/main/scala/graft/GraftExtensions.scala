package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._
import graft.plans.TopKPerGroupStrategy

/** The engine's one registration path: its native SQL functions and
  * the [[graft.plans.TopKPerGroupStrategy]] planner strategy, installed
  * when the session is built. [[GraftSession.localSession]] builds
  * every session with it; a packaged deployment can equally pass
  * `spark.sql.extensions=graft.GraftExtensions`. Because everything is
  * in place before the first query, no plan depends on which query ran
  * earlier in the session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      e.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    // plan the custom top-k-per-group logical node (graft.ops.TopK)
    e.injectPlannerStrategy(_ => TopKPerGroupStrategy)
  }
}

object GraftExtensions {

  /** Every native SQL function: name, expression class, builder. */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_product", classOf[DotProductExpr], es => DotProductExpr(es(0), es(1))),
    ("sq_dist", classOf[SqDistExpr], es => SqDistExpr(es(0), es(1))),
    ("vec_norm", classOf[VecNormExpr], es => VecNormExpr(es.head)),
    ("rolling_hash", classOf[RollingHashExpr], es => RollingHashExpr(es.head)),
    ("h60", classOf[H60Expr], es => H60Expr(es.head)),
    ("shingles", classOf[ShinglesExpr], es => ShinglesExpr(es(0), literalInt(es(1)))),
    ("count_in", classOf[CountInExpr],
      es => CountInExpr(es.head, es.tail.map(literalString))),
    ("minhash_sigs", classOf[MinHashSigsExpr], es => MinHashSigsExpr(es.head)),
    ("simhash60", classOf[SimHash60Expr], es => SimHash60Expr(es.head)),
    ("subword_count", classOf[SubwordCountExpr],
      es => SubwordCountExpr(es.head, SubwordVocab.Default)),
    ("subword_tokenize", classOf[SubwordTokenizeExpr],
      es => SubwordTokenizeExpr(es.head, SubwordVocab.Default)))

  /** The shingle width must be a compile-time constant (it is baked into
    * the generated code), so only integer literals are accepted.
    */
  private def literalInt(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other =>
      throw new IllegalArgumentException(
        s"shingles(words, n) needs a literal int width, got: $other")
  }

  /** count_in's member set is baked into the operator at plan time, so
    * only string literals are accepted.
    */
  private def literalString(e: Expression): String = e match {
    case Literal(v: UTF8String, _) => v.toString
    case other =>
      throw new IllegalArgumentException(
        s"count_in(arr, members…) needs literal string members, got: $other")
  }
}
