package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import graft.plans.TopKPerGroup

/** Library API for the custom top-k-per-group operator
  * ([[graft.plans.TopKPerGroupExec]]): same contract as
  * `row_number().over(partitionBy(group).orderBy(order)) <= k`, executed
  * as one streaming group-scan instead of window + filter.
  *
  * The node is planned by [[graft.plans.TopKPerGroupStrategy]], which
  * [[graft.GraftExtensions]] installs when the session is built.
  */
object TopK {

  def perGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      k: Int,
      rankName: String = "rn"): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    // Match the analyzer's binding semantics: resolve names with the
    // session's resolver (case-insensitive by default) and reject
    // ambiguity instead of silently picking the first duplicate —
    // e.g. post-join frames can carry two attributes named "id".
    val resolver = spark.sessionState.conf.resolver
    def attr(name: String): Attribute =
      analyzed.output.filter(a => resolver(a.name, name)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column $name not in ${analyzed.output.map(_.name)}")
        case many => throw new IllegalArgumentException(
          s"column $name is ambiguous: matches ${many.map(_.qualifiedName)}")
      }
    // The exec detects group boundaries by UnsafeRow BINARY equality on
    // the projected keys, and the analyzer's NormalizeFloatingNumbers
    // rule doesn't know this custom node — so normalize float/double
    // keys here (0.0 ≡ -0.0, canonical NaN), keeping both the hash
    // partitioning and the boundary check consistent with the window
    // row_number() contract this operator mirrors.
    val group: Seq[Expression] = groupCols.map(c =>
      org.apache.spark.sql.GraftPlanShim.normalizeFloatingNumbers(attr(c)))
    val order: Seq[SortOrder] = orderCols.map { c =>
      org.apache.spark.sql.GraftPlanShim.expressionOf(c) match {
        case s: SortOrder => s.copy(child = resolve(s.child, attr))
        case e => SortOrder(resolve(e, attr), org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    val node = TopKPerGroup(group, order, k, TopKPerGroup.rankAttribute(rankName), analyzed)
    org.apache.spark.sql.GraftPlanShim.ofRows(spark, node)
  }

  /** Bind unresolved attribute names in an order expression to the
    * child's output attributes.
    */
  private def resolve(e: Expression, attr: String => Attribute): Expression =
    e.transform {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => attr(u.name)
    }
}
