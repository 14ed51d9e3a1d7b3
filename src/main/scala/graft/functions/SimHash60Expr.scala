package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** `simhash60(words)` — the whole per-row SimHash pipeline as ONE native
  * expression: per-token h60, 60 ±1 bit votes over every token
  * OCCURRENCE (multiset, no dedup — repetition is signal for SimHash),
  * majority bits packed into a long.
  *
  * Value-identical to the previous `TextOps.simhashOf` formulation
  *
  *   explode(words) → h60(token) → groupBy(doc_id)
  *     .agg(60 × SUM(CASE (h >> b) & 1 WHEN 1 THEN 1 ELSE -1))
  *   → Σ CASE v_b > 0 THEN 1 << b
  *
  * with the structural saving that a document's signature depends only
  * on its own tokens: the explode row-multiplication, the 60-column
  * partial aggregate, and the docs×60-long exchange all disappear — the
  * signature is computed in one codegen'd static call per row, votes in
  * a 60-int stack array, each token hashed exactly once. (The groupBy
  * form was itself the tuned variant — VERDICT r06 records the per-bit
  * unnest it replaced — this removes the remaining shuffle entirely.)
  *
  * Tie semantics match bit-for-bit: a zero vote sum leaves the bit
  * unset (`v > 0`, strictly). Null/empty word arrays yield NULL, the
  * per-row analog of explode dropping those rows — callers that need
  * the old "absent row" shape filter `isNotNull`. A duplicated doc_id
  * is NOT merged (the groupBy form summed votes across rows); every
  * caller feeds one-row-per-document frames (the `corpusClean`
  * contract), as the parity spec pins on the real corpus.
  *
  * Mirrors the reference's intent at Main.py's dedup seam (corpus-level
  * near-dup detection) re-expressed Spark-first; parity with the
  * declarative chain is pinned in SimHashSpec.
  */
case class SimHash60Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override protected def nullSafeEval(input: Any): Any =
    SimHash60Expr.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w => {
      // compute() returns null for empty arrays; propagate as expression
      // nullability (nullSafeCodeGen only handles a null CHILD).
      s"""
         |java.lang.Long ${ev.value}Boxed = graft.functions.SimHash60Expr.compute($w);
         |${ev.isNull} = (${ev.value}Boxed == null);
         |${ev.value} = ${ev.isNull} ? -1L : ${ev.value}Boxed.longValue();
       """.stripMargin
    })

  override def nullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): SimHash60Expr =
    copy(child = newChild)
}

object SimHash60Expr {

  /** Column wrapper (the GraftPlanShim round-trip), same pattern as
    * [[H60Expr.column]].
    */
  def column(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftPlanShim.columnOf(
      SimHash60Expr(org.apache.spark.sql.GraftPlanShim.expressionOf(c)))

  /** One pass over the token array: hash each occurrence once, fold the
    * 60 bit votes, pack the majority. Returns null when there are no
    * tokens (explode-drop parity).
    */
  def compute(words: ArrayData): java.lang.Long = {
    val m = words.numElements()
    if (m == 0) return null
    val votes = new Array[Int](60)
    var i = 0
    while (i < m) {
      val h = H60Expr.hash(words.getUTF8String(i))
      var b = 0
      while (b < 60) {
        // +1 for a set bit, -1 for a clear one, without a branch: the
        // bits are random, so a branch mispredicts half the time
        votes(b) += (((h >>> b) & 1L).toInt << 1) - 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }
}
