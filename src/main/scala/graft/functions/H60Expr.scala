package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** `h60(str)` — the catalog's portable 60-bit hash as ONE native
  * expression. Bit-identical to the declarative chain
  *
  *   conv(substring(md5(s), 1, 15), 16, 10) CAST long
  *
  * (≡ DuckDB `CAST('0x' || SUBSTRING(MD5(s),1,15) AS BIGINT)`): the
  * first 15 hex characters of an md5 are the digest's top 60 bits, so
  * the value is simply (first 8 digest bytes as big-endian u64) >>> 4 —
  * no hex string is ever materialized, nothing is substring'd, nothing
  * is radix-parsed. The declarative chain allocates the 32-char hex
  * string and walks it twice per row; on shingle/token streams the hash
  * runs millions of times per partition, which is why this is an
  * Expression and not a cleanup.
  *
  * Stays inside whole-stage codegen via a static-helper call (the
  * ShinglesExpr pattern); the MD5 MessageDigest is thread-local — one
  * instance per task thread, reset per row, never shared.
  */
case class H60Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "h60"

  override protected def nullSafeEval(input: Any): Any =
    H60Expr.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.H60Expr.hash($s);")

  override protected def withNewChildInternal(newChild: Expression): H60Expr =
    copy(child = newChild)
}

object H60Expr {

  /** Column wrapper (the GraftPlanShim round-trip) — the ONE definition
    * every call site delegates to; previously five verbatim copies.
    */
  def column(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftPlanShim.columnOf(
      H60Expr(org.apache.spark.sql.GraftPlanShim.expressionOf(c)))

  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** The digest's 16 bytes, reused per thread like the digest itself:
    * SimHash hashes every token occurrence, so one array per call was
    * one allocation per token.
    */
  private val out = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](16))

  def hash(s: UTF8String): Long = {
    val d = md.get()
    val digest = out.get()
    d.reset()
    d.update(s.getBytes)
    d.digest(digest, 0, 16)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xFFL); i += 1 }
    v >>> 4
  }
}
