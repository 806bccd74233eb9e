package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native form of `size(TextAnalysis.tokens(text))`: the token COUNT
  * without materializing the token array. The HOF formulation runs a
  * regex split (one `java.util.regex` pass + an ArrayData of UTF8String
  * slices per row) and then filters and counts it; count-only consumers
  * (token accounting, packing lengths, quality length scores) pay that
  * allocation for a single integer. Here the count is one byte scan over
  * the LOWERCASED string: a token is a maximal run of ASCII `[a-z0-9]`
  * bytes, which after `UTF8String.toLowerCase` is exactly the set of
  * code points the `[^a-z0-9]+` split-regex preserves (multi-byte UTF-8
  * is ≥ 0x80, never in-class; Unicode chars that LOWERCASE into ASCII —
  * e.g. the Kelvin sign → `k` — are handled by lowercasing first, same
  * as the `lower()` the regex form and the DuckDB oracle apply).
  *
  * Value-identical to `size(tokens(text))` (asserted in TextOpsSpec over
  * edge and random inputs including the Kelvin sign, plus an exact
  * sum-parity check over 17M corpus rows in ScaleProbe — the HOF form
  * stays the oracle formulation); codegen'd like [[Hash60]]. Measured
  * 2.0× faster warm on the 32×/64×-replicated sf0.1 corpus scan
  * (ScaleProbe `tokcount` family). */
case class TokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"token_count expects STRING, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    TokenCount.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenCount.count($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

object TokenCount {

  /** Number of maximal `[a-z0-9]` runs in the lowercased string. */
  def count(s: UTF8String): Int = count(s.toLowerCase.getBytes)

  /** Number of maximal `[a-z0-9]` runs in already lowercased bytes. */
  def count(b: Array[Byte]): Int = {
    var n = 0
    var in = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      val alnum = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (alnum && !in) n += 1
      in = alnum
      i += 1
    }
    n
  }

  def tokenCount(c: Column): Column = Bridge.column(TokenCount(Bridge.expression(c)))
}
