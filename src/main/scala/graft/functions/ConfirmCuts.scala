package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Verbatim confirmation of candidate excision positions —
  * `confirm_cuts(text, positions, keeper_grams)` keeps `positions[i]`
  * (1-based character position) iff the [[GramHashes.GramLen]]-char gram
  * of `text` starting there EQUALS `keeper_grams[i]` character for
  * character — the exactness step of [[graft.dedup.SubstringDedup]]
  * (VERDICT r16 item 1): a 40-bit gram-hash collision nominates a
  * position whose bytes do NOT match the keeper's copy, and this kernel
  * refuses the cut, making excision exact at any corpus size (hash
  * collisions can now only cause a MISSED cut when the collision wins
  * the keeper-gram slot, never a false excision of real content — the
  * safe side of the trade; Lee et al.'s suffix array has neither).
  *
  * Comparison is over decoded code points (one [[Utf8Codes]] pass for
  * the document, one per 40-char keeper gram) — equivalent to byte
  * equality on valid UTF-8, and consistent with every other position/
  * length computation in the family (all code-point-based, like Spark's
  * own `substring`). A compiled kernel rather than a
  * `filter(..., c -> substring(text, c.pos, K) == c.kg)` HOF for the
  * same reason as [[graft.functions.BloomFilter.cutPositions]]: the r16
  * bisect measured interpreted per-position lambdas at ~20× the compiled
  * pass, and `substring` re-seeks UTF-8 from the string head (O(pos)
  * per candidate — quadratic per doc) where the single decode is O(n).
  *
  * Output: the confirmed subset of `positions`, in input order. Each
  * position is decided alone, so the result does not depend on that
  * order; callers pass unordered candidates and the island merge
  * ([[graft.dedup.SubstringDedup]]'s `spansFromCut`) does the sort.
  * Positions out of range and grams of the wrong length confirm nothing.
  */
case class ConfirmCuts(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, ArrayType(LongType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (string, array<bigint>, array<string>), got " +
            Seq(a, b, c).map(_.sql).mkString(", "))
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "confirm_cuts"

  override protected def nullSafeEval(s: Any, pos: Any, kgs: Any): Any =
    ConfirmCuts.compute(
      s.asInstanceOf[UTF8String],
      pos.asInstanceOf[ArrayData],
      kgs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = ctx.addReferenceObj("confirmCuts", ConfirmCuts, ConfirmCuts.getClass.getName)
    nullSafeCodeGen(ctx, ev, (s, p, g) => s"${ev.value} = $obj.compute($s, $p, $g);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ConfirmCuts {

  private val K = GramHashes.GramLen

  /** One decode of the document, one bounded (K-char) decode + compare per
    * candidate: O(n + c·K) total.
    */
  def compute(s: UTF8String, pos: ArrayData, kgs: ArrayData): ArrayData = {
    val (codes, n) = Utf8Codes.decode(s)
    val c = pos.numElements()
    if (c == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val out = new Array[Long](c)
    var m = 0
    var i = 0
    while (i < c) {
      val p = pos.getLong(i)
      if (p >= 1L && p + K - 1 <= n && !kgs.isNullAt(i)) {
        val (kc, kn) = Utf8Codes.decode(kgs.getUTF8String(i))
        if (kn == K) {
          val off = p.toInt - 1
          var j = 0
          var same = true
          while (same && j < K) {
            same = codes(off + j) == kc(j)
            j += 1
          }
          if (same) { out(m) = p; m += 1 }
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == c) out else java.util.Arrays.copyOf(out, m))
  }

  /** Registration descriptor for `SparkSessionExtensions.injectFunction`. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("confirm_cuts"),
    new ExpressionInfo(classOf[ConfirmCuts].getName, "confirm_cuts"),
    (children: Seq[Expression]) => {
      require(children.size == 3, "confirm_cuts takes exactly 3 arguments")
      ConfirmCuts(children(0), children(1), children(2))
    })

  /** Column-API entry point — self-registers in the active session like
    * [[GramHashes.gramHashes]].
    */
  def confirmCuts(text: Column, positions: Column, keeperGrams: Column): Column = {
    val registry = org.apache.spark.sql.SparkSession.active.sessionState.functionRegistry
    val (ident, info, builder) = descriptor
    if (!registry.functionExists(ident)) registry.registerFunction(ident, info, builder)
    call_function("confirm_cuts", text, positions, keeperGrams)
  }
}
