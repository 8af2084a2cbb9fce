package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-group regex extraction in ONE match —
  * `regex_groups(str, regex, "g1,g2,…")` returns
  * `[group(g1), group(g2), …]` of the FIRST match of `regex` in `str`
  * (the `Matcher.find` convention `regexp_extract` uses), or an EMPTY
  * array when the string does not match.
  *
  * Why a kernel (guide §1.2 per-task work, r18): extracting N fields of
  * one line with N `regexp_extract` calls runs the full regex N times per
  * row — the CLF access-log parse ([[graft.sources.AccessLog.parse]])
  * paid 5 anchored-regex matches per line across the entire log-analysis
  * family. One match, N group reads is the same answer at 1/N of the
  * regex cost.
  *
  * Semantics match `regexp_extract` exactly: a group that matched nothing
  * (null group) yields "" — the only shape difference is that a
  * NON-matching string yields an empty ARRAY where N separate
  * `regexp_extract` calls yield N ""s; callers use `size(...) = N` as
  * their matched-line filter (the CLF parse's malformed-line drop).
  *
  * `regex` and the group list are foldable string literals — the compiled
  * Pattern is built once per executor ([[RegexGroups.compute]]'s lazy),
  * not per row.
  */
case class RegexGroups(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, StringType, StringType)
          if second.foldable && third.foldable =>
        argumentError.fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(
          TypeCheckResult.TypeCheckFailure(_))
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (string, foldable string regex, foldable " +
            s"string group list), got " +
            Seq(first, second, third).map(_.dataType.sql).mkString(", "))
    }

  /** What is wrong with the literal regex or group list, checked once at
    * analysis so a bad argument never fails per row mid-job: the regex
    * must compile and every list entry must be an integer in
    * `0..groupCount`. A null literal passes — it yields null rows, like
    * any null argument.
    */
  private def argumentError: Option[String] =
    (second.eval(null), third.eval(null)) match {
      case (null, _) | (_, null) => None
      case (regex, list) =>
        scala.util.Try(java.util.regex.Pattern.compile(regex.toString)).toEither match {
          case Left(e) => Some(s"$prettyName: invalid regex '$regex': ${e.getMessage}")
          case Right(p) =>
            val groupCount = p.matcher("").groupCount()
            list.toString.split(",").map(_.trim).collectFirst {
              case g if g.toIntOption.isEmpty =>
                s"$prettyName: group list entry '$g' is not an integer"
              case g if g.toInt < 0 || g.toInt > groupCount =>
                s"$prettyName: group index $g is outside 0..$groupCount of regex '$regex'"
            }
        }
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "regex_groups"

  @transient private lazy val pattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      second.eval(null).asInstanceOf[UTF8String].toString)

  @transient private lazy val groups: Array[Int] =
    third.eval(null).asInstanceOf[UTF8String].toString
      .split(",").map(_.trim.toInt)

  /** One compiled match, N group reads. */
  def compute(s: UTF8String): ArrayData = {
    val m = pattern.matcher(s.toString)
    if (!m.find()) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](groups.length)
    var i = 0
    while (i < groups.length) {
      val g = m.group(groups(i))
      out(i) = if (g == null) UTF8String.EMPTY_UTF8 else UTF8String.fromString(g)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(s: Any, r: Any, g: Any): Any =
    compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = ctx.addReferenceObj("regexGroups", this, classOf[RegexGroups].getName)
    nullSafeCodeGen(ctx, ev, (s, _, _) => s"${ev.value} = $obj.compute($s);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object RegexGroups {

  /** Registration descriptor for `SparkSessionExtensions.injectFunction`. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("regex_groups"),
    new ExpressionInfo(classOf[RegexGroups].getName, "regex_groups"),
    (children: Seq[Expression]) => {
      require(children.size == 3, "regex_groups takes exactly 3 arguments")
      RegexGroups(children(0), children(1), children(2))
    })

  /** Column-API entry point — self-registers in the active session like
    * [[GramHashes.gramHashes]].
    */
  def regexGroups(str: Column, regex: String, groups: Seq[Int]): Column = {
    val registry = org.apache.spark.sql.SparkSession.active.sessionState.functionRegistry
    val (ident, info, builder) = descriptor
    if (!registry.functionExists(ident)) registry.registerFunction(ident, info, builder)
    call_function("regex_groups", str, lit(regex), lit(groups.mkString(",")))
  }
}
