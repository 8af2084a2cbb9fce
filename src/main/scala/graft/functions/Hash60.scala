package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `hash60(x)` — the top 60 bits of the md5 digest of `x` (the UTF-8
  * bytes of a string, or the raw bytes of a binary) as a non-negative
  * long — as a NATIVE CODEGEN'D Catalyst expression.
  *
  * This is the engine's one content hash ([[graft.dedup.Hashing.hash60]]):
  * universe-sample keep predicates, MinHash shingle hashes, bucket and
  * split assignment. The built-in spelling
  * `conv(substring(md5(x), 1, 15), 16, 10).cast("long")` computes the same
  * value through a 32-char hex string, a substring and a base-16 parse per
  * row; the first 15 hex digits of md5 are exactly the top 60 bits of the
  * digest's first 8 bytes, so this kernel reads them off the digest
  * ([[Hash60.top60]]) and the DuckDB oracle text
  * ([[graft.dedup.Hashing.hash60Sql]]) does not change.
  *
  * Generated code holds one `MessageDigest` per generated-class instance
  * (one per task); the interpreted path (e.g. inside a `transform`
  * lambda) uses one per thread. Null in, null out.
  *
  * Registered as SQL function `hash60` through
  * [[graft.plans.GraftExtensions]] (`injectFunction`), and
  * self-registering through [[Hash60.hash60]] like
  * [[WordShingles.wordShingles]].
  */
case class Hash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string or binary input, got ${t.sql}")
  }

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "hash60"

  override protected def nullSafeEval(x: Any): Any = x match {
    case s: UTF8String => Hash60.ofUtf8(Hash60.digest.get, s)
    case b: Array[Byte] => Hash60.ofBytes(Hash60.digest.get, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState(classOf[MessageDigest].getName, "md5",
      v => s"$v = graft.functions.Hash60.newDigest();")
    val of = if (child.dataType == BinaryType) "ofBytes" else "ofUtf8"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.Hash60.$of($md, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Hash60 {

  /** The top 60 bits of an md5 digest: its first 8 bytes, big-endian,
    * shifted right by 4 — the first 15 hex digits of `md5(x)` read in base
    * 16. Shared by the kernel and the driver-side
    * [[graft.dedup.Hashing.hash60(s:String)*]].
    */
  def top60(d: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  def newDigest(): MessageDigest = MessageDigest.getInstance("MD5")

  /** One digest per thread for the interpreted path and the driver. */
  private[graft] val digest: ThreadLocal[MessageDigest] = ThreadLocal.withInitial(() => newDigest())

  def ofBytes(md: MessageDigest, b: Array[Byte]): Long = top60(md.digest(b))

  /** Hashes the string's UTF-8 bytes in place when they live in a heap
    * array (the common case), copying them out only otherwise.
    */
  def ofUtf8(md: MessageDigest, s: UTF8String): Long = s.getBaseObject match {
    case a: Array[Byte] =>
      md.update(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      top60(md.digest())
    case _ => ofBytes(md, s.getBytes)
  }

  /** Registration descriptor for `SparkSessionExtensions.injectFunction`. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("hash60"),
    new ExpressionInfo(classOf[Hash60].getName, "hash60"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "hash60 takes exactly 1 argument")
      Hash60(children.head)
    })

  /** Column-API entry point — self-registers in the active session like
    * [[WordShingles.wordShingles]].
    */
  def hash60(x: Column): Column = {
    val registry = org.apache.spark.sql.SparkSession.active.sessionState.functionRegistry
    val (ident, info, builder) = descriptor
    if (!registry.functionExists(ident)) registry.registerFunction(ident, info, builder)
    call_function("hash60", x)
  }
}
