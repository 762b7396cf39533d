package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the engine's portable 32-bit base hash —
  * the first 4 bytes of md5(input) as an unsigned BIGINT.
  *
  * Semantics (bit-identical to the composed form it replaces and to the
  * DuckDB oracle spelling `CAST('0x' || substring(md5(e),1,8) AS BIGINT)`):
  * md5 hex is the digest bytes in order, two lowercase hex chars per
  * byte, so the first 8 hex chars ARE digest bytes 0..3, and
  * `conv(hex, 16, 10)` of them is the unsigned 32-bit big-endian value
  * `(d0<<24)|(d1<<16)|(d2<<8)|d3`. This kernel computes that value
  * straight from the digest.
  *
  * The composed spelling `conv(substring(md5(c),1,8),16,10).cast(long)`
  * pays, per call: a 32-char hex UTF8String allocation, a substring
  * slice, `conv`'s base-16 parse into ANOTHER decimal UTF8String, and a
  * final string→long cast parse. h32 underlies MinHash shingle hashing,
  * the eval-tier sampling predicates, the bootstrap resample weights and
  * every fingerprint in the dedup ladder — tens of millions of calls per
  * suite run — so the four string round-trips are pure per-task waste
  * (guide §1.2 step 2: per-task work, distributed shape untouched).
  */
case class H32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "h32"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    H32.hash(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.plans.H32.hash($s);")

  override protected def withNewChildInternal(newChild: Expression): H32 =
    copy(child = newChild)
}

/** The 60-bit sibling of [[H32]]: first 15 md5 hex chars as unsigned
  * BIGINT — `conv(substring(md5(c),1,15),16,10).cast(long)` fused the
  * same way (7 digest bytes plus the high nibble of the 8th). The
  * substring-fingerprint tier's position/store hash. */
case class H60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "h60"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${other.simpleString}")
    }
  override def nullSafeEval(input: Any): Any =
    H32.hash60(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.plans.H32.hash60($s);")
  override protected def withNewChildInternal(newChild: Expression): H60 =
    copy(child = newChild)
}

object H32 {
  val info: ExpressionInfo = new ExpressionInfo(classOf[H32].getName, "h32")

  // One MessageDigest per thread: getInstance per row would dominate the
  // hash itself; MD5 instances are not thread-safe, and in local mode
  // many tasks share the JVM. reset() + digest() reuses the instance.
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private def digest(s: UTF8String): Array[Byte] = {
    val d = md.get()
    d.reset()
    d.digest(s.getBytes)
  }

  /** First 4 md5 digest bytes of the UTF-8 bytes, as unsigned BIGINT. */
  def hash(s: UTF8String): Long = {
    val out = digest(s)
    ((out(0) & 0xffL) << 24) | ((out(1) & 0xffL) << 16) |
      ((out(2) & 0xffL) << 8) | (out(3) & 0xffL)
  }

  /** First 15 md5 hex chars (7 bytes + the 8th byte's high nibble) of
    * the UTF-8 bytes, as unsigned BIGINT — the [[H60]] value. */
  def hash60(s: UTF8String): Long = {
    val out = digest(s)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (out(i) & 0xffL); i += 1 }
    (v << 4) | ((out(7) & 0xffL) >>> 4)
  }
}
