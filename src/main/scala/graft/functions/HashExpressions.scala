package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd fast paths for the engine's md5-derived 60-bit hash
  * gadget (optimization round 18, guide §1.2 step 2 — per-task work).
  *
  * The portable hash `conv(substring(md5(x), 1, 15), 16, 10)` is the hot
  * expression of every sketch/sample/dedup operator (30 h60 call sites;
  * d42's signature build evaluates the window extraction 32× per shingle
  * row). Measured per call on this machine (2M-row single-thread noop
  * scans): built-in `md5` ≈ 0.28 µs, `conv(substring(...))` adds
  * ≈ 0.47 µs — the generic base-conversion dominates the hash itself.
  * These expressions compute the IDENTICAL values:
  *
  *  - [[Md5Bits60]]: the full gadget from the raw digest bytes — the
  *    first 15 hex digits of md5 are exactly the top 60 bits of the
  *    digest, so it is one thread-local-reused `MessageDigest` call plus
  *    shifts: no hex string, no substring, no string base-parse, no
  *    per-call `MessageDigest.getInstance` lookup (what
  *    `DigestUtils.md5Hex` pays inside the built-in).
  *  - [[HexBits60]]: a 15-nibble window of an EXISTING lowercase-hex
  *    column as a direct parse (d42 materializes 16 digests per shingle
  *    and windows each twice — the digest array stays, only the
  *    conv(substring(...)) extraction is replaced).
  *
  * Equality with the built-in forms is pinned by HashFnsSpec on random
  * inputs and by every hash-grade oracle query downstream (the DuckDB
  * mirror still spells `('0x' || substr(md5(..), 1, 15))::BIGINT`).
  */
object FastHash {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** = conv(substring(md5Hex(s), 1, 15), 16, 10)::long — top 60 bits of
    * the digest: first 8 bytes big-endian, shifted past the low nibble.
    */
  def md5Bits60(s: UTF8String): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes)
    (((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) | ((d(2) & 0xFFL) << 40) |
      ((d(3) & 0xFFL) << 32) | ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)) >>> 4
  }

  private val HexChars = "0123456789abcdef".getBytes

  /** = md5(s) (the built-in's lowercase-hex string), minus the built-in's
    * per-call `MessageDigest.getInstance` lookup and the
    * char[]→String→UTF8 re-encode round-trip: thread-local digest reuse
    * and direct hex-byte emission.
    */
  def md5Hex(s: UTF8String): UTF8String = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes)
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xF)
      out(2 * i + 1) = HexChars(d(i) & 0xF)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** = conv(substring(hex, off, 15), 16, 10)::long for a lowercase hex
    * string and 1-based `off` (off + 14 ≤ length) — 15 nibble parses.
    */
  def hexBits60(s: UTF8String, off: Int): Long = {
    var v = 0L
    var i = off - 1
    val end = i + 15
    while (i < end) {
      val c = s.getByte(i)
      v = (v << 4) | (if (c >= 'a') c - 'a' + 10 else c - '0').toLong
      i += 1
    }
    v
  }
}

/** 60-bit portable hash of a string — see [[FastHash.md5Bits60]]. */
case class Md5Bits60(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_bits60"
  // null exactly when the input is null, so an inferred not-null join
  // filter tests the input, not a second evaluation of the hash
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    FastHash.md5Bits60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FastHash.md5Bits60($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** md5 lowercase-hex — bit-identical to the built-in `md5`, see
  * [[FastHash.md5Hex]].
  */
case class FastMd5(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "fast_md5"
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    FastHash.md5Hex(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FastHash.md5Hex($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 60-bit window at 1-based hex offset `off` of a lowercase-hex string —
  * see [[FastHash.hexBits60]].
  */
case class HexBits60(child: Expression, off: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "hex_bits60"
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    FastHash.hexBits60(input.asInstanceOf[UTF8String], off)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FastHash.hexBits60($c, $off)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-facing API (no registry needed — these are Column builders used
  * from contexts with no SparkSession in scope, bridged directly).
  */
object HashFns {
  def md5Bits60(c: Column): Column =
    ColumnBridge.column(Md5Bits60(ColumnBridge.expression(c)))
  def hexBits60(c: Column, off: Int): Column =
    ColumnBridge.column(HexBits60(ColumnBridge.expression(c), off))
  def fastMd5(c: Column): Column =
    ColumnBridge.column(FastMd5(ColumnBridge.expression(c)))
}
