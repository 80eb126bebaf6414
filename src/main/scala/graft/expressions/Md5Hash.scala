package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared md5 helpers for [[Hash60]]/[[Hash56]] — also called directly
  * from generated code (static forwarders), so the codegen'd form and the
  * interpreted form are the same bytes-in, long-out function.
  *
  * Value contract (load-bearing for every oracle in this repo):
  *   hash60(s) = CAST(CONV(SUBSTRING(MD5(s),1,15),16,10) AS BIGINT)
  *             = first 60 bits of md5  = BE64(digest[0..7]) >>> 4
  *   hash56(s) = CAST(CONV(SUBSTRING(MD5(s),16,14),16,10) AS BIGINT)
  *             = hex chars 16..29      = BE56(digest[8..14])
  * i.e. bit-identical to the composed built-in chain and to the DuckDB
  * `CAST('0x' || substr(md5(s),…) AS BIGINT)` oracle forms — but with no
  * hex-string materialization and no base-16 reparse per value.
  */
object Md5Hashes {

  private val md = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** The thread-local digest, reset. */
  private def fresh(): MessageDigest = {
    val m = md.get()
    m.reset()
    m
  }

  /** The 16-byte md5 digest of raw bytes via the thread-local digest. */
  def digest(b: Array[Byte]): Array[Byte] = fresh().digest(b)

  def hash60(s: UTF8String): Long = hash60Bytes(s.getBytes)

  /** hash60 over raw bytes — the executor-side twin for per-row JVM
    * code (ShardSink's tokenizer): same value as hash60(UTF8String of
    * the same bytes), no UTF8String wrapper allocation.
    */
  def hash60Bytes(b: Array[Byte]): Long = {
    val d = digest(b)
    val be64 =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    be64 >>> 4
  }

  /** (hash60, hash56) of the same bytes from ONE digest — both values
    * are slices of the same 16-byte md5 (bytes 0..7 and 7..14), so a
    * caller needing the pair (MediaGen.seeds: once per ROW in every
    * media query) must not pay two full digest passes for it. Values
    * pinned equal to (hash60Bytes, hash56Bytes) in ShardSinkSpec.
    */
  def hash60And56Bytes(b: Array[Byte]): (Long, Long) = {
    val d = digest(b)
    val hi =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    val lo =
      ((d(7) & 0xffL) << 56) | ((d(8) & 0xffL) << 48) | ((d(9) & 0xffL) << 40) |
        ((d(10) & 0xffL) << 32) | ((d(11) & 0xffL) << 24) | ((d(12) & 0xffL) << 16) |
        ((d(13) & 0xffL) << 8) | (d(14) & 0xffL)
    (hi >>> 4, (lo >>> 4) & ((1L << 56) - 1))
  }

  /** hash56 over raw bytes — the byte-side twin of [[hash56]] (hex
    * chars 16..29 of md5 as a long), for per-row JVM callers.
    */
  def hash56Bytes(b: Array[Byte]): Long = {
    val d = digest(b)
    // hex chars 16..29 (1-indexed) = 0-indexed nibbles 15..28: the LOW
    // nibble of byte 7 through the HIGH nibble of byte 14
    val be64 =
      ((d(7) & 0xffL) << 56) | ((d(8) & 0xffL) << 48) | ((d(9) & 0xffL) << 40) |
        ((d(10) & 0xffL) << 32) | ((d(11) & 0xffL) << 24) | ((d(12) & 0xffL) << 16) |
        ((d(13) & 0xffL) << 8) | (d(14) & 0xffL)
    (be64 >>> 4) & ((1L << 56) - 1)
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Lower-case hex of `b` — the `%02x`-per-byte spelling without the
    * per-byte format/boxing (hot decode loops call this per row).
    */
  def hexLower(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      out(2 * i) = hexChars(v >>> 4)
      out(2 * i + 1) = hexChars(v & 0xf)
      i += 1
    }
    new String(out)
  }

  /** md5 hex digest of raw bytes via the thread-local digest — the
    * `MessageDigest.getInstance("MD5").digest(x).map("%02x"...)` hot-path
    * replacement (same string, one digest instance per thread).
    */
  def md5Hex(b: Array[Byte]): String = hexLower(digest(b))

  /** md5 hex digest of `s`'s UTF-8 bytes. */
  def md5Hex(s: String): String = md5Hex(s.getBytes("UTF-8"))

  /** md5 hex digest of the concatenation of `parts`, without building it. */
  def md5HexOfParts(parts: Iterator[Array[Byte]]): String = {
    val m = fresh()
    parts.foreach(p => m.update(p))
    hexLower(m.digest())
  }

  def hash56(s: UTF8String): Long = hash56Bytes(s.getBytes)
}

/** Native codegen'd 60-bit md5 hash (SURVEY.md §2.10 scalar extension
  * point: custom Catalyst `Expression` over UDF). Null-safe unary; whole-
  * stage codegen emits a direct static call — no UDF serialization
  * boundary, no interpreted island in the MinHash/SimHash hot path.
  */
case class Hash60(child: Expression) extends UnaryExpression {
  // child is always cast to string by the graft.functions wrapper
  override def dataType: DataType = LongType
  override def prettyName: String = "hash60"
  override protected def nullSafeEval(input: Any): Any =
    Md5Hashes.hash60(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Md5Hashes.hash60($c)")
  override protected def withNewChildInternal(newChild: Expression): Hash60 =
    copy(child = newChild)
}

/** Native codegen'd 56-bit companion hash (md5 hex chars 16..29) — the
  * second Kirsch–Mitzenmacher hash from the SAME digest.
  */
case class Hash56(child: Expression) extends UnaryExpression {
  // child is always cast to string by the graft.functions wrapper
  override def dataType: DataType = LongType
  override def prettyName: String = "hash56"
  override protected def nullSafeEval(input: Any): Any =
    Md5Hashes.hash56(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Md5Hashes.hash56($c)")
  override protected def withNewChildInternal(newChild: Expression): Hash56 =
    copy(child = newChild)
}
