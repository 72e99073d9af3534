package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The minhash chain's per-shingle hash as ONE native pass over a
  * [[TextUdfs.tokenizeCol]] token array: for every 3-token shingle
  * (tokens joined by single spaces, in order, duplicates kept) the first
  * 15 hex digits of its md5 — the top 60 bits of the digest — read as a
  * non-negative long.
  *
  * Semantics are EXACTLY the Column chain the DuckDB oracle mirrors,
  * `explode(TextUdfs.shinglesFromTokens(t))` then
  * `conv(substring(md5(token), 1, 15), 16, 10).cast("long")`, shingle
  * for shingle and in the same order:
  *   - n ≥ 3 tokens give n − 2 shingles;
  *   - fewer than 3 tokens (a null array included) give ONE shingle,
  *     the present tokens joined (`""` when there are none);
  *   - a null element is skipped when joining, as `concat_ws` skips it.
  *
  * Where the chain evaluates an interpreted `transform` lambda, explodes
  * one row per shingle and formats each digest as a hex string before
  * parsing it back, this expression joins the token bytes into one
  * reused buffer and reads the 60 bits straight off the digest.
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires array<string>, got $t")
  }

  def hashes(tokens: ArrayData): GenericArrayData = {
    val n = if (tokens == null) 0 else tokens.numElements()
    val out = new Array[Long](math.max(n - 2, 1))
    val md = ShingleHashes.md5.get()
    var buf = ShingleHashes.buffer.get()
    var i = 0
    while (i < out.length) {
      var len = 0
      var joined = false
      var j = i
      while (j < math.min(i + 3, n)) {
        if (!tokens.isNullAt(j)) {
          val t = tokens.getUTF8String(j)
          val need = len + t.numBytes + 1
          if (need > buf.length) {
            buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
            ShingleHashes.buffer.set(buf)
          }
          if (joined) { buf(len) = ' '; len += 1 }
          joined = true
          t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
          len += t.numBytes
        }
        j += 1
      }
      md.update(buf, 0, len)
      out(i) = ShingleHashes.top60(md.digest())
      i += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any =
    hashes(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingles", this, classOf[ShingleHashes].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $ref.hashes(${c.isNull} ? null : ${c.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  private val md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))
  private val buffer = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](256))

  /** The first 15 hex digits of `digest`: bytes 0-6 and the high nibble
    * of byte 7.
    */
  private def top60(digest: Array[Byte]): Long = {
    var v = 0L
    var b = 0
    while (b < 7) { v = (v << 8) | (digest(b) & 0xffL); b += 1 }
    (v << 4) | ((digest(7) & 0xff) >>> 4)
  }

  def apply(tokens: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      new ShingleHashes(org.apache.spark.sql.graftbridge.Bridge.expression(tokens)))
}
