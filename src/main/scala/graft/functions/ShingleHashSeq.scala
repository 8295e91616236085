package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** POSITIONED hashed word shingles: one 16-hex-char md5 prefix per
  * shingle start position, in order, duplicates KEPT — the sibling of
  * [[HashedShingles]] (which de-duplicates) for operators that need
  * every occurrence, not the set: exact substring-span dedup counts
  * how many of a document's sliding windows also appear elsewhere, so
  * a window repeated within one document must stay one row per
  * position. Same single native pass (the interpreted
  * `transform(sequence(...), md5 ...)` chain re-evaluates its lambda
  * per position), bit-identical to the DuckDB oracle's
  * `substr(md5(array_to_string(words[i:i+k-1], ' ')), 1, 16)`.
  */
case class ShingleHashSeq(child: Expression, shingleWidth: Int)
    extends TokenArrayFunction("shingle_hash_seq") with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val hexChars = "0123456789abcdef".toCharArray
  @transient private lazy val digest: MessageDigest =
    MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val words = (0 until toks.numElements())
      .filterNot(toks.isNullAt).map(toks.getUTF8String(_).toString).toArray
    val n = words.length
    // texts shorter than the window yield ONE whole-text shingle —
    // the same convention as HashedShingles / the shingleFromTokSql CTE
    val nShingles = math.max(n - (shingleWidth - 1), 1)
    val out = new Array[Any](nShingles)
    val sb = new java.lang.StringBuilder(64)
    var p = 0
    while (p < nShingles) {
      sb.setLength(0)
      val end = math.min(p + shingleWidth, n)
      var j = p
      while (j < end) {
        if (j > p) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      digest.reset()
      val dg = digest.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](16)
      var i = 0
      while (i < 8) {
        hex(2 * i) = hexChars((dg(i) >> 4) & 0xf)
        hex(2 * i + 1) = hexChars(dg(i) & 0xf)
        i += 1
      }
      out(p) = UTF8String.fromString(new String(hex))
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashSeq {
  def apply(tokens: Column, width: Int): Column =
    GraftBridge.column(ShingleHashSeq(GraftBridge.expression(tokens), width))
}
