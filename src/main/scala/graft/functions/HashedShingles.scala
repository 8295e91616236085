package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DISTINCT hashed word shingles of a token array in one native pass:
  * each width-5 shingle hashed to a 16-hex-char md5 prefix, de-duplicated
  * locally. Replaces `array_distinct(transform(shingles(...), md5...))`
  * (interpreted higher-order functions — the measured cost of the
  * Jaccard candidate mining). Bit-identical to the DuckDB oracle's
  * `DISTINCT substr(md5(shingle), 1, 16)`. */
case class HashedShingles(child: Expression, shingleWidth: Int)
    extends TokenArrayFunction("hashed_shingles") with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val hexChars = "0123456789abcdef".toCharArray
  @transient private lazy val digest: MessageDigest =
    MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    // null elements are skipped (split() never yields them; SQL
    // callers may pass containsNull arrays)
    val words = (0 until toks.numElements())
      .filterNot(toks.isNullAt).map(toks.getUTF8String(_).toString).toArray
    val n = words.length
    val nShingles = math.max(n - (shingleWidth - 1), 1)
    // insertion-ordered distinct == array_distinct semantics
    val seen = new java.util.LinkedHashSet[String]()
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
      val out = new Array[Char](16)
      var i = 0
      while (i < 8) {
        out(2 * i) = hexChars((dg(i) >> 4) & 0xf)
        out(2 * i + 1) = hexChars(dg(i) & 0xf)
        i += 1
      }
      seen.add(new String(out))
      p += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedShingles {
  def apply(tokens: Column, width: Int = 5): Column =
    GraftBridge.column(HashedShingles(GraftBridge.expression(tokens), width))
}
