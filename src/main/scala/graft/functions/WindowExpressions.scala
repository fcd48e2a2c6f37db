package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row token-window / token-gram expansions — the native
  * replacements for the interpreted `transform(sequence(...), i ->
  * ...slice...)` higher-order-function compositions that dominated the
  * substring-dedup and CMS hot paths (r21 measurement; the
  * [[MinHashSignature]] precedent).
  *
  * Why: Catalyst evaluates higher-order functions INTERPRETED — every
  * window/gram pays boxed lambda invocation, a fresh `slice` array
  * allocation, and a `concat_ws` string rebuild; with `md5` inside the
  * lambda ([[graft.operators.SubstringDedup.windowRel]]) the digest's
  * expression tree is also re-evaluated interpreted per window. At
  * 100 TB these passes run per TOKEN of the corpus, so constant factors
  * here are corpus-sized CPU. The fused forms tokenize once, build one
  * normalized byte buffer, and hash byte RANGES of it — zero per-window
  * string or array churn.
  *
  * Exact parity contract (these feed oracle-pinned md5 hashes, so the
  * bytes must match the composable forms bit-for-bit — spec-pinned in
  * WindowExpressionsSpec):
  *  - tokenization replays Spark's `split(trim(text), "\\s+")`:
  *    [[UTF8String.trim]] (ASCII 0x20 only — NOT Java's `String.trim`,
  *    which also strips control chars) and Java-regex split with
  *    limit -1 (Spark keeps trailing empty tokens; Java's default limit
  *    0 drops them);
  *  - a window/gram's hashed/emitted string is the space-joined token
  *    slice, exactly `concat_ws(" ", slice(w, i, k))`.
  *
  * CodegenFallback is deliberate, as for [[MinHashSignature]]: all the
  * work is in the hand-written loop; whole-stage codegen granularity
  * buys nothing inside it.
  */
object TokenWindowing {

  /** Spark-parity tokens of `text`: trim 0x20 only, split "\\s+" with
    * limit -1. */
  def sparkTokens(text: UTF8String): Array[String] =
    text.trim().toString.split("\\s+", -1)

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex of a digest — what Spark's `md5` emits. */
  def hex(dig: Array[Byte]): UTF8String = {
    val out = new Array[Byte](dig.length * 2)
    var i = 0
    while (i < dig.length) {
      out(2 * i) = HexDigits((dig(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexDigits(dig(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** One space-joined byte buffer over `tokens` plus each token's
    * [start, end) byte offsets — window i..j's joined form is exactly
    * buf[starts(i), ends(j)), so hashing needs no per-window string. */
  def joinedBuffer(tokens: Array[String]): (Array[Byte], Array[Int], Array[Int]) = {
    val t = tokens.length
    val bytes = new Array[Array[Byte]](t)
    var total = 0
    var i = 0
    while (i < t) {
      bytes(i) = tokens(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      total += bytes(i).length
      i += 1
    }
    val buf = new Array[Byte](total + math.max(t - 1, 0))
    val starts = new Array[Int](t)
    val ends = new Array[Int](t)
    var off = 0
    i = 0
    while (i < t) {
      if (i > 0) { buf(off) = ' '; off += 1 }
      starts(i) = off
      System.arraycopy(bytes(i), 0, buf, off, bytes(i).length)
      off += bytes(i).length
      ends(i) = off
      i += 1
    }
    (buf, starts, ends)
  }
}

/** `token_windows(text, k)`: every overlapping k-token window as
  * struct(pos BIGINT 1-based, wh STRING = md5 hex of the space-joined
  * window); empty array below k tokens (the caller's `size >= k` gate,
  * folded in). Fused form of [[graft.operators.SubstringDedup
  * .windowRel]]'s transform. */
case class TokenWindows(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 2, s"window length must be >= 2 tokens, got $k")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", LongType, nullable = false),
      StructField("wh", StringType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"token_windows expects string, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any = {
    val tokens = TokenWindowing.sparkTokens(input.asInstanceOf[UTF8String])
    val t = tokens.length
    if (t < k) return new GenericArrayData(Array.empty[Any])
    val (buf, starts, ends) = TokenWindowing.joinedBuffer(tokens)
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = t - k + 1
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(buf, starts(i), ends(i + k - 1) - starts(i))
      out(i) = new GenericInternalRow(Array[Any]((i + 1).toLong,
        TokenWindowing.hex(md.digest())))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `token_grams(text, n)`: ALL n-gram occurrences (multiset, document
  * order), with the short-document collapse `greatest(count, 1)` — a
  * document under n tokens emits its whole (shorter) token run as one
  * gram, exactly like `slice`'s end-truncation. Fused form of
  * [[graft.operators.HeavyHitters]]' gramOcc transform. */
case class TokenGrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"gram length must be >= 1 token, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"token_grams expects string, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any = {
    val tokens = TokenWindowing.sparkTokens(input.asInstanceOf[UTF8String])
    val t = tokens.length
    val cnt = math.max(t - n + 1, 1)
    val (buf, starts, ends) = TokenWindowing.joinedBuffer(tokens)
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) {
      val last = math.min(i + n, t) - 1
      out(i) = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(buf, starts(i), ends(last)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenWindowFns {
  import org.apache.spark.sql.graftbridge.Bridge

  def tokenWindows(text: Column, k: Int): Column =
    Bridge.column(TokenWindows(Bridge.expression(text), k))

  def tokenGrams(text: Column, n: Int): Column =
    Bridge.column(TokenGrams(Bridge.expression(text), n))
}
