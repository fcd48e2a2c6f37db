package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Full MinHash signature of a document in ONE fused per-row pass: split
  * on whitespace, build distinct word-3-gram shingles, md5 each shingle
  * once, fold the affine hash family mins into a local long array.
  *
  * Semantically identical to the composable formulation in
  * [[graft.operators.Dedup]] (same shingling, same
  * `h0 = md5[0:15hex] mod P`, same `h_k = (2k+1)h0 + 104729k mod P` —
  * asserted equal in DedupSpec and against the DuckDB oracle), but with
  * zero boxed lambda invocations and zero intermediate column arrays.
  * The interpreted HOF version costs ~16×|shingles| boxed ops + string
  * churn per row and dominated the dedup benchmarks.
  *
  * CodegenFallback is deliberate: the expression is evaluated once per
  * row and all the work is inside this hand-written loop, so whole-stage
  * codegen granularity buys nothing here.
  */
object Shingling {
  /** Distinct word-3-gram shingles in first-occurrence order; documents
    * shorter than 3 words collapse to one whole-text shingle. Identical
    * to the composable `TextFns.shingleSet` definition. */
  def distinctShingles(text: String): java.util.ArrayList[String] = {
    val words = text.trim.split("\\s+")
    val seen = new java.util.LinkedHashSet[String]()
    if (words.length < 3) seen.add(words.mkString(" "))
    else {
      var i = 0
      while (i + 2 < words.length) {
        seen.add(words(i) + " " + words(i + 1) + " " + words(i + 2))
        i += 1
      }
    }
    new java.util.ArrayList[String](seen)
  }
}

/** Fused distinct-shingle-set expression: one pass, no boxed lambdas —
  * the interpreted `split`/`transform`/`concat_ws`/`array_distinct`
  * composition dominated the Jaccard stage's cost. */
case class ShingleSet(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_set expects string, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any = {
    val shingles = Shingling.distinctShingles(input.asInstanceOf[UTF8String].toString)
    val out = new Array[Any](shingles.size())
    var i = 0
    while (i < out.length) { out(i) = UTF8String.fromString(shingles.get(i)); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  private val Prime = 2147483647L // 2^31 - 1

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects string, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any = {
    val shingles = Shingling.distinctShingles(input.asInstanceOf[UTF8String].toString)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var s = 0
    while (s < shingles.size()) {
      md.reset()
      val dig = md.digest(shingles.get(s).getBytes("UTF-8"))
      // first 15 hex chars = 60 bits: bytes 0..6 full + high nibble of byte 7
      var h = 0L
      var i = 0
      while (i < 7) { h = (h << 8) | (dig(i) & 0xffL); i += 1 }
      h = (h << 4) | ((dig(7) & 0xf0L) >> 4)
      val h0 = h % Prime
      var k = 0
      while (k < numHashes) {
        val hk = ((2L * k + 1L) * h0 + k * 104729L) % Prime
        if (hk < mins(k)) mins(k) = hk
        k += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashFns {
  import org.apache.spark.sql.graftbridge.Bridge

  def minhashSignature(text: Column, numHashes: Int = 16): Column =
    Bridge.column(MinHashSignature(Bridge.expression(text), numHashes))

  def shingleSet(text: Column): Column =
    Bridge.column(ShingleSet(Bridge.expression(text)))
}
