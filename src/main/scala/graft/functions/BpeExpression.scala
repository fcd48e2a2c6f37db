package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding core shared by the tokenizing expression and the
  * trainer ([[graft.operators.Bpe]]) — one definition of the merge
  * semantics, so the trainer's dictionary and the tokenizer's output
  * cannot drift.
  *
  * The tokenize loop is the classic BPE apply, stated as a single
  * deterministic rule so the DuckDB oracle can replay it verbatim
  * (recursive CTE, one merge per step):
  *
  *   seed  = the word's Unicode CODE POINTS ([[BpeCore.charTokens]]: a
  *           non-BMP emoji is ONE token, never two surrogate halves —
  *           DuckDB's character split agrees; pinned by q72)
  *   step  = among all ADJACENT token pairs present in the merge table,
  *           take the LOWEST-RANKED one and merge its LEFTMOST
  *           occurrence
  *   stop  = no adjacent pair is in the table
  *
  * One-occurrence-per-step equals the textbook all-occurrences-per-rank
  * application for any table produced by BPE TRAINING: a merge can only
  * create pairs involving its new (longer) token, and every pair
  * involving a token is necessarily ranked AFTER the merge that created
  * the token — so the minimum present rank never decreases mid-word and
  * the single-merge loop consumes occurrences in exactly the textbook
  * left-to-right order. (For an arbitrary hand-written table the two
  * formulations could differ; both engine and oracle implement THIS one.)
  */
object BpeCore {

  /** Rank lookup key — \u0001-separated so ("ab","c") and ("a","bc")
    * cannot alias; \u0001 never appears inside a whitespace-split word of
    * these corpora (and the oracle uses the same chr(1) seam). */
  @inline private[graft] def pairKey(l: String, r: String): String =
    l + "\u0001" + r

  /** Merge-table ranks keyed by [[pairKey]]; rank = training order.
    * Boxed Integer values ON PURPOSE: a `HashMap[String, Int]` in Scala
    * unboxes misses to 0 — every unknown pair would read as rank 0 and
    * the tokenizer would merge everything (caught by the q64 oracle). */
  def ranksOf(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      m.put(pairKey(l, r), Integer.valueOf(i)) }
    m
  }

  /** The OOV/non-ASCII contract: a word's initial tokens are its
    * Unicode CODE POINTS — not UTF-16 code units — so a non-BMP
    * character (emoji, supplementary CJK) enters as ONE token, never a
    * lone surrogate pair half. Characters outside the trained alphabet
    * simply find no merge and fall through as single-code-point tokens.
    * This matches the oracle side exactly (DuckDB's
    * `regexp_split_to_array(w, '')` splits into Unicode characters) —
    * pinned by the q72 unicode fixture and SequencingSpec's contract
    * test. */
  def charTokens(word: String): java.util.ArrayList[String] = {
    val toks = new java.util.ArrayList[String](word.length)
    var c = 0
    while (c < word.length) {
      val n = Character.charCount(word.codePointAt(c))
      toks.add(word.substring(c, c + n))
      c += n
    }
    toks
  }

  /** BPE tokens of one whitespace-free word under `ranks`. Empty input
    * yields zero tokens. */
  def tokenizeWord(word: String,
      ranks: java.util.HashMap[String, Integer]): Array[String] = {
    val toks = charTokens(word)
    var done = toks.size() <= 1
    while (!done) {
      var best = Int.MaxValue
      var pos = -1
      var i = 0
      while (i < toks.size() - 1) {
        val r = ranks.get(pairKey(toks.get(i), toks.get(i + 1)))
        if ((r ne null) && r.intValue < best) { best = r.intValue; pos = i }
        i += 1
      }
      if (pos < 0) done = true
      else {
        toks.set(pos, toks.get(pos) + toks.get(pos + 1))
        toks.remove(pos + 1)
        if (toks.size() <= 1) done = true
      }
    }
    val out = new Array[String](toks.size())
    toks.toArray(out)
    out
  }

  private val MemoCap = 1 << 16

  /** Tokenize a full document: whitespace pre-tokenization (the same
    * `split(trim(text), "\\s+")` contract as [[TextFns.wsTokens]], with
    * empty words dropped), per-word BPE, concatenated in word order.
    * `memo` caches per-word results — natural-language corpora repeat
    * words heavily, so the amortized cost per word is a hash probe; the
    * cap bounds executor memory on adversarial (all-distinct) corpora. */
  def tokenizeDoc(text: String, ranks: java.util.HashMap[String, Integer],
      memo: java.util.HashMap[String, Array[String]]): Array[String] = {
    val words = text.trim.split("\\s+")
    val out = new java.util.ArrayList[String](words.length * 2)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty) {
        var toks = memo.get(w)
        if (toks == null) {
          toks = tokenizeWord(w, ranks)
          if (memo.size() >= MemoCap) memo.clear()
          memo.put(w, toks)
        }
        var j = 0
        while (j < toks.length) { out.add(toks(j)); j += 1 }
      }
      i += 1
    }
    val arr = new Array[String](out.size())
    out.toArray(arr)
    arr
  }
}

/** `bpe_tokens(text)`: the document's BPE token sequence as
  * ARRAY<STRING>, in ONE narrow per-row pass — no join, no shuffle, no
  * per-word explode. The merge table travels INSIDE the serialized
  * expression (a few KB for typical tables; the plan broadcast is the
  * "broadcast merge table"), and each executor thread memoizes per-word
  * tokenizations, so the hot path is a hash probe per word.
  *
  * CodegenFallback like the sibling fused expressions
  * ([[MinHashSignature]]): the expression is evaluated once per row and
  * all work is inside the hand-written loop — whole-stage codegen
  * granularity buys nothing.
  */
case class BpeTokens(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bpe_tokens expects string, got ${child.dataType.catalogString}")

  @transient private lazy val ranks = BpeCore.ranksOf(merges)

  // per-thread memo: expression instances can be shared across task
  // threads after deserialization; a ThreadLocal keeps the cache
  // contention-free without locking the hot path
  @transient private lazy val memo =
    ThreadLocal.withInitial[java.util.HashMap[String, Array[String]]](() =>
      new java.util.HashMap[String, Array[String]]())

  override protected def nullSafeEval(input: Any): Any = {
    val toks = BpeCore.tokenizeDoc(
      input.asInstanceOf[UTF8String].toString, ranks, memo.get())
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < out.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeFns {
  import org.apache.spark.sql.graftbridge.Bridge

  def bpeTokens(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeTokens(Bridge.expression(text), merges))
}
