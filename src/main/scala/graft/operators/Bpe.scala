package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.{BpeCore, BpeFns}
import graft.functions.TextFns._

/** Token-accurate (BPE-style) tokenization for the sequence-shaping
  * operators. [[Sequencing.packSequences]]/[[Sequencing.chunkTokens]]
  * budget by WHITESPACE tokens; a training-data pipeline packs by
  * MODEL-TOKENIZER tokens — whitespace counts under-budget every
  * multi-token word (SequencingSpec pins a doc where the two provably
  * differ). This module supplies the tokenizer:
  *
  *  - [[trainMerges]]: classic BPE training, Spark-first where it
  *    scales and driver-local where the data is provably tiny. BPE
  *    training operates on the word-FREQUENCY dictionary, not the
  *    corpus (Sennrich et al. 2016, "Neural Machine Translation of
  *    Rare Words with Subword Units" — public algorithm): ONE
  *    distributed job builds the dict (tokenize → count → top-K by
  *    (count, word), a K-bounded collect like the ANN centroid
  *    collects), then the merge loop runs over the ≤`maxVocab`-entry
  *    dict on the driver. At 100 TB the dict job is the only part that
  *    touches the corpus; the loop's cost is vocab-sized, not
  *    corpus-sized.
  *  - [[FixtureMerges]]: the committed table `trainMerges` produces on
  *    the sf0.001 documents fixture (32 merges; regenerate with
  *    `trainMerges(docs, 32)` — SequencingSpec asserts the equality, so
  *    the constant cannot drift from the trainer). Fixed and committed
  *    because the DuckDB oracle must replay the SAME table: the merge
  *    list is inlined into the oracle SQL from this one constant.
  *  - [[tokens]]: the apply side — [[graft.functions.BpeTokens]], one
  *    narrow per-row pass with the table inside the serialized
  *    expression and a per-thread word memo. No shuffle, no join, no
  *    explode; scan-speed like the other fused text expressions.
  *
  * q64 packs by BPE token counts (q46's blocked prefix sum, unchanged
  * shape); q65 chunks the BPE token stream (q47's narrow explode). Both
  * are FULL-hash oracle-gated: the DuckDB side re-tokenizes every
  * distinct word with a recursive CTE replaying the merge loop
  * one-merge-per-step ([[graft.functions.BpeCore]] states why that
  * equals textbook BPE for trained tables), then reassembles per-doc
  * counts/streams.
  */
object Bpe {

  /** Driver-side dict cap for training — the same K-bounded-collect
    * budget as the component fixpoint's frontier cap. Top-K by corpus
    * frequency: the words BPE merges actually optimize for; the long
    * tail beyond K contributes only already-covered character pairs. */
  val TrainMaxVocab: Int = 4096

  /** Merges in the committed fixture table. Deliberately small enough
    * that frequent words stay MULTI-token (22 of the 31 fixture-vocab
    * words do) — a table that fully merges the vocab would make BPE
    * counts collapse back to whitespace counts and the q64/q46 contrast
    * vacuous. */
  val FixtureMergeCount: Int = 32

  /** `trainMerges(Tables.documents(spark, sf0.001), 32)` — committed so
    * the oracle SQL and the engine share one table (provenance pinned
    * by SequencingSpec re-training it). */
  val FixtureMerges: Vector[(String, String)] = Vector(
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
    ("a", "n"), ("c", "an"), ("s", "can"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("s", "ort"), ("par", "t"), ("u", "p"), ("a", "g"), ("ag", "g"),
    ("a", "lu"), ("alu", "e"), ("v", "alue"), ("in", "e"))

  /** BPE token sequence of a text column under [[FixtureMerges]]. */
  def tokens(text: Column): Column = BpeFns.bpeTokens(text, FixtureMerges)

  /** BPE token COUNT of a text column — `size` over the fused tokenizer
    * (the array is per-row transient; nothing wider materializes). */
  def tokenCount(text: Column): Column =
    size(tokens(text)).cast("long")

  /** Replace all non-overlapping (l, r) occurrences left-to-right — the
    * training-loop application of ONE merge. */
  private def applyMerge(toks: Vector[String], l: String,
      r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i < toks.length - 1 && toks(i) == l && toks(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** Train a BPE merge table on `docs`. One distributed job (word
    * frequencies, top-`maxVocab` by (count DESC, word ASC) — the
    * deterministic total order that makes training reproducible), then
    * the classic merge loop on the driver-local dict: count adjacent
    * token pairs weighted by word frequency (positional/overlapping
    * count, as in the reference algorithm), merge the most frequent
    * pair (ties to the lexicographically smallest), stop at `nMerges`
    * merges or when the best pair occurs fewer than 2 times. */
  def trainMerges(docs: DataFrame, nMerges: Int,
      maxVocab: Int = TrainMaxVocab): Vector[(String, String)] = {
    val vocab: Array[(String, Long)] = docs
      .select(explode(wsTokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxVocab)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val dict = scala.collection.mutable.LinkedHashMap(
      vocab.map { case (w, _) =>
        // code-point split, same contract as BpeCore.charTokens —
        // training and apply must agree on what a base token is
        import scala.jdk.CollectionConverters._
        w -> BpeCore.charTokens(w).asScala.toVector
      }.toSeq: _*)
    val freq = vocab.toMap
    val merges = Vector.newBuilder[(String, String)]
    var m = 0
    var go = true
    while (go && m < nMerges) {
      val stats = scala.collection.mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (w, toks) =>
        val f = freq(w)
        var i = 0
        while (i < toks.length - 1) {
          val p = (toks(i), toks(i + 1))
          stats.update(p, stats.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      if (stats.isEmpty) go = false
      else {
        val bestC = stats.valuesIterator.max
        if (bestC < 2) go = false
        else {
          val pair = stats.iterator.collect {
            case (p, c) if c == bestC => p }.min
          merges += pair
          dict.mapValuesInPlace((_, toks) =>
            applyMerge(toks, pair._1, pair._2))
          m += 1
        }
      }
    }
    merges.result()
  }

  // ---- SparkEntry wiring -------------------------------------------------

  def qBpePack(s: SparkSession, d: String): DataFrame =
    Sequencing.packSequences(Tables.documents(s, d),
      nTokens = tokenCount(col("text")))

  def qBpeChunk(s: SparkSession, d: String): DataFrame =
    Sequencing.chunkTokensOf(Tables.documents(s, d), tokens(col("text")))

  /** q67: subword-vocabulary statistics — per BPE token, corpus
    * occurrences and document frequency, top-K by occurrences. The
    * post-training sanity check every tokenizer pipeline runs (are
    * merges covering the corpus? which subwords dominate?). Scale
    * shape: the explode is narrow (~tokens-per-doc fan-out at
    * scan-speed), the aggregate keys on TOKEN — cardinality bounded by
    * the merge table's closure over the alphabet, so map-side partials
    * absorb the volume — and the top-K is TakeOrderedAndProject, never
    * a global sort. */
  val VocabTopK = 200

  def qBpeVocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(VocabTopK)

  val qBpeVocabSql: String =
    s"""$oracleBpePrelude
       |SELECT tok AS token, COUNT(*)::BIGINT AS n_occurrences,
       |       COUNT(DISTINCT doc_id)::BIGINT AS n_docs
       |FROM (SELECT d.doc_id, unnest(wt.toks) AS tok
       |      FROM docw d JOIN wt USING (w))
       |GROUP BY 1 ORDER BY n_occurrences DESC, token LIMIT $VocabTopK""".stripMargin

  /** `(rank, l, r)` VALUES rows for the oracle's merge relation —
    * generated from [[FixtureMerges]], the single source of truth. The
    * fixture tokens are ASCII letters; quoting is still escaped for
    * safety should the table ever be retrained on a quote-bearing
    * corpus. */
  private def mergesValues: String = FixtureMerges.zipWithIndex.map {
    case ((l, r), i) =>
      s"($i, '${l.replace("'", "''")}', '${r.replace("'", "''")}')"
  }.mkString(", ")

  /** The shared oracle prelude: replay the merge loop over every
    * DISTINCT corpus word with a recursive CTE — one lowest-ranked
    * leftmost merge per step, exactly [[graft.functions.BpeCore]]'s
    * rule — terminating each word at the state where no adjacent pair
    * is in the table. `wt` = (word, terminal token list). `src` is the
    * (doc_id, lang, text) source relation — `documents` for q64/q65/
    * q67, the documents∪unicode-fixture union for q72. DuckDB's
    * `regexp_split_to_array(w, '')` splits into Unicode CHARACTERS,
    * which is the engine's code-point contract
    * ([[graft.functions.BpeCore.charTokens]]). */
  private def oracleBpePreludeFrom(src: String): String =
    s"""WITH RECURSIVE
       |merges(rank, l, r) AS (VALUES $mergesValues),
       |mt AS (SELECT list(l || chr(1) || r ORDER BY rank) AS pairs FROM merges),
       |bsrc AS ($src),
       |words AS (
       |  SELECT DISTINCT w FROM (
       |    SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |                              t -> t <> '')) AS w
       |    FROM bsrc)),
       |bpe AS (
       |  SELECT w, regexp_split_to_array(w, '') AS toks FROM words
       |  UNION ALL
       |  SELECT w, list_slice(toks, 1, p - 1) || [toks[p] || toks[p + 1]] ||
       |            list_slice(toks, p + 2, len(toks)) AS toks
       |  FROM (
       |    SELECT w, toks, list_position(rk, list_min(rk)) AS p, list_min(rk) AS b
       |    FROM (SELECT w, toks,
       |            list_transform(range(1, len(toks)::BIGINT),
       |              i -> nullif(list_position(pairs,
       |                     toks[i::INT] || chr(1) || toks[(i + 1)::INT]), 0)) AS rk
       |          FROM bpe, mt))
       |  WHERE b IS NOT NULL),
       |wt AS (
       |  SELECT w, toks FROM bpe, mt
       |  WHERE len(toks) <= 1 OR list_min(
       |    list_transform(range(1, len(toks)::BIGINT),
       |      i -> nullif(list_position(pairs,
       |             toks[i::INT] || chr(1) || toks[(i + 1)::INT]), 0))) IS NULL),
       |docw AS (
       |  SELECT doc_id, lang, unnest(ws) AS w, unnest(range(len(ws))) AS i
       |  FROM (SELECT doc_id, lang,
       |          list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |                      t -> t <> '') AS ws
       |        FROM bsrc))""".stripMargin

  /** The corpus-table instantiation (q64/q65/q67). */
  private def oracleBpePrelude: String =
    oracleBpePreludeFrom("SELECT doc_id, lang, text FROM documents")

  /** q46's oracle with BPE token counts: per-doc count = Σ per-word
    * terminal token counts over word INSTANCES, then the identical
    * per-lang running-sum bin assignment. */
  val qBpePackSql: String =
    s"""$oracleBpePrelude,
       |dtok AS (
       |  SELECT d.doc_id, d.lang, SUM(len(wt.toks))::BIGINT AS n_tokens
       |  FROM docw d JOIN wt USING (w) GROUP BY 1, 2),
       |alltok AS (
       |  SELECT doc_id, lang, coalesce(n_tokens, 0)::BIGINT AS n_tokens
       |  FROM (SELECT doc_id, lang FROM documents) LEFT JOIN dtok USING (doc_id, lang))
       |SELECT doc_id, lang, n_tokens,
       |       ((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |         - n_tokens) // ${Sequencing.PackBudget})::BIGINT AS seq_bin
       |FROM alltok ORDER BY doc_id""".stripMargin

  /** q47's oracle over the BPE token stream: per-doc ordered token list
    * (word-order flatten of terminal token lists), then the identical
    * stride/slice chunking with md5 chunk hashes. */
  val qBpeChunkSql: String =
    s"""$oracleBpePrelude,
       |dtoks AS (
       |  SELECT doc_id, flatten(list(toks ORDER BY i)) AS toks
       |  FROM (SELECT d.doc_id, d.i, wt.toks FROM docw d JOIN wt USING (w))
       |  GROUP BY doc_id),
       |alldocs AS (
       |  SELECT d.doc_id, coalesce(t.toks, []) AS toks
       |  FROM (SELECT doc_id FROM documents) d LEFT JOIN dtoks t USING (doc_id)),
       |c AS (
       |  SELECT doc_id, toks,
       |         unnest(range(0, greatest(len(toks) - 1, 0) + 1, ${Sequencing.ChunkStride})) AS s
       |  FROM alldocs)
       |SELECT doc_id,
       |       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_id,
       |       len(list_slice(toks, (s + 1)::INT, (s + ${Sequencing.ChunkSize})::INT))::BIGINT AS chunk_len,
       |       md5(array_to_string(list_slice(toks, (s + 1)::INT, (s + ${Sequencing.ChunkSize})::INT), ' ')) AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** The q72 unicode fixture: inputs outside the trained (ASCII)
    * alphabet — accents, CJK, Cyrillic, non-BMP emoji (surrogate
    * pairs), whitespace-only and empty docs — under ids disjoint from
    * the corpus (≥ 10^6). The CONTRACT being pinned
    * ([[graft.functions.BpeCore.charTokens]]): initial tokens are
    * Unicode code points, untrained characters fall through as
    * single-code-point tokens, trained merges still apply to the ASCII
    * substrings around them. */
  val UnicodeFixture: Seq[(Long, String)] = Seq(
    (1000000L, "der Wärter sortiert Porter"),
    (1000001L, "机器 学习 模型 训练 数据"),
    (1000002L, "смысл порядок значение"),
    (1000003L, "🙂 emoji 🚀🚀 rockets can scan"),
    (1000004L, "naïve café order sort value"),
    (1000005L, ""),
    (1000006L, "   whitespace   only   pad   "))

  /** q72: the tokenizer's positional token stream over real corpus rows
    * UNION the unicode fixture — full-hash oracle over (doc_id, pos,
    * token), so the code-point contract is driver-gated, not just
    * spec-asserted. Corpus rows are capped (doc_id < 40) because the
    * per-token relation is q65's granularity and the contract, not
    * volume, is what this query pins. */
  def qBpeUnicode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, d).filter(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
      .unionByName(UnicodeFixture.toDF("doc_id", "text"))
    src.select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
  }

  /** The fixture rows as SQL literals (single quotes escaped; the
    * strings are UTF-8 in both the Scala source and the rendered SQL,
    * so engine and oracle tokenize byte-identical text). `lang` is a
    * placeholder — the prelude's docw carries it but q72 never selects
    * it. */
  private def unicodeFixtureValues: String = UnicodeFixture.map {
    case (id, text) => s"($id, 'xx', '${text.replace("'", "''")}')"
  }.mkString(", ")

  val qBpeUnicodeSql: String =
    s"""${oracleBpePreludeFrom(
      s"""SELECT doc_id, lang, text FROM documents WHERE doc_id < 40
         |  UNION ALL SELECT * FROM (VALUES $unicodeFixtureValues) fx(doc_id, lang, text)""".stripMargin)},
       |dtoks AS (
       |  SELECT doc_id, flatten(list(toks ORDER BY i)) AS toks
       |  FROM (SELECT d.doc_id, d.i, wt.toks FROM docw d JOIN wt USING (w))
       |  GROUP BY doc_id)
       |SELECT doc_id, unnest(range(len(toks)))::BIGINT AS pos,
       |       unnest(toks) AS token
       |FROM dtoks ORDER BY doc_id, pos""".stripMargin
}
